package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test oracle: the declarative higher-order-function formulations that the
  * native [[TextAnalysis]] expressions (`bpeTokenEstimate`, `qualityScore`,
  * `fingerprint`, `fingerprintMd5`, `tokenChunks`) must equal bit-for-bit
  * (SketchExpressionsSpec). Not used by any main code.
  */
object TextAnalysisReference {

  def bpeTokenEstimateDeclarative(textCol: Column): Column =
    aggregate(transform(split(textCol, " "), t => ceil(length(t).cast("double") / 4.0d).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** The declarative formulation the native expression replays IEEE-op by
    * IEEE-op — and the shape every DuckDB oracle recomputes. */
  def qualityScoreDeclarative(textCol: Column): Column = {
    val lenScore = least(length(textCol).cast("double") / lit(500.0d), lit(1.0d))
    (lenScore * lit(0.4d)) +
      (least(TextAnalysis.stopRatioCol(textCol) * lit(5.0d), lit(1.0d)) * lit(0.3d)) +
      ((lit(1.0d) - least(TextAnalysis.nonAlnumRatioCol(textCol) * lit(5.0d), lit(1.0d))) * lit(0.3d))
  }

  /** The declarative (interpreted-HOF) formulation the native expression is
    * verified against. ANSI-safe — no overflowing arithmetic. */
  def fingerprintDeclarative(textCol: Column): Column =
    aggregate(transform(split(textCol, " "), t => xxhash64(t)),
      lit(1469598103934665603L), (acc, h) => xxhash64(acc, h))

  def fingerprintMd5Declarative(textCol: Column): Column =
    aggregate(transform(split(textCol, " "), t => md5(t)),
      lit(""), (acc, h) => md5(concat(acc, h)))

  /** The declarative HOF formulation the native expression is verified
    * against — and the reason the native one exists: `slice(split(...))`
    * sits INSIDE the transform lambda, and interpreted HOFs re-evaluate it
    * per chunk (no CSE), i.e. O(len^2/stride) per document. */
  def tokenChunksDeclarative(textCol: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val tokens = split(textCol, " ")
    transform(
      sequence(lit(0), floor((org.apache.spark.sql.functions.size(tokens) - lit(1)) / lit(stride)).cast("int")),
      i => struct(i.as("chunk_idx"),
        array_join(slice(tokens, i * stride + 1, lit(size)), " ").as("chunk")))
  }
}
