package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Test oracles for [[Dedup]]: the declarative higher-order-function
  * formulations the native sketch expressions must equal bit-for-bit
  * (SketchExpressionsSpec), and a text-to-candidates helper over the
  * production candidate generator `Dedup.candidatesFromSigs` (DedupSpec).
  * Not used by any main code.
  */
object DedupReference {

  /** Word n-gram shingles (array<string>) of the whitespace tokens. */
  def wordShingles(textCol: Column, n: Int): Column = {
    val tokens = split(textCol, " ")
    when(size(tokens) >= n,
      transform(sequence(lit(0), size(tokens) - n),
        i => array_join(slice(tokens, i + 1, lit(n)), " ")))
      .otherwise(array(textCol))
  }

  /** MinHash signature (array<bigint> of length k) over a shingle array.
    * Hash family: two xxhash64 draws per shingle combined by bit rotation —
    * h_j(s) = h1(s) XOR rot(h2(s), j) — the standard two-hash construction,
    * ANSI-safe (no overflowing arithmetic) and k/2 x fewer hash evaluations
    * than one xxhash64 per (shingle, j). One pass, map-local. */
  def minhashSignatureDeclarative(shinglesCol: Column, k: Int): Column = {
    // hash each shingle exactly twice (materialized via the struct array so
    // Catalyst cannot re-evaluate xxhash64 inside the k-wide inner loop)
    val hashed = transform(shinglesCol,
      s => struct(xxhash64(s, lit(1)).as("h1"), xxhash64(s, lit(2)).as("h2")))
    aggregate(
      hashed,
      transform(sequence(lit(1), lit(k)), _ => lit(Long.MaxValue)),
      (acc, h) =>
        zip_with(
          acc,
          transform(sequence(lit(1), lit(k)), j => {
            val rot = call_function("shiftrightunsigned", h.getField("h2"), j)
              .bitwiseOR(call_function("shiftleft", h.getField("h2"), lit(64) - j))
            h.getField("h1").bitwiseXOR(rot)
          }),
          (a, b) => least(a, b)))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit vote of xxhash64(token),
    * folded into one bigint — the formulation `Dedup.simhash` replays. */
  def simhashDeclarative(textCol: Column): Column = {
    // hash each token once; the 64-bit vote loop then only shifts
    val tokenHashes = transform(split(textCol, " "), t => xxhash64(t))
    val votes = aggregate(
      tokenHashes,
      transform(sequence(lit(0), lit(63)), _ => lit(0L)),
      (acc, h) => zip_with(
        acc,
        transform(sequence(lit(0), lit(63)),
          b => when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Oracle-portable simhash: the same per-bit vote, but the per-token hash
    * is the top 60 bits of md5(token) — expressible in ANSI SQL
    * (`CAST('0x' || substring(md5(t),1,15) AS BIGINT)`), unlike xxhash64.
    * 60 bits so the value stays positive in a signed BIGINT on both
    * engines. The native `SketchKernel.simhashMd5` kernel behind
    * `Dedup.simhashPairsPortable` replays it (q18). */
  def simhashMd5Declarative(textCol: Column, nBits: Int = 60): Column = {
    val tokenHashes = transform(split(textCol, " "),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val votes = aggregate(
      tokenHashes,
      transform(sequence(lit(0), lit(nBits - 1)), _ => lit(0L)),
      (acc, h) => zip_with(
        acc,
        transform(sequence(lit(0), lit(nBits - 1)),
          b => when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(nBits - 1)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Banded-LSH candidate pairs (id_a < id_b) straight from text: the
    * (id, sig) minhash table, checkpointed once, fed to
    * `Dedup.candidatesFromSigs` — the generator `Dedup.ngramJaccardPairs`
    * runs over its stored shingle hashes. */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
                           shingleWords: Int, k: Int, bands: Int,
                           maxBlock: Long = Dedup.DefaultMaxBlock): DataFrame =
    Dedup.candidatesFromSigs(
      graft.exec.Exec.checkpoint(df.select(
        col(idCol).as("id"),
        graft.functions.SketchFunctions.minhashSig(col(textCol), shingleWords, k).as("sig"))),
      k, bands, maxBlock)
}
