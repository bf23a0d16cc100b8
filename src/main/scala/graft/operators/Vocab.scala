package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions
import graft.exec.Exec

/** Tokenizer-vocabulary construction and corpus encoding — the step a
  * pretraining pipeline runs between curation and tensorization: freeze a
  * frequency-ranked token vocabulary over the corpus, then rewrite every
  * document as its id sequence. Both halves are integer/byte-exact (rank
  * ties break on the raw token bytes, ids are dense longs), so the
  * vocabulary and every encoded document are reproducible bit-for-bit
  * under any partitioning — the dataset-freeze property hash-split labels
  * (q71) give at the document level, extended to the token level.
  */
object Vocab {

  /** Frequency-ranked vocabulary: the `vocabSize` most frequent tokens by
    * corpus OCCURRENCE count (not doc frequency), ids dense from 1 in
    * (cnt desc, token asc) order — id 0 is reserved for OOV/padding, the
    * tokenizer convention [[encode]] relies on. Tokens below `minCnt`
    * occurrences are excluded before ranking (the standard rare-token
    * cut; they would only pin ids to hapaxes).
    *
    * Output: (vid, token, cnt), vid in [1, vocabSize].
    *
    * Scale shape: per-doc term frequencies are MAP-ONLY via the native
    * `token_tf` (strings collapse in-row before any exchange); the global
    * count groups by md5(token) with the string riding as the one
    * representative per key.
    * The top-`vocabSize` cut is a TakeOrdered (per-partition top-V,
    * merged once — never a global sort of the vocabulary), and only the
    * id assignment itself is a single-partition window, over a frame the
    * `vocabSize` parameter has already bounded (a tokenizer vocab is
    * 10^4..10^6 rows — driver-scale by definition, not corpus-scale). */
  def build(df: DataFrame, idCol: String, textCol: String,
            vocabSize: Int, minCnt: Long = 1L): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    require(minCnt >= 1L, s"minCnt must be >= 1, got $minCnt")
    val counts = TfIdf.termFrequencies(df, idCol, textCol)
      .groupBy(md5(col("token")).as("tk"))
      .agg(min(col("token")).as("token"), sum(col("tf")).as("cnt"))
      .where(col("cnt") >= minCnt)
    val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(vocabSize)
    top
      .withColumn("vid", row_number()
        .over(Window.orderBy(col("cnt").desc, col("token").asc)).cast("long"))
      .select(col("vid"), col("token"), col("cnt"))
  }

  /** Encode every document as its token-id sequence against a frozen
    * vocabulary frame (any (token, vid) mapping — [[build]]'s output or
    * an external table): tokens of the single-space split in order,
    * empties dropped (the `token_tf` convention), vocabulary misses
    * mapped to `oovId`.
    *
    * Output: (id, n_tokens, ids:array<long>) — `ids` is NULL for
    * documents with null text or no tokens (the SQL `list()` over zero
    * rows convention), `n_tokens` is 0 there. Ids must be unique
    * (checked anchor — duplicate ids would interleave two documents'
    * token streams into one array).
    *
    * Scale shape: tokenization is the native positional `token_chunks`
    * explode (map-only); the vocabulary joins BROADCAST md5-keyed (a
    * vocab is bounded by construction — [[build]]'s `vocabSize` cap), so
    * token strings never cross an exchange: the per-doc reassembly
    * shuffle carries (id, pos-int, vid-long) triples, and each document
    * collapses to one array row on its own id's partition. */
  def encode(df: DataFrame, idCol: String, textCol: String,
             vocab: DataFrame, oovId: Long = 0L): DataFrame = {
    val toks = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(SketchFunctions.tokenChunks(col(textCol), 1, 1)).as("t"))
      .select(col("id"), col("t.chunk_idx").as("pos"), col("t.chunk").as("token"))
      .where(col("token") =!= "")
    val vids = toks
      .withColumn("tk", md5(col("token"))).drop("token")
      .join(broadcast(vocab.select(md5(col("token")).as("tk"), col("vid"))),
        Seq("tk"), "left")
      .select(col("id"), col("pos"), coalesce(col("vid"), lit(oovId)).as("vid"))
    val agg = vids.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("vid")))).as("pv"))
      .select(col("id"), size(col("pv")).cast("long").as("n_tokens"),
        col("pv.vid").as("ids"))
    Exec.anchorLeftJoin(
        Exec.checkedIdAnchor(df, idCol, "Vocab.encode"), agg)
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("ids"))
  }
}
