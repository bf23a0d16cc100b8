package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Natives
import graft.exec.Exec

/** TF-IDF document-frequency statistics — the standard distinctive-term /
  * quality signal for web-corpus curation (the one filter primitive the
  * pipeline lacked after repetition/boilerplate/PII).
  *
  * Deliberately INTEGER-formulated: no log(), no floating-point scores —
  * rarity is expressed as the exact predicate `df * 1_000_000 <=
  * n_docs * maxDfPpm` and ranking is the total order (df asc, tf desc,
  * md5(token) asc), so any engine reproduces the result bit-for-bit
  * (q51's DuckDB oracle; cross-engine log() differs in ulps and ordering
  * by raw token strings differs by collation — md5 hex order is
  * collation-free).
  *
  * Scale shape (the whole point vs the naive explode + groupBy(token) +
  * join plan, whose every exchange carries token strings):
  *  1. per-doc term frequencies are MAP-ONLY via the native `token_tf`
  *     expression (each document's counts collapse inside its own row —
  *     no (id, token)-keyed shuffle to count);
  *  2. the doc-frequency aggregate and the rarity filter + per-doc
  *     ranking run entirely in (id, md5, tf, df) space — every counting /
  *     ranking exchange carries 16-byte hashes and longs, never text;
  *  3. token strings cross the wire exactly ONCE, in the final
  *     assembly join that is itself the output (the stripBoilerplate
  *     rule: payloads ride a shuffle only to be returned, never to be
  *     counted). PlanSpec walks the physical plan and asserts it.
  */
object TfIdf {

  /** (id, token, tf) — one row per distinct non-empty token per document,
    * map-only (zero shuffles; PlanSpec-asserted). Null texts yield no
    * rows. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(Natives.tokenTf(Seq(col(textCol)))).as("t"))
      .select(col("id"), col("t.token").as("token"), col("t.tf").as("tf"))

  /** Top-k most DISTINCTIVE terms per document: among tokens appearing in
    * at most `maxDfPpm` parts-per-million of documents (stopword
    * exclusion), rank by (df asc — rarest first, tf desc — then most
    * frequent in THIS doc, md5 asc — engine-portable tiebreak) and keep
    * ranks 1..k.
    *
    * Output: (id, rnk, token, tf, df), rnk in [1, k].
    *
    * The COMPACT (id, md5, tf) frame is checkpointed (three
    * consumers; ~40 bytes/row, no strings) instead of re-running the
    * tokenize pass per consumer; the final assembly join re-streams the
    * map-only term-frequency pass either way, so document text is never
    * stored twice. */
  def distinctiveTerms(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 5, maxDfPpm: Long = 500000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxDfPpm > 0 && maxDfPpm <= 1000000L,
      s"maxDfPpm must lie in (0, 1000000], got $maxDfPpm")
    val tf = termFrequencies(df, idCol, textCol)
    // compact space: strings dropped before ANY exchange, and the md5
    // identity rides as 16 raw bytes (unhex) rather than the 32-char hex
    // string — same identity, half the key bytes on every counting and
    // ranking exchange (r6, guide §2.3). The semi join against the
    // checked anchor makes duplicate ids loud (copies would inflate df
    // counts and interleave in the per-doc ranking)
    val tfc = Exec.checkpoint(
      tf.select(col("id"), unhex(md5(col("token"))).as("tk"), col("tf"))
        .join(Exec.checkedIdAnchor(df, idCol, "TfIdf.distinctiveTerms"), Seq("id"), "left_semi"))
    // tf has one row per distinct (doc, token) => count(*) IS the doc freq
    val dfreq = tfc.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    // corpus size as a 1-row frame (broadcast), not a separate driver
    // action over the checkpointed frame
    val nRow = tfc.agg(countDistinct(col("id")).as("n_docs"))
    val wDoc = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("tf").desc, col("tk").asc)
    val winners = tfc
      .join(dfreq, Seq("tk"))
      .crossJoin(broadcast(nRow))
      .where(col("df") * lit(1000000L) <= col("n_docs") * lit(maxDfPpm))
      .withColumn("rnk", row_number().over(wDoc).cast("long"))
      .where(col("rnk") <= k)
      .select(col("id"), col("tk"), col("rnk"), col("tf"), col("df"))
    // assembly: recover token strings by (id, md5) — the single
    // string-carrying exchange, and it IS the output
    winners
      .join(tf.select(col("id"), unhex(md5(col("token"))).as("tk"), col("token")), Seq("id", "tk"))
      .select(col("id"), col("rnk"), col("token"), col("tf"), col("df"))
  }

  /** Per-document RARE-TOKEN ratio: the share (ppm) of a document's token
    * occurrences whose corpus doc-frequency is <= `maxDf` — the
    * OOV/typo/gibberish quality signal (the integer-formulated inverse of
    * Gopher's common-words check: a clean document is mostly tokens the
    * corpus has seen; a near-all-rare document is noise, boilerplate hash
    * soup, or another language).
    *
    * Output: (id, n_tokens, n_rare, rare_ppm) — n_tokens counts token
    * OCCURRENCES (not distinct), rare_ppm = n_rare * 1e6 div n_tokens
    * (pure integer, cross-engine exact), null-text docs report (0, 0, 0).
    *
    * Fully compact plan: the map-only `token_tf` pass drops strings
    * before ANY exchange and the output carries no strings at all — every
    * shuffle in this operator moves (md5, long) rows. */
  def rareTokenStats(df: DataFrame, idCol: String, textCol: String,
                     maxDf: Long = 1L): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val tfc = termFrequencies(df, idCol, textCol)
      .select(col("id"), unhex(md5(col("token"))).as("tk"), col("tf"))
    val dfreq = tfc.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val stats = tfc.join(dfreq, Seq("tk"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("df") <= maxDf, col("tf")).otherwise(0L)).as("n_rare"))
    // loud on duplicate ids (copies would silently merge token streams)
    Exec.checkedIdAnchor(df, idCol, "TfIdf.rareTokenStats")
      .join(stats, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        when(col("n_tokens") > 0,
          expr("n_rare * 1000000 div n_tokens")).otherwise(lit(0L)).as("rare_ppm"))
  }
}
