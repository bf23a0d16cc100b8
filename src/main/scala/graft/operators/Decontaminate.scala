package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{BloomFunctions, Natives}
import graft.exec.Exec

/** Test-set decontamination: flag corpus documents that share at least
  * `minOverlap` distinct word n-gram shingles with ANY benchmark document —
  * the standard pretraining-hygiene pass (GPT-3's 13-gram filter, The
  * Pile's overlap audit) that keeps evaluation sets out of training data.
  *
  * Scale shape: shingles are md5 hex of the chunk text, generated by the
  * native `token_chunks` expression with stride 1 (ONE pass per document —
  * the declarative slice-in-lambda formulation re-splits the text per
  * shingle, O(len^2)); every exchange after the map-side explode carries
  * (id, md5) or bare md5s, never text. The benchmark side reduces to a
  * distinct shingle-hash set (benchmarks are small next to a crawl; AQE
  * broadcasts it — at worst it is one compact hash-keyed shuffle). md5
  * (not xxhash64) keeps the shingle space portable to the q52 DuckDB
  * oracle AND collision-safe at web-scale shingle counts.
  */
object Decontaminate {

  /** (id, pos, sh): every full-width w-token shingle OCCURRENCE with its
    * token start position. Chunks shorter than w tokens (doc tails, docs
    * with < w tokens) are not shingles and are dropped — a 3-token doc
    * has no 13-grams to leak. Stride-1 `token_chunks` makes chunk_idx
    * exactly the shingle's token start index, which is what [[excise]]
    * needs to map a matched shingle back onto the tokens it covers. */
  def shingleOccurrences(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(Natives.tokenChunks(Seq(col(textCol)), w, 1)).as("c"))
      .where(size(split(col("c.chunk"), " ")) === w)
      .select(col("id"), col("c.chunk_idx").as("pos"), md5(col("c.chunk")).as("sh"))
  }

  /** (id, sh): each document's DISTINCT w-token shingle md5s. */
  def shingleMd5s(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    shingleOccurrences(df, idCol, textCol, w).select(col("id"), col("sh")).distinct()

  /** The benchmark reduced to its distinct shingle-hash set. */
  def benchmarkShingles(benchmark: DataFrame, idCol: String, textCol: String,
                        w: Int): DataFrame =
    shingleMd5s(benchmark, idCol, textCol, w).select(col("sh")).distinct()

  /** Bits per distinct benchmark shingle in the Bloom prefilter: ~0.9%
    * false positives at k = 7. */
  private[graft] val BitsPerShingle = 10

  /** One row per corpus document:
    * (id, n_shingles, n_matched, contaminated) — n_shingles the doc's
    * distinct shingle count, n_matched how many of them occur anywhere in
    * the benchmark, contaminated = n_matched >= minOverlap. Null-text /
    * too-short docs report 0/0/false (nothing to leak).
    *
    * Eager on the benchmark side: it is reduced once ([[prepare]]) before
    * the corpus plan is returned, and the size of that reduction picks the
    * plan. While a [[BitsPerShingle]]-bit filter over the benchmark's
    * distinct shingles fits `BloomFunctions.MaxBits` (~1.07e8 shingles),
    * the corpus is probed MAP-SIDE against the filter and only probable
    * hits reach the exact confirm join; past it, every corpus shingle
    * joins the exact set. Both plans give identical rows (a Bloom filter
    * has no false negatives, and the confirm join erases its false
    * positives), so the choice is the code's, never the caller's. */
  def flag(corpus: DataFrame, benchmark: DataFrame,
           idCol: String, textCol: String,
           w: Int = 13, minOverlap: Long = 3L): DataFrame =
    flagPrepared(corpus, prepare(benchmark, idCol, textCol, w), idCol, textCol, w, minOverlap)

  /** Reduce `benchmark` ONCE to what [[flag]] probes: one job checkpoints
    * the distinct shingle set and reads its row count as an observed
    * metric on that checkpoint; a second job builds the filter when it
    * fits (collected as one row of `numBits/8` bytes).
    * `bitsPerShingle` is set only by the forced-high-FP spec. */
  private[graft] def prepare(benchmark: DataFrame, idCol: String, textCol: String, w: Int,
                             bitsPerShingle: Int = BitsPerShingle): PreparedBenchmark = {
    val (shingles, counts) = Exec.checkpointCounted(
      benchmarkShingles(benchmark, idCol, textCol, w), "decon_bench", count(lit(1)).as("rows"))
    val n = counts.getLong(0)
    val filter =
      if (!BloomFunctions.fits(n, bitsPerShingle)) None
      else {
        val (numBits, k) = BloomFunctions.shape(n, bitsPerShingle)
        Some(shingles.agg(Natives.bloomBuild(Seq(col("sh")), numBits, k))
          .head().getAs[Array[Byte]](0))
      }
    PreparedBenchmark(shingles, n, filter)
  }

  /** [[flag]] against an already-[[prepare]]d benchmark. */
  private[graft] def flagPrepared(corpus: DataFrame, bench: PreparedBenchmark,
                                  idCol: String, textCol: String,
                                  w: Int, minOverlap: Long): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    // both sides carry the md5 identity as 16 raw bytes through their
    // exchanges (r6, guide §2.3): injective, and `sh` never reaches the
    // output
    val hits = bench.shingles.select(unhex(col("sh")).as("sh")).withColumn("hit", lit(true))
    val matched = bench.filter match {
      case Some(filterBytes) =>
        // map-side probe: one pass over each document's text; only
        // probable-hit md5s leave the row, and n_shingles rides every
        // emitted row (explode_outer keeps zero-hit and zero-shingle docs,
        // so a clean doc keeps its count)
        corpus.where(col(textCol).isNotNull)
          .select(col(idCol).as("id"),
            Natives.bloomShingleHits(Seq(col(textCol), lit(filterBytes)), w).as("p"))
          .select(col("id"), col("p.n_shingles").cast("long").as("n_shingles"),
            explode_outer(col("p.hits")).as("sh"))
          .withColumn("sh", unhex(col("sh")))
          // exact confirm: a false positive has no row in the exact set
          .join(hits, Seq("sh"), "left")
          .groupBy(col("id"))
          .agg(max(col("n_shingles")).as("n_shingles"),
            sum(when(col("hit"), 1L).otherwise(0L)).as("n_matched"))
      case None =>
        // the large-benchmark path: every distinct corpus shingle joins
        // the exact set
        shingleOccurrences(corpus, idCol, textCol, w)
          .select(col("id"), unhex(col("sh")).as("sh")).distinct()
          .join(hits, Seq("sh"), "left")
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("hit"), 1L).otherwise(0L)).as("n_matched"))
    }
    // loud on duplicate corpus ids (copies would silently merge their
    // shingle sets and cross-contaminate each other's stats); null-safe
    // anchor join — a null-id doc's matches must not silently read clean
    Exec.anchorLeftJoin(
        Exec.checkedIdAnchor(corpus, idCol, "Decontaminate.flag"), matched)
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("n_matched"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** SPAN-LEVEL decontamination: instead of dropping whole documents
    * ([[flag]]'s granularity), strike exactly the token spans that match a
    * benchmark shingle and keep the rest of the document — the
    * surgical variant for corpora too valuable to discard over one leaked
    * quote. Output per corpus document:
    * (id, n_tokens, n_spans_hit, n_kept, clean_text) — n_spans_hit counts
    * matched shingle OCCURRENCES; clean_text is NULL for a fully-excised
    * doc (every token leaked) AND for null-text docs, which report
    * (0, 0, 0, NULL); unmatched docs pass through byte-identical.
    *
    * Scale shape: the occurrence explode carries (id, pos-int, md5) —
    * never text — through the semi-join against the benchmark shingle set
    * (small; AQE broadcasts it); matched positions collapse to ONE
    * compact int-array row per affected document; text is touched exactly
    * twice, both map-side: the chunking pass and the final `excise_spans`
    * reassembly after the hits join back by id. */
  def excise(corpus: DataFrame, benchmark: DataFrame,
             idCol: String, textCol: String, w: Int = 13): DataFrame = {
    val hitsPerDoc = shingleOccurrences(corpus, idCol, textCol, w)
      .join(benchmarkShingles(benchmark, idCol, textCol, w), Seq("sh"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans_hit"),
        sort_array(collect_list(col("pos"))).as("hits"))
    exciseJoinBack(corpus, idCol, textCol, hitsPerDoc, w, "n_spans_hit",
      "Decontaminate.excise")
  }

  /** FUZZY decontamination: flag corpus documents NEAR-duplicating any
    * benchmark document — n-gram Jaccard >= minJaccard against the
    * benchmark via the bipartite LSH miner
    * ([[Dedup.ngramJaccardPairsBipartite]]). The fuzzy sibling of
    * [[flag]]'s exact shingle-overlap count: catches lightly-edited eval
    * leaks (reformatted whitespace runs, trimmed headers, near-verbatim
    * mirrors) that shift enough shingles to duck an exact-overlap
    * threshold while remaining the same document.
    *
    * Output per corpus doc: (id, n_near_matches, best_jaccard_i4,
    * contaminated) — n_near_matches the count of benchmark docs matched
    * at >= minJaccard, best_jaccard_i4 the best match's floor(j * 1e4)
    * (0 when clean), contaminated = any match. Null-text docs report
    * (0, 0, false).
    *
    * Scale shape: inherited from the miner — banded-signature bipartite
    * join (compact band keys), LEFT-side boilerplate-band cap with an
    * observed exclusion count, exact verify only on candidates; the
    * per-doc rollup is one map-side-combined aggregate keyed by corpus
    * id. */
  def flagNearDup(corpus: DataFrame, benchmark: DataFrame,
                  idCol: String, textCol: String,
                  shingleWords: Int = 3, minJaccard: Double = 0.8,
                  k: Int = 64, bands: Int = 16,
                  maxBlock: Long = Dedup.DefaultMaxBlock): DataFrame = {
    val pairs = Dedup.ngramJaccardPairsBipartite(corpus, benchmark, idCol, textCol,
      shingleWords, minJaccard, k, bands, maxBlock)
    val per = pairs.groupBy(col("id_a"))
      .agg(count(lit(1)).as("n_near_matches"),
        max(floor(col("jaccard") * 10000).cast("long")).as("best_jaccard_i4"))
      .withColumnRenamed("id_a", "id")
    Exec.anchorLeftJoin(
        Exec.checkedIdAnchor(corpus, idCol, "Decontaminate.flagNearDup"), per)
      .select(col("id"),
        coalesce(col("n_near_matches"), lit(0L)).as("n_near_matches"),
        coalesce(col("best_jaccard_i4"), lit(0L)).as("best_jaccard_i4"),
        (coalesce(col("n_near_matches"), lit(0L)) > 0).as("contaminated"))
  }

  /** Benchmark LEAK REPORT — the reverse-direction audit of [[flag]]: per
    * BENCHMARK document, how exposed is it in the corpus? Output one row
    * per benchmark doc:
    * (id, n_shingles, n_leaky_docs, max_overlap, total_overlap) —
    * n_leaky_docs counts corpus docs sharing >= minOverlap distinct
    * shingles with it, max_overlap the worst single corpus doc's distinct
    * shared-shingle count, total_overlap the sum over leaky docs. The
    * eval-set auditing view: which benchmark items must be rotated because
    * the crawl already carries them.
    *
    * Scale shape: unlike [[flag]] (a linear per-corpus-doc hit count),
    * the report needs (benchmark doc, corpus doc) PAIRS, and a
    * boilerplate shingle present in a benchmark doc and a million corpus
    * docs would fan out a million pairs — so shingles whose CORPUS
    * document frequency exceeds `maxShingleDf` are excluded from pairing
    * (a universal n-gram is boilerplate, not leak evidence — exactly the
    * pair-miner block-cap rationale) with the exclusion count surfaced in
    * the `leak_report_N` observed metric. Every exchange carries
    * (md5, id) rows; text never shuffles. */
  def leakReport(corpus: DataFrame, benchmark: DataFrame,
                 idCol: String, textCol: String,
                 w: Int = 13, minOverlap: Long = 1L,
                 maxShingleDf: Long = 1000L): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    require(maxShingleDf >= 1, s"maxShingleDf must be >= 1, got $maxShingleDf")
    // loud on duplicate CORPUS ids too (shingleMd5s' distinct would merge
    // copies into one "document" and under-report both the df cap inputs
    // and the leak counts); null-safe so a null-id doc still audits
    val corpusAnchor = Exec
      .checkedIdAnchor(corpus, idCol, "Decontaminate.leakReport corpus").alias("__ca")
    // the corpus shingle frame feeds BOTH the df-cap aggregate and the
    // pair join; it stays UNMATERIALIZED deliberately — an interleaved
    // r6 A/B measured the checkpoint write of the corpus-scale
    // (id, sh) frame costing ~3x the map-side recompute it saves (the
    // explode+md5 pass is cheap; storing it is not). Keys ride as
    // unhex(md5) — 16 raw bytes, same identity, half the key bytes on
    // the df/pair exchanges (§2.3).
    val c = shingleOccurrences(corpus, idCol, textCol, w)
      .select(col("id"), unhex(col("sh")).as("sh")).distinct().alias("__cs")
      .join(corpusAnchor, col("__cs.id") <=> col("__ca.id"), "left_semi")
    val under = c.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
      .observe(Exec.metricName("leak_report"),
        sum(when(col("__df") > maxShingleDf, 1L).otherwise(0L)).as("n_shingles_over_cap"))
      .where(col("__df") <= maxShingleDf)
      .select(col("sh"))
    val bSh = shingleOccurrences(benchmark, idCol, textCol, w)
      .select(col("id").as("bid"), unhex(col("sh")).as("sh")).distinct()
    val perPair = bSh.join(c.join(under, Seq("sh"), "left_semi"), Seq("sh"))
      .groupBy(col("bid"), col("id"))
      .agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
    val perBench = perPair.groupBy(col("bid"))
      .agg(count(lit(1)).as("n_leaky_docs"),
        max(col("overlap")).as("max_overlap"),
        sum(col("overlap")).as("total_overlap"))
    val nSh = bSh.groupBy(col("bid")).agg(count(lit(1)).as("n_shingles"))
    Exec.checkedIdAnchor(benchmark, idCol, "Decontaminate.leakReport")
      .join(nSh.withColumnRenamed("bid", "id"), Seq("id"), "left")
      .join(perBench.withColumnRenamed("bid", "id"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_leaky_docs"), lit(0L)).as("n_leaky_docs"),
        coalesce(col("max_overlap"), lit(0L)).as("max_overlap"),
        coalesce(col("total_overlap"), lit(0L)).as("total_overlap"))
  }

  /** Shared excision tail for the span-strike operators ([[excise]] and
    * `WebCuration.keepFirstSpans`): join each document's text and its
    * struck-position array back by id and run the map-side `excise_spans`
    * reassembly. The hits join is null-safe (<=>): a null-id corpus row
    * must keep its row AND its struck spans — an equality join would
    * silently skip its excision, the unsafe direction for a
    * decontamination gate. The duplicate-id guard rides the COMPACT side:
    * the checked id anchor ([[Exec.checkedIdAnchor]], a Filter no
    * projection can prune) joins the (id-keyed, text-free) hits frame
    * first, so the text-carrying corpus crosses exactly ONE exchange —
    * anchoring the full corpus against a checked-id frame cost a second
    * text-wide null-safe join (measured 2x on q59/q60). `hitsPerDoc`
    * carries (id, countCol, hits:array<int>). */
  private[graft] def exciseJoinBack(corpus: DataFrame, idCol: String,
      textCol: String, hitsPerDoc: DataFrame, w: Int, countCol: String,
      op: String): DataFrame = {
    val ex = Natives.exciseSpans(
      Seq(col("text"), coalesce(col("hits"), array().cast("array<int>"))), w)
    // the checked anchor covers every corpus id (null ids group together);
    // left-joined with hits it becomes the one compact per-id metadata frame
    val meta = Exec.checkedIdAnchor(corpus, idCol, op).alias("__c")
      .join(hitsPerDoc.alias("__h"), col("__c.id") <=> col("__h.id"), "left")
      .select(col("__c.id").as("id"),
        col(s"__h.$countCol").as(countCol), col("__h.hits").as("hits"))
      .alias("__m")
    corpus.select(col(idCol).as("id"), col(textCol).as("text")).alias("__b")
      .join(meta, col("__b.id") <=> col("__m.id"), "left")
      .select(col("__b.id").as("id"), ex.as("ex"),
        coalesce(col(countCol), lit(0L)).as(countCol))
      .select(col("id"),
        coalesce(col("ex.n_tokens"), lit(0L)).as("n_tokens"),
        col(countCol),
        coalesce(col("ex.n_kept"), lit(0L)).as("n_kept"),
        col("ex.clean").as("clean_text"))
  }
}

/** The benchmark side of [[Decontaminate.flag]], reduced once: the
  * distinct shingle-md5 set (checkpointed), its row count, and — when a
  * filter at `Decontaminate.BitsPerShingle` bits per shingle fits
  * `BloomFunctions.MaxBits` — the serialized Bloom filter over it. */
private[graft] final case class PreparedBenchmark(
    shingles: DataFrame, nShingles: Long, filter: Option[Array[Byte]])
