package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exec.Exec
import graft.functions.Natives

/** The end-to-end training-data curation pipeline, composed from the
  * library's operators — the shape a 100 TB pretraining-data run takes
  * after extraction:
  *
  *  1. per-document analysis gate (map-local: quality score + language id),
  *     optionally followed by the LM-surprisal gate (`maxMeanBitsX100`),
  *  2. exact dedup (shuffle on md5, keep min id),
  *  3. near-dup dedup: banded-minhash candidates -> exact jaccard verify ->
  *     connected components -> keep each cluster's min id (or, with
  *     `qualityReps`, its highest-quality member),
  *  4. greedy token-budget packing per language.
  *
  * Every stage is SQL-expressible, so the WHOLE pipeline is covered by one
  * DuckDB oracle (q38) — hash-exact end to end. Shuffle inventory: md5
  * grouping (2), band-hash self-join + candidate joins (3), CC label
  * rounds (3, candidate-pair-sized), packing window (4). Stage 4 uses one
  * window per language by default for oracle portability; pass
  * `packShards > 1` when one language dominates the corpus.
  */
object Curate {

  // Fixed stage thresholds (the q38-family oracles replay these values).
  private val MinQualityI4 = 2000L
  private val MinJaccard = 0.9
  private val ShingleWords = 3
  private val BoilerplateChunk = 8
  private val BoilerplateMinDocs = 30L
  private val DecontaminateW = 5
  private val DecontaminateMinOverlap = 3L
  private val PackBudget = 512

  /** Returns one row per SURVIVING document:
    * (doc_id, detected_lang, n_tokens, cum_tokens, pack_id).
    * `docs` carries (doc_id, text); the benchmark frame, when given, too.
    * Rows with a null text evaluate null through the gate predicates and
    * are therefore dropped — the gate semantics, not an accident. */
  def curate(docs: DataFrame, packShards: Int = 1,
             stripBoilerplate: Boolean = false,
             decontaminateAgainst: DataFrame = null,
             dedupSpansW: Int = 0,
             qualityReps: Boolean = false,
             keepFirstSpansW: Int = 0,
             maxMeanBitsX100: Long = 0L): DataFrame = {
    // -1. optional WITHIN-doc repeated-span removal (dedupSpansW > 0) as
    // the very first rewrite: it is a pure map over each document alone
    // (zero shuffle), so it runs before any cross-document stage — a
    // repetition-stuffed page should be judged (quality gate, dedup
    // shingles, token counts) on its deduped content, and its struck spans
    // must not occupy pack budget
    val docsW =
      if (dedupSpansW <= 0) docs
      else docs.withColumn("text",
        Natives.dedupSpans(Seq(col("text")), dedupSpansW))
    // -0.5. optional CROSS-doc keep-first span dedup (keepFirstSpansW > 0)
    // as the first cross-document rewrite: every repeated w-token span
    // keeps only its globally first (id, pos) occurrence (Lee et al.
    // exact-substring discipline), so the gates, dedup shingles, and
    // token counts all judge the DEDUPED content. Exact full-document
    // copies are subsumed: a later copy's every span is struck, its text
    // excises to NULL, and it falls out at the gate — stage 2's exact
    // dedup still catches copies SHORTER than w tokens. Near-dups keep
    // their first copy intact; later copies shrink to their novel
    // remainder and face the quality gate on that remainder alone.
    val docs0 =
      if (keepFirstSpansW <= 0) docsW
      else WebCuration.keepFirstSpans(docsW, "doc_id", "text", w = keepFirstSpansW)
        .select(col("id").as("doc_id"), col("clean_text").as("text"))
    // 0. optional cross-doc boilerplate line removal BEFORE the gates:
    // template lines inflate quality scores and glue unrelated pages into
    // near-dup clusters, so when enabled the downstream pipeline (scores,
    // dedup, packing token counts) runs on the stripped text. Exact dedup
    // runs FIRST on the raw text: identical copies must collapse to one id
    // before cross-doc line frequencies are counted, otherwise every line
    // of a duplicated doc is "cross-doc" hot and the whole duplicate group
    // self-destructs instead of keeping its representative. (The gates are
    // pure functions of the text, so for the strip-off default this
    // pre-dedup would be a no-op semantically — it is skipped there only
    // to keep the cheaper gate-then-dedup order the q38 oracle mirrors.)
    // Docs whose every surviving line was boilerplate get NULL text and
    // fall out at the gate (the documented gate-null semantics).
    //
    // BoilerplateMinDocs is 30, not 2: a "template" line is one
    // recurring across MANY distinct post-dedup documents (nav bars,
    // cookie banners), and the threshold doubles as the guard for NEAR-dup
    // clusters — two 97%-similar pages share most of their lines, and at
    // minDocs=2 they would strip each other down to stubs before the
    // near-dup stage could keep a representative; any cluster smaller
    // than minDocs cannot trip the threshold on its own.
    val input =
      if (!stripBoilerplate) docs0
      else {
        val keep = docs0.groupBy(md5(col("text")).as("__md5"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        WebCuration.stripBoilerplate(docs0.join(keep, Seq("doc_id"), "left_semi"),
            "doc_id", "text", chunk = BoilerplateChunk, minDocs = BoilerplateMinDocs)
          .select(col("id").as("doc_id"), col("clean_text").as("text"))
      }

    // 1. analysis gate — one map-local pass
    val analyzed = input.select(
      col("doc_id").cast("long").as("doc_id"),
      col("text"),
      TextAnalysis.langId(col("text")).as("detected_lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.qualityScoreI4(col("text")).as("quality_i4"))
    val gated0 = analyzed
      .where(col("quality_i4") >= MinQualityI4 && col("detected_lang") =!= "und")

    // 1.5. optional LM-surprisal gate (maxMeanBitsX100 > 0): the
    // CCNet/FineWeb "perplexity filter" — train the unigram model on the
    // heuristic-gate survivors themselves and drop documents whose mean
    // whole-bit surprisal exceeds the cap (gibberish and hash soup keep
    // plausible lengths/punctuation but read as high-surprisal token
    // streams). Self-trained, so no external model artifact; integer end
    // to end (the q64 discipline) so the composed oracle replays exactly.
    // Runs BEFORE exact dedup: like the heuristic gate it is a pure
    // function of the corpus, and the q38-family oracle splices here.
    val gated =
      if (maxMeanBitsX100 <= 0) gated0
      else {
        // checkpoint the gate survivors first: the LM stage consumes this
        // frame four times (model train, scoring pass, anchor, semi-join
        // LHS) and the analysis gate is interpreted-HOF work — the same
        // re-execution the stage-2 `uniq` checkpoint exists to prevent
        val g0 = Exec.checkpoint(gated0)
        // anti against the (small) over-cap set rather than semi against
        // the (corpus-sized) survivor set (r6, guide §3.1): the scoring
        // frame covers every g0 id with a non-null mean (null-text docs
        // report 0), so the complement is exact
        val drop = LanguageModel
          .selfSurprisal(g0.select(col("doc_id"), col("text")), "doc_id", "text")
          .where(col("mean_bits_x100") > maxMeanBitsX100)
          .select(col("id").as("doc_id"))
        g0.join(drop, Seq("doc_id"), "left_anti")
      }

    // 2. exact dedup: keep the smallest id per distinct text. (An r6
    // experiment mined the tiny loser set and anti-joined it — removing
    // the id-keyed sort-merge join — but the loser mining costs a THIRD
    // full gates pass over the corpus before the checkpoint, and the
    // interleaved A/B measured that pass outweighing the join saved;
    // the two-pass semi-join form stays.)
    val keepExact = gated
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // the survivor set feeds candidate generation, the verify join-back,
    // the CC seed AND the final select — materialize it once instead of
    // re-running the (interpreted-HOF) analysis gate per consumer
    val uniq = Exec.checkpoint(gated.join(keepExact, Seq("doc_id"), "left_semi"))

    // 3. near-dup clusters: LSH candidates -> exact verify -> components.
    // Near-dup graphs are dense/shallow, so O(diameter) min-label CC
    // converges in a few rounds
    val pairs = Dedup.ngramJaccardPairs(uniq, "doc_id", "text", ShingleWords, MinJaccard)
      .select(col("id_a"), col("id_b"))
    val clusters = Dedup.connectedComponents(pairs, uniq.select(col("doc_id").as("id")))
    // survivor policy per near-dup cluster: min id (default — the
    // SQL-replayable crawl-order convention) or, with `qualityReps`, the
    // FineWeb-style highest-quality member (ties to min id) so dedup
    // discards the boilerplate-laden copies instead of whichever crawled
    // first. Exact copies collapsed at stage 2 share one quality score,
    // so the two policies only diverge on genuine near-dups.
    // survivor join flipped to an ANTI against the near-dup LOSERS (r6,
    // guide §3.1): most documents are singleton clusters and keep
    // themselves, so the kept set is corpus-sized while the dropped set is
    // bounded by the duplicate volume — anti-joining the tiny side lets
    // AQE broadcast it and the survivor frame never shuffles by id.
    // Equivalent because every uniq doc_id appears in `clusters` (the CC
    // id universe IS uniq): kept = not-dropped.
    val kept0 =
      if (!qualityReps)
        uniq.join(
          clusters.where(!col("is_kept")).select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      else {
        val nonReps = Dedup.clusterRepresentatives(
            uniq.select(col("doc_id"), col("quality_i4"))
              .join(clusters.select(col("id").as("doc_id"), col("cluster_id")), Seq("doc_id")),
            "doc_id", "cluster_id", "quality_i4")
          .where(col("is_rep") === 0).select(col("id").as("doc_id"))
        uniq.join(nonReps, Seq("doc_id"), "left_anti")
      }

    // 3b. optional test-set decontamination, AFTER dedup (fewer docs to
    // shingle) and BEFORE packing (a removed doc must not occupy pack
    // budget): docs sharing >= DecontaminateMinOverlap distinct
    // DecontaminateW-token shingles with the benchmark set are dropped.
    val kept =
      if (decontaminateAgainst == null) kept0
      else {
        // checkpoint the survivor set once: Decontaminate.flag consumes
        // its corpus twice internally and the anti-join below a third
        // time — without this, each pass re-executes the whole
        // gates+dedup+CC lineage. Anti-join the (tiny, broadcastable)
        // CONTAMINATED id set rather than semi-joining all clean ids.
        val kb = Exec.checkpoint(kept0)
        val flagged = Decontaminate.flag(kb.select(col("doc_id"), col("text")),
          decontaminateAgainst, "doc_id", "text",
          w = DecontaminateW, minOverlap = DecontaminateMinOverlap)
        val contaminated = flagged
          .where(col("contaminated")).select(col("id").as("doc_id"))
        kb.join(contaminated, Seq("doc_id"), "left_anti")
      }

    // 4. greedy token packing per language (TextAnalysis.packShardedOn).
    // `packShards = 1` (default): one cumulative window per language —
    // oracle-portable exact greedy packing, but one giant language
    // serializes into a single partition's window sort. `packShards > 1`:
    // salted two-level packing (sort parallelism = langs x packShards;
    // cum_tokens becomes per-(lang, shard), pack ids stay globally unique
    // and every pack still respects the budget).
    TextAnalysis.packShardedOn(
        kept.select(col("doc_id"), col("detected_lang"), col("n_tokens")),
        "detected_lang", "doc_id", PackBudget, packShards)
      .select(col("doc_id"), col("detected_lang"), col("n_tokens"),
        col("cum_tokens"), col("pack_id"))
  }
}
