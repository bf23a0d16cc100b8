package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Dedup.checkpointDf
import graft.operators.{Decontaminate, WebCuration}
import graft.sources.ParquetManifestTable

/** Streaming leg of the boilerplate-strip curation stage: cross-document
  * line frequencies accumulate in a persistent counts table as documents
  * arrive, and a line crossing the `minDocs` threshold RETROACTIVELY
  * strikes itself from every earlier document that contains it.
  *
  * That retroactivity is the crux: a purely per-arrival emit can never
  * equal the batch operator (a doc emitted before its nav line became hot
  * would keep the line forever), so each micro-batch UPSERTS a new version
  * of every AFFECTED document — the batch's own docs plus the existing
  * docs that contain a newly-hot line — and the table's latest-version
  * view converges to exactly `WebCuration.stripBoilerplate` over all
  * delivered documents (StreamingCurationSpec parity).
  *
  * Incremental shape (why this scales where re-running batch per trigger
  * would not): per micro-batch the counting shuffle is the BATCH's
  * (line_md5, id) pairs merged into the counts snapshot by md5; the
  * recompute touches only affected documents' lines (newly-hot lines are
  * rare in steady state — a line crosses the threshold once, ever), and
  * the line store is append-only. All state lives in snapshot-committed
  * tables keyed by the DETERMINISTIC stream batch id, so a crash between
  * commits replays idempotently (TableIO re-commit of a committed batch is
  * a no-op, and the pre-batch counts are read by explicit batch-id
  * ordering, never "latest").
  *
  * Re-arriving ids (a re-crawled url) follow the streaming first-seen-wins
  * contract: they are dropped against the committed id set — the batch
  * operator raise_errors on duplicate ids instead, because in batch a dup
  * id is a caller bug while in a stream it is ordinary re-delivery.
  */
object StreamingCuration {

  /** Start the strip stream over a streaming (id: long, text: string)
    * frame. State + output land under `stateRoot`:
    * `lines/` (append), `counts/` (versioned snapshots), `clean/`
    * (versioned upserts — read with [[readClean]]). */
  def start(docs: DataFrame, stateRoot: String, checkpointDir: String,
            chunk: Int = 8, minDocs: Long = 2L,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, stateRoot, chunk, minDocs, f"b$batchId%08d")
      }
      .start()

  /** The latest committed version of every document:
    * (id, n_lines, n_kept, clean_text). */
  def readClean(spark: SparkSession, stateRoot: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("__v").desc)
    new ParquetManifestTable(s"$stateRoot/clean").read(spark)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("id"), col("n_lines"), col("n_kept"), col("clean_text"))
  }

  /** The streaming first-seen-wins contract, shared by both legs: one
    * row per id, in-batch re-deliveries resolved by md5 order with
    * NON-NULL text preferred ('~' sorts after every md5 hex digit — a
    * failed-fetch null delivery must not mask the real content the retry
    * carried), cross-batch re-deliveries dropped against the committed
    * id set. */
  private def firstSeen(batch: DataFrame, committed: ParquetManifestTable): DataFrame = {
    val spark = batch.sparkSession
    val inBatch = batch.select(col("id"), col("text"))
      .groupBy(col("id"))
      .agg(min_by(col("text"), coalesce(md5(col("text")), lit("~"))).as("text"))
    if (committed.exists && committed.committedBatches.nonEmpty)
      inBatch.join(committed.read(spark).select("id").distinct(), Seq("id"), "left_anti")
    else inBatch
  }

  /** Streaming decontamination: flag each arriving document against a
    * STATIC benchmark frame. Decontamination is per-document independent
    * (a doc's overlap depends only on its own shingles and the fixed
    * benchmark set), so unlike the boilerplate strip there is no
    * cross-document state and no retroactivity — each micro-batch flags
    * its FIRST-SEEN docs (in-batch and cross-batch re-deliveries drop,
    * the module's streaming contract) against the benchmark, reduced
    * ONCE before the stream starts exactly as the batch operator reduces
    * it (shingle set, plus the Bloom filter when it fits), and appends one
    * immutable result batch; the output union equals the batch operator
    * over the first-seen docs (StreamingCurationSpec). */
  def startDecontaminate(docs: DataFrame, benchmark: DataFrame,
                         outRoot: String, checkpointDir: String,
                         w: Int = 13, minOverlap: Long = 3L,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // prepared ONCE before the stream starts: the benchmark's size picks
    // the plan (Bloom-probed or exact) exactly as the batch flag does
    val bench = Decontaminate.prepare(benchmark, "id", "text", w)
    startAgainstBenchmark(docs, outRoot, checkpointDir, trigger) { fresh =>
      Decontaminate.flagPrepared(fresh, bench, "id", "text", w, minOverlap)
    }
  }

  /** Streaming SPAN-LEVEL decontamination — the excision sibling of
    * [[startDecontaminate]], same stateless per-batch shape (matched spans
    * depend only on the doc's own shingles and the fixed benchmark set):
    * each micro-batch excises its first-seen docs' matching spans and
    * appends (id, n_tokens, n_spans_hit, n_kept, clean_text); the output
    * union equals `Decontaminate.excise` over the first-seen docs. */
  def startExcise(docs: DataFrame, benchmark: DataFrame,
                  outRoot: String, checkpointDir: String,
                  w: Int = 13,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val benchSh = Decontaminate.benchmarkShingles(benchmark, "id", "text", w).cache()
    val q = startAgainstBenchmark(docs, outRoot, checkpointDir, trigger) { fresh =>
      Decontaminate.exciseAgainstShingles(fresh, benchSh, "id", "text", w)
    }
    tieCacheToQuery(q, benchSh, docs.sparkSession)
    q
  }

  /** Shared plumbing of the stateless benchmark-gated legs: flag/excise
    * each micro-batch's first-seen docs and commit under the
    * deterministic batch id. */
  private def startAgainstBenchmark(docs: DataFrame, outRoot: String,
      checkpointDir: String, trigger: Trigger)(
      process: DataFrame => DataFrame): StreamingQuery = {
    val outT = new ParquetManifestTable(outRoot)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        outT.commit(process(firstSeen(batch, outT)), f"b$batchId%08d")
      }
      .start()
  }

  /** Tie a cached frame's lifetime to a streaming query — without this
    * every start() pins one orphaned cached frame in storage memory for
    * the session's lifetime. */
  private def tieCacheToQuery(q: StreamingQuery, cached: DataFrame,
                              spark: org.apache.spark.sql.SparkSession): Unit = {
    val listener: org.apache.spark.sql.streaming.StreamingQueryListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            cached.unpersist()
            spark.streams.removeListener(this)
          }
      }
    spark.streams.addListener(listener)
  }

  /** Streaming LM quality scoring — each micro-batch's first-seen
    * documents scored against a FROZEN pre-trained unigram model
    * ([[graft.operators.LanguageModel.unigramModel]]'s (tk, cnt, bits)
    * frame: train once on a reference corpus, persist, score forever) and
    * appended as (id, n_tokens, surprisal_bits, mean_bits_x100) — the
    * streaming member of the q64/q87 quality-filter family. Stateless per
    * batch beyond the first-seen guard: a document's score depends only on
    * its own tokens and the fixed model, so the output union equals the
    * batch [[graft.operators.LanguageModel.surprisalStats]] over the
    * first-seen docs (parity-spec'd). The model frame is vocab-sized:
    * cached once, lifetime tied to the query. */
  def startSurprisalScore(docs: DataFrame, model: DataFrame,
                          outRoot: String, checkpointDir: String,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val outT = new ParquetManifestTable(outRoot)
    val m = model.cache()
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        outT.commit(
          graft.operators.LanguageModel.surprisalStats(
            firstSeen(batch, outT), "id", "text", m),
          f"b$batchId%08d")
      }
      .start()
    tieCacheToQuery(q, m, docs.sparkSession)
    q
  }

  /** Streaming cross-document keep-first SPAN dedup — the streaming member
    * of the exact-substring family (`WebCuration.keepFirstSpans` is the
    * batch operator). Contract: ARRIVAL-order-first — a shingle's first
    * DELIVERED occurrence keeps it; later arrivals (other docs, later in
    * the same batch by (id, pos), or later batches) are excised. Keep-first
    * is append-friendly: an already-committed document can never lose a
    * span retroactively (its occurrence was first), so unlike the
    * boilerplate strip there is no re-versioning — each batch appends one
    * immutable result set plus the batch's NEW shingle md5s to the seen
    * store. Equals the batch operator over the delivered union exactly
    * when ids arrive in nondecreasing order (the spec's parity case);
    * under out-of-order arrival the winners differ by design, not by bug.
    *
    * Incremental shape: per batch, the exchanges carry (id, pos-int, md5)
    * occurrence rows and bare md5s — the seen-store semi/anti joins are
    * hash-keyed on compact md5s, text rides only the final id-keyed
    * excision join-back. The seen store is the operator's inherent state
    * (the streaming analogue of the batch suffix structure), append-only
    * and read by explicit prior-batch ids — a crash-retry never sees its
    * own first attempt. */
  def startKeepFirstSpans(docs: DataFrame, stateRoot: String, checkpointDir: String,
                          w: Int = 13,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processKeepFirstSpans(batch, stateRoot, w, f"b$batchId%08d")
      }
      .start()

  private[streaming] def processKeepFirstSpans(batch: DataFrame, stateRoot: String,
                                               w: Int, batchId: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val shT = new ParquetManifestTable(s"$stateRoot/shingles")
    val outT = new ParquetManifestTable(s"$stateRoot/out")

    val fresh = checkpointDf(firstSeen(batch, outT))
    val occ = checkpointDf(graft.operators.Decontaminate
      .shingleOccurrences(fresh, "id", "text", w))
    // seen = shingles of strictly EARLIER batches (never "all": a
    // crash-retry that already committed this batch's shingles must not
    // count them as prior art and excise its own first occurrences).
    // Already globally distinct by construction — each batch commits only
    // shingles absent from every prior one — and checkpointed because TWO
    // actions consume it (the anti-join commit and the excision flag join)
    val prior = shT.committedBatches.filter(_ < batchId)
    val seen = checkpointDf(
      if (prior.isEmpty) Seq.empty[String].toDF("sh")
      else prior.map(shT.readBatch(spark, _)).reduce(_ unionByName _).select("sh"))

    val winners = occ.groupBy(col("sh"))
      .agg(min(struct(col("id"), col("pos"))).as("w"))
    val struck = occ
      .join(seen.withColumn("__seen", lit(true)), Seq("sh"), "left")
      .join(winners, Seq("sh"))
      .where(col("__seen") || struct(col("id"), col("pos")) =!= col("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans_struck"),
        sort_array(collect_list(col("pos"))).as("hits"))
    // shingle store FIRST: a crash between the commits then retries with
    // the output still uncommitted (fresh non-empty, full recompute, both
    // commits idempotent) — output-first would leave a committed result
    // whose batch shingles never reach the store, silently re-winnable
    shT.commit(occ.select(col("sh")).distinct()
      .join(seen, Seq("sh"), "left_anti"), batchId)
    outT.commit(graft.operators.Decontaminate.exciseJoinBack(
      fresh, "id", "text", struck, w, "n_spans_struck",
      "StreamingCuration.keepFirstSpans"), batchId)
  }

  /** One micro-batch: append lines, merge counts, recompute + upsert
    * affected documents. Exposed for direct testing of the foreachBatch
    * body. `batchId` must be unique and lexicographically ordered across
    * the stream's life (the f"b%08d" ids from [[start]] are). */
  private[streaming] def processBatch(batch: DataFrame, stateRoot: String,
                                      chunk: Int, minDocs: Long,
                                      batchId: String): Unit = {
    val spark = batch.sparkSession
    val linesT = new ParquetManifestTable(s"$stateRoot/lines")
    val countsT = new ParquetManifestTable(s"$stateRoot/counts")
    val cleanT = new ParquetManifestTable(s"$stateRoot/clean")
    // foreachBatch retries replay the batch and commits are idempotent;
    // with a session checkpoint dir the checkpoints below are durable too,
    // so executor churn mid-batch does not make the retry recompute the
    // lineage

    // ---- 0: first-seen-wins vs committed ids (shared contract; non-null
    // text preferred among in-batch re-deliveries). Several consumers
    // below; this is one micro-batch — small — so a checkpoint is the
    // right tool
    val fresh = checkpointDf(firstSeen(batch, cleanT))

    // ---- 1: append the batch's lines (id, idx, line, line_md5)
    val linesB = fresh
      .select(col("id"),
        posexplode(WebCuration.tokenLines(col("text"), chunk)).as(Seq("idx", "line")))
      .withColumn("line_md5", md5(col("line")))
    val linesCk = checkpointDf(linesB)
    linesT.commit(linesCk, batchId)

    // ---- 2: merge counts. The PRE-batch snapshot is the newest batch id
    // strictly BEFORE this one (never "latest": a crash-retry would read
    // its own first attempt and double-count)
    val prevBatches = countsT.committedBatches.filter(_ < batchId)
    val old =
      if (prevBatches.isEmpty) {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("line_md5", "n_docs")
      } else countsT.readBatch(spark, prevBatches.max)
    val countsB = linesCk.groupBy(col("line_md5"))
      .agg(countDistinct(col("id")).as("n_b"))
    val merged = checkpointDf(old.join(countsB, Seq("line_md5"), "full_outer")
      .select(col("line_md5"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("n_b"), lit(0L))).as("n_docs")))
    countsT.commit(merged, batchId)

    // ---- 3: lines newly crossing the threshold in THIS batch
    val newlyHot = merged.where(col("n_docs") >= minDocs)
      .join(old.where(col("n_docs") >= minDocs).select("line_md5"), Seq("line_md5"), "left_anti")
      .select("line_md5")

    // ---- 4: affected = this batch's docs + existing docs holding a
    // newly-hot line (their stored versions must lose it)
    val linesAll = linesT.read(spark) // includes this batch's append
    val affectedIds = fresh.select(col("id"))
      .unionByName(linesAll.join(newlyHot, Seq("line_md5"), "left_semi").select(col("id")))
      .distinct()

    // ---- 5: recompute affected docs against the FULL merged counts with
    // the one shared reassembly (WebCuration.reassemble), upsert-version
    val hot = merged.where(col("n_docs") >= minDocs)
      .select(col("line_md5"), lit(true).as("hot"))
    val linesAff = linesAll.join(affectedIds, Seq("id"), "left_semi")
    val agg = WebCuration.reassemble(linesAff, hot)
    val out = affectedIds
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("n_kept") > 0, col("joined")).as("clean_text"),
        lit(batchId).as("__v"))
    cleanT.commit(out, batchId)
  }
}
