package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, ExtractPipeline, Similarity}
import graft.sources.CrawlCorpus

/** Physical-plan shape assertions — the 100 TB guarantees are properties of
  * the plan, not of small-scale timings: pushdown reaches the scan, small
  * dims broadcast, the extraction map is shuffle-free, and sketch self-joins
  * shuffle compact keys rather than document text.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"

  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** All ShuffleExchangeExec nodes of the statically-planned query. With
    * AQE on (the default) the adaptive root exposes no children and inserts
    * exchanges lazily, so a bare `sparkPlan.collect` silently returns
    * NOTHING — the frame must be planned with AQE off for the walk to see
    * the exchanges. The thunk runs inside the AQE-off window. */
  def withAqeOff[T](f: => T): T = {
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f
    finally saved match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  def collectShuffles(mk: => org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withAqeOff(mk.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s })
  }

  test("q01: filter and projection are pushed into the parquet scan") {
    val p = plan(SparkEntry.queries("q01_filter_project")(spark, sfDir))
    assert(p.contains("PushedFilters:"), p.take(2000))
    assert(p.contains("l_quantity") && p.contains("l_returnflag"))
    // pruned read schema: only the 4 needed columns are read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
  }

  test("q03: dimension joins are broadcast, fact side never shuffles whole rows") {
    val p = plan(SparkEntry.queries("q03_join_broadcast")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("extractDocs: zero shuffles — a single map-local pass over the scan") {
    val docs = ExtractPipeline.extractDocs(CrawlCorpus.crawl(spark, 100, 42L)).toDF()
    val p = plan(docs)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("MapPartitions"), p)
  }

  /** Walks adaptive plans: into the adaptive root and its query stages. */
  val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** Whether `p` writes to a path containing `path`; the write command
    * sits under the adaptive root. */
  def writesTo(p: org.apache.spark.sql.execution.SparkPlan, path: String): Boolean = {
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    aqe.collect(p) {
      case w: DataWritingCommandExec => w.cmd
    }.exists {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString.contains(path)
      case _ => false
    }
  }

  /** `f`'s result and the executed plans of every query it ran, from a
    * QueryExecutionListener. Listener events arrive asynchronously, so
    * the listener bus is drained before the plans are read. */
  def executedPlans[T](f: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = f
      org.apache.spark.graftbridge.SparkContextBridge.drainListenerBus(spark.sparkContext)
      (out, plans.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The executed plans of the queries one `Extract.main(args)` call runs;
    * one of them must write to `until`. */
  def extractPlans(args: Seq[String], until: String): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val (_, plans) = executedPlans(Extract.main(args.toArray))
    assert(plans.exists(writesTo(_, until)), s"no plan writing to $until observed")
    plans
  }

  /** Every plan building `mk` runs (its eager checkpoint and sizing jobs)
    * followed by the returned frame's own plan, all planned with AQE off.
    * An operator that checkpoints executes part of its work before
    * returning; that part never shows in the returned frame's plan, so a
    * shape assertion must walk these jobs too. */
  def operatorPlans(mk: => org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = withAqeOff {
    val (out, plans) = executedPlans(mk)
    plans :+ out.queryExecution.executedPlan
  }

  def shufflesOf(plans: Seq[org.apache.spark.sql.execution.SparkPlan])
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    plans.flatMap(p => aqe.collect(p) { case s: ShuffleExchangeExec => s })
  }

  /** The executed plan of the documents commit of one fresh
    * `Extract.main` run with `flags`. */
  def extractCommitPlan(flags: String*): org.apache.spark.sql.execution.SparkPlan = {
    val inDir = java.nio.file.Files.createTempDirectory("graft_plan_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_plan_out").toString
    CrawlCorpus.crawl(spark, 24, 42L).toDF().withColumn("pw", lit("").cast("string"))
      .write.mode("overwrite").parquet(inDir)
    val docsCommit = s"$outDir/documents/"
    extractPlans(Seq(inDir, outDir, "--partitions", "4") ++ flags, docsCommit)
      .find(writesTo(_, docsCommit)).get
  }

  test("Extract.main: every flag path extracts over one input scan and one salted exchange") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (flags <- Seq(Seq.empty, Seq("--include-raw"), Seq("--password-column", "pw"))) {
      val p = extractCommitPlan(flags: _*)
      val scans = aqe.collect(p) { case s: FileSourceScanExec => s }
      val exchanges = aqe.collect(p) { case e: ShuffleExchangeExec => e.outputPartitioning }
      val maps = aqe.collect(p) { case m: MapPartitionsExec => m }
      val shape = s"$flags: ${scans.size} scans, ${maps.size} mapPartitions, exchanges $exchanges"
      assert(scans.size == 1 && maps.size == 1, shape)
      assert(exchanges.size == 1, shape)
      assert(exchanges.head match {
        case h: HashPartitioning => h.expressions.exists(_.isInstanceOf[XxHash64])
        case _ => false
      }, shape)
    }
  }

  test("Extract.main without --sinks reads no documents back: a fresh call scans none, an incremental one only resume's urls") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val inDir = java.nio.file.Files.createTempDirectory("graft_readback_in").toString
    val grownDir = java.nio.file.Files.createTempDirectory("graft_readback_grown").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_readback_out").toString
    CrawlCorpus.crawl(spark, 24, 42L).toDF().write.mode("overwrite").parquet(inDir)
    CrawlCorpus.crawl(spark, 36, 42L).toDF().write.mode("overwrite").parquet(grownDir)
    // the metrics commit is the call's last query
    def docsScans(input: String): Seq[FileSourceScanExec] =
      extractPlans(Seq(input, outDir, "--partitions", "4"), s"$outDir/metrics/").flatMap { p =>
        aqe.collect(p) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(s"$outDir/documents/")) => s
        }
      }
    val fresh = docsScans(inDir)
    assert(fresh.isEmpty, fresh.map(_.requiredSchema.simpleString))
    val incremental = docsScans(grownDir)
    val read = incremental.map(_.requiredSchema.fieldNames.toSeq)
    assert(read.nonEmpty && read.forall(_ == Seq("url")), read)
  }

  test("q26: per-partition metrics add no exchange; only the query's salted repartition and sort shuffle") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    val parts = collectShuffles(SparkEntry.queries("q26_extract_metrics")(spark, sfDir))
      .map(_.outputPartitioning)
    assert(parts.size == 2, parts)
    assert(parts.exists {
      case h: HashPartitioning => h.expressions.exists(_.isInstanceOf[XxHash64])
      case _ => false
    }, parts)
    assert(parts.exists(_.isInstanceOf[RangePartitioning]), parts)
  }

  test("extraction + aggregate: exactly the partial-agg exchange, nothing else") {
    val docs = ExtractPipeline.extractDocs(CrawlCorpus.crawl(spark, 100, 42L)).toDF()
    val agg = docs.agg(sum(length(col("contents"))))
    val p = plan(agg)
    // one shuffle for the final agg only (single row), partial agg map-side
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1, p)
  }

  test("minhash LSH self-join shuffles band keys, not document text") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.9)
    val p = plan(pairs)
    // the join keys are the compact band columns (broadcast at this scale,
    // band-keyed shuffle at corpus scale); any shuffle keys on band keys or
    // id pairs — the raw text column never reaches an exchange or join key
    assert(p.contains("band_hash"), p.take(3000))
    val joinLines = p.linesIterator.filter(l => l.contains("HashJoin")).toSeq
    assert(joinLines.exists(_.contains("band_hash")), joinLines.mkString("\n"))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    exchangeLines.foreach { l =>
      assert(l.contains("band_") || l.contains("id_"), l)
      assert(!l.contains("text#"), l)
    }
  }

  test("ANN brute force: query side broadcast, corpus scanned once") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val topk = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), "vec_id", "embedding", 5)
    val p = plan(topk)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p.take(3000))
  }

  test("ngram jaccard: no exchange ever carries the shingle arrays") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.9)
    // every shuffle's payload is compact keys (band hashes, ids, jaccard) —
    // the distinct-shingle-hash arrays reach the verify join via
    // broadcast/local join-back, never an exchange
    val shuffles = collectShuffles(pairs)
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.exists(n => n == "hashes" || n.startsWith("sh_") || n == "text"),
        s"shuffle carries ${names.mkString(",")}")
    }
  }

  test("ann top-k: bounded aggregate, not a window over the scored set") {
    import org.apache.spark.sql.execution.window.WindowExec
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val topk = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), "vec_id", "embedding", 5)
    val windows = topk.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.isEmpty, "top-k must not sort the full scored set in a window")
    assert(topk.queryExecution.sparkPlan.toString.contains("topk_by_score"))
  }

  test("embedding near-dup: candidate exchanges carry ids and buckets, never vectors") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = Similarity.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.999, nBits = 2, nTables = 4)
    val shuffles = collectShuffles(pairs)
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.exists(n => n.startsWith("vec") && n != "vec_id" || n == "embedding"),
        s"shuffle carries ${names.mkString(",")}")
    }
  }

  test("native expressions stay inside whole-stage codegen (starred project over the scan)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p1 = docs.select(
        graft.functions.SketchFunctions.fingerprint64(col("text")),
        graft.functions.Natives.simhash64(Seq(col("text"))),
        graft.functions.SketchFunctions.shingleHashes(col("text"), 3))
      .queryExecution.executedPlan.toString
    // "*(n) Project [...]" = the project runs inside WholeStageCodegen
    val top1 = p1.linesIterator.next()
    assert(top1.startsWith("*(1) Project [") && top1.contains("SketchKernel.fingerprint64"),
      p1.take(400))
    val p2 = emb.select(graft.functions.LshFunctions.hyperplaneSigs(col("embedding"), 8, 2),
        graft.functions.LshFunctions.cosineSim(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(p2.linesIterator.next().startsWith("*(1) Project [hyperplane_sigs"), p2.take(400))
  }

  test("AQE splits a skewed pair-join partition (skew=true in the final adaptive plan)") {
    // The frequency cap bounds the pair COUNT; AQE's skew-join split is the
    // complementary guarantee for partition-level imbalance UNDER the cap —
    // one hot-but-legal band key must not serialize the join into a single
    // straggler task. Force tiny thresholds so a synthetic hot key (~a few
    // MB) registers as skewed on a test-sized input.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join

      // skewed candidate side: 300k rows on one hot band key, spread over
      // many map tasks (so the skewed reduce partition is splittable)
      val hot = spark.range(0, 300000, 1, 16)
        .select(when(col("id") % 10 =!= 0, 0L).otherwise(col("id")).as("band_hash"),
          col("id").as("id_a"))
      val dim = spark.range(0, 2000, 1, 4)
        .select((col("id") % 1000).as("band_hash"), col("id").as("id_b"))
      val joined = hot.join(dim, Seq("band_hash")).groupBy(col("id_b")).count()
      joined.collect() // AQE finalizes the plan during execution
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(500))
      assert(p.contains("skew=true"), p.take(4000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("boilerplate strip: the document text never reaches an exchange; counting is md5-keyed") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.operators.WebCuration.stripBoilerplate(docs, "doc_id", "text")
    val shuffles = collectShuffles(out)
    assert(shuffles.nonEmpty)
    // the full document text column must never ride a shuffle (individual
    // surviving LINES do, exactly once, as the reassembly output itself)
    shuffles.foreach { s =>
      assert(!s.output.map(_.name).contains("text"),
        s"shuffle carries ${s.output.map(_.name).mkString(",")}")
    }
    // the hot-line counting aggregate shuffles only (line_md5, id)-derived
    // columns — no line payloads
    assert(shuffles.exists(_.output.map(_.name).forall(n =>
      n.startsWith("line_md5") || n.startsWith("id") || n.startsWith("count") || n.startsWith("n_docs"))),
      shuffles.map(_.output.map(_.name).mkString("|")).mkString("\n"))
  }

  test("keep-first lines: winner selection is an aggregate, never a window over the md5 keyspace") {
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.operators.WebCuration.keepFirstLines(docs, "doc_id", "text")
    withAqeOff {
      val plan = out.queryExecution.executedPlan
      // no WindowExec anywhere: a hot template line must cost a
      // partial-agg cell, not a single-partition window sort
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        "keepFirstLines must not plan a window")
    }
    // the document text never rides an exchange, and line TEXT rides only
    // (id, idx)-keyed exchanges (the flag join-back / reassembly) — an
    // md5-keyed exchange carrying lines would put every copy of a hot
    // template line (with its text) in one partition
    collectShuffles(out).foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.contains("text"), s"shuffle carries ${names.mkString(",")}")
      if (names.contains("line")) {
        val part = s.outputPartitioning.toString
        assert(part.contains("id#"), s"line-carrying exchange not id-keyed: $part")
        assert(!part.contains("line_md5#"), s"line-carrying exchange md5-keyed: $part")
      }
    }
  }

  test("repetition signals: bigram aggregation shuffles md5 keys, never text") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.operators.WebCuration.repetitionSignals(docs, "doc_id", "text")
    val shuffles = collectShuffles(out)
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      assert(!s.output.map(_.name).exists(n => n == "text" || n == "lines" || n == "ls"),
        s"shuffle carries ${s.output.map(_.name).mkString(",")}")
    }
  }

  test("tfidf: term frequencies are map-only; counting/ranking exchanges are md5-keyed; strings ride only the assembly join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // tf is a pure map pass over the scan — zero exchanges
    assert(collectShuffles(graft.operators.TfIdf.termFrequencies(docs, "doc_id", "text")).isEmpty)
    val out = graft.operators.TfIdf.distinctiveTerms(docs, "doc_id", "text", k = 3)
    val shuffles = collectShuffles(out)
    assert(shuffles.nonEmpty)
    // document text never rides any exchange; token strings appear ONLY in
    // exchanges keyed by (id, tk) — the final output-assembly join — while
    // every counting (df) and ranking exchange carries hashes and longs
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.contains("text"), s"shuffle carries ${names.mkString(",")}")
      if (names.contains("token")) {
        val partCols = s.outputPartitioning.toString
        assert(partCols.contains("id#") && partCols.contains("tk#"),
          s"token-carrying exchange not the (id, tk) assembly join: $partCols")
      }
    }
    assert(shuffles.exists(s => !s.output.map(_.name).contains("token")),
      "expected compact (md5-keyed) counting exchanges")
  }

  test("decontaminate: every exchange carries shingle md5s and ids, never text or chunks") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.where(col("doc_id") % 50 === 0)
    val plans = operatorPlans(graft.operators.Decontaminate.flag(docs, bench,
      "doc_id", "text", w = 5, minOverlap = 3L))
    // two jobs before returning: the benchmark checkpoint (its row count
    // rides it as an observed metric) and the filter build — one fewer
    // than the separate checkpoint, count() and build of the old Bloom plan
    assert(plans.init.size == 2, s"${plans.init.size} jobs before flag returned")
    // the exact join a benchmark past the filter cap takes instead
    val exactPlans = operatorPlans(graft.operators.Decontaminate.flagPrepared(docs,
      graft.operators.Decontaminate.prepare(bench, "doc_id", "text", w = 5).copy(filter = None),
      "doc_id", "text", w = 5, minOverlap = 3L))
    for (ps <- Seq(plans, exactPlans)) {
      val shuffles = shufflesOf(ps)
      assert(shuffles.nonEmpty)
      shuffles.foreach { s =>
        val names = s.output.map(_.name)
        assert(!names.exists(n => Set("text", "c", "chunk", "p", "hits").contains(n)),
          s"shuffle carries ${names.mkString(",")}")
      }
    }
    // the probe expression sits below every exchange: the corpus-side
    // scan feeds bloom_shingle_hits directly, so non-hit shingles die on
    // the executor that read the document
    assert(plans.last.toString.contains("BloomKernel.bloomShingleHits"), "probe must appear in the plan")
    assert(!exactPlans.last.toString.contains("BloomKernel.bloomShingleHits"))
  }

  test("checkpoint counts ride the checkpoint job: no extra count jobs in CC or PageRank") {
    import spark.implicits._
    // two chains, so min-label propagation needs several rounds
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val ids = spark.range(0, 20).toDF("id")
    val ccPlans = operatorPlans(Dedup.connectedComponents(pairs, ids))
    val rounds = Dedup.lastCcRounds
    assert(rounds.length > 3, rounds)
    // one job per checkpointed round; round 0's node count rides round 1
    assert(ccPlans.init.size == rounds.length - 1,
      s"${ccPlans.init.size} jobs before connectedComponents returned, ledger $rounds")
    val iters = 3
    val prPlans = operatorPlans(graft.operators.LinkGraph.pageRank(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")), ids, iters))
    // the anchor checkpoint (its node and seed counts ride it), the rank
    // initialization and one checkpoint per iteration
    assert(prPlans.init.size == iters + 2, s"${prPlans.init.size} jobs before pageRank returned")
  }

  test("keep-first units: winner is an aggregate, never a window over the md5 keyspace") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plans = operatorPlans(graft.operators.WebCuration.keepFirstUnits(
      docs.select(col("doc_id"), translate(col("text"), " ", "\n").as("text")),
      "doc_id", "text", sep = "\n"))
    assert(plans.size > 1, "the exploded-frame checkpoint must run as a job")
    plans.foreach(p => assert(!p.toString.contains("Window"), "keep-first must not plan a window"))
    val shuffles = shufflesOf(plans)
    // unit text may only ride exchanges keyed by (id) or (id, idx) — the
    // winner/flag exchanges over the md5 keyspace must be text-free
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      val keyed = s.outputPartitioning.toString
      if (names.contains("line"))
        assert(keyed.contains("id"), s"unit text on a non-id-keyed exchange: $keyed")
    }
  }

  test("leak report: every exchange carries shingle md5s and ids, never text or chunks") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.operators.Decontaminate.leakReport(docs,
      docs.where(col("doc_id") % 50 === 0), "doc_id", "text", w = 5)
    val shuffles = collectShuffles(out)
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.exists(n => n == "text" || n == "c" || n == "chunk"),
        s"shuffle carries ${names.mkString(",")}")
    }
  }

  test("dedup spans: within-doc span removal is map-only — zero exchanges over the scan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.SketchFunctions.dedupSpans(col("text"), 5).as("ds"))
    assert(collectShuffles(out).isEmpty)
  }

  test("excise spans: match exchanges carry (id, pos, md5); text rides only id-keyed exchanges") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.operators.Decontaminate.excise(docs,
      docs.where(col("doc_id") % 50 === 0), "doc_id", "text", w = 5)
    val shuffles = collectShuffles(out)
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      // the chunk explode must collapse to (id, pos, sh) before any exchange
      assert(!names.exists(n => n == "c" || n == "chunk"),
        s"shuffle carries ${names.mkString(",")}")
      if (names.contains("text")) {
        val part = s.outputPartitioning.toString
        assert(part.contains("id#") && !part.contains("sh#"),
          s"text-carrying exchange not id-keyed: $part")
      }
    }
  }

  test("keep-first spans: winner is an aggregate (no window); text rides only id-keyed exchanges") {
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.operators.WebCuration.keepFirstSpans(docs, "doc_id", "text", w = 5)
    withAqeOff {
      assert(out.queryExecution.executedPlan.collect { case w: WindowExec => w }.isEmpty,
        "keepFirstSpans must not plan a window")
    }
    val shuffles = collectShuffles(out)
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.exists(n => n == "c" || n == "chunk"),
        s"shuffle carries ${names.mkString(",")}")
      if (names.contains("text")) {
        val part = s.outputPartitioning.toString
        assert(part.contains("id#") && !part.contains("sh#"),
          s"text-carrying exchange not id-keyed: $part")
      }
    }
  }

  test("heavy hitters: sketch partial-agg + broadcast semi join, no token-keyspace shuffle before it") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val hh = graft.operators.TextAnalysis.heavyHitterTokens(docs, "text", minFreq = 500)
    val p = plan(hh)
    // the exact pass reaches tokens only through a broadcast-hash LEFT SEMI
    // against the k-bounded candidate list; the only token-keyed exchange
    // is the candidate-restricted final count
    assert(p.contains("misra_gries"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(3000))
  }

  test("exact quantiles: every window runs over the aggregated value space, never raw rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val q = graft.operators.Stats.exactQuantiles(docs, "lang", "n_chars")
    withAqeOff {
      val plan = q.queryExecution.executedPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty)
      // each WindowExec must sit ABOVE the (group, value) histogram
      // aggregate — the row-space pass ends before any window sort
      windows.foreach { w =>
        val aggsBelow = w.collect {
          case a: HashAggregateExec => a
          case a: ObjectHashAggregateExec => a
          case a: SortAggregateExec => a
        }
        assert(aggsBelow.nonEmpty, "window over raw rows:\n" + w.toString.take(1000))
      }
      // the distinct-value cap guard (raise_error filter) must sit BELOW
      // every window — a hot group fails loudly before its window sort
      // materializes, not after
      import org.apache.spark.sql.execution.FilterExec
      val guardBelow = windows.forall(_.collect {
        case f: FilterExec if f.condition.toString.contains("raise_error") => f
      }.nonEmpty)
      assert(guardBelow, "cap guard not below the window:\n" + plan.toString.take(2000))
    }
  }

  test("sketch expressions are native Catalyst (no UDF nodes, batched scan)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sketched = docs.select(graft.functions.Natives.simhash64(Seq(col("text"))).as("sh"),
      graft.functions.SketchFunctions.minhashSig(col("text"), 3, 16).as("sig"))
    val p = plan(sketched)
    // higher-order functions evaluate interpreted (no whole-stage codegen),
    // but they are native expressions: no ScalaUDF / Python batch nodes, and
    // the scan stays columnar-batched with a pruned schema
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p.take(2000))
    assert(p.contains("Batched: true"), p.take(2000))
    assert(p.contains("ReadSchema: struct<text:string>"), p.take(2000))
    // the two base hashes per shingle are materialized once via the struct
    assert(p.contains("minhashSignature") || p.contains("struct(h1"), p.take(2000))
  }

  test("latest capture: winner is an aggregate (no window); payloads never ride the winner shuffle") {
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 10).cast("string").as("url"),
        (col("doc_id") * 7L).as("warc_ts"))
    val out = graft.operators.WebCuration.latestCapture(docs, "url", "warc_ts", "doc_id")
    withAqeOff {
      assert(out.queryExecution.executedPlan
        .collect { case w: WindowExec => w }.isEmpty,
        "latestCapture must not plan a window over the url keyspace")
    }
    // the aggregate exchange carries only (url, count, max-struct) partials
    // — the text payload is pruned before any shuffle
    collectShuffles(out).foreach { s =>
      assert(!s.output.map(_.name).contains("text"),
        s"shuffle carries ${s.output.map(_.name).mkString(",")}")
    }
  }

  test("incremental delta: both sides reduce to (url, md5) before the join — text never shuffles") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        col("doc_id").cast("string").as("url"))
    val out = graft.operators.WebCuration.incrementalDelta(
      docs, docs.where(col("doc_id") % 2 === 0), "url", "doc_id", "text")
    val shuffles = collectShuffles(out)
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      assert(!s.output.map(_.name).contains("text"),
        s"shuffle carries ${s.output.map(_.name).mkString(",")}")
    }
  }

  test("domain authority: rank join-back broadcasts; domain strings ride only domain-keyed aggregate exchanges") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 50)
    val docDomains = docs.select(col("doc_id").as("id"),
      concat(col("source"), lit(".example.com")).as("domain"))
    val edges = docs.select(col("doc_id").as("src"), (col("doc_id") % 50).as("dst"))
    val out = graft.operators.LinkGraph.domainAuthority(docDomains, edges, iters = 1)
    // the per-page rank attachment must be a broadcast (domain-sized rank
    // frame), never a doc-cardinality shuffle join
    assert(plan(out).contains("BroadcastHashJoin"), plan(out).take(2000))
    val shuffles = collectShuffles(
      graft.operators.LinkGraph.domainAuthority(docDomains, edges, iters = 1))
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.contains("text"), s"shuffle carries ${names.mkString(",")}")
      if (names.contains("domain"))
        assert(s.outputPartitioning.toString.contains("domain#"),
          s"domain string rides a non-domain-keyed exchange: ${s.outputPartitioning}")
    }
  }

  test("bigram LM: extraction is map-only; model and scoring exchanges carry md5 keys, never text or raw tokens") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.operators.LanguageModel.selfBigramSurprisal(docs, "doc_id", "text")
    val shuffles = collectShuffles(out)
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      val names = s.output.map(_.name)
      assert(!names.exists(n => n == "text" || n == "ta" || n == "tb" ||
        n == "t" || n == "chunk" || n == "c"),
        s"shuffle carries raw token columns: ${names.mkString(",")}")
    }
  }
}
