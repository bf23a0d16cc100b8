package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curate, ExtractPipeline, ExtractedDoc}
import graft.sources.{CrawlCorpus, CrawlRow, ParquetManifestTable, Resume}

/** Sizes of one workload's inputs; `small` is the self-test size. */
final case class Sizes(extractDocs: Long, ingestDocs: Long, ingestReruns: Int,
                       curateArticles: Long, curateDupPerMille: Int, setupReps: Int, kernelDocs: Int)

object Sizes {
  val full = Sizes(extractDocs = 6000, ingestDocs = 3000, ingestReruns = 3,
    curateArticles = 600, curateDupPerMille = 200, setupReps = 3, kernelDocs = 600)
  val small = Sizes(extractDocs = 400, ingestDocs = 300, ingestReruns = 1,
    curateArticles = 150, curateDupPerMille = 200, setupReps = 1, kernelDocs = 40)
}

/** What one closed-loop iteration completed: `docs` input documents in
  * `wallS` seconds using `cpuS` executor CPU seconds, the wall time of each
  * no-op `Extract` re-run, and the output checks that failed. */
final case class Pass(docs: Long, wallS: Double, cpuS: Double, reruns: Seq[Double], failures: Seq[String])

final class Ctx(val spark: SparkSession, val meter: Meter, val tracer: Tracer,
                val work: Path, val cores: Int, val seed: Long, val sizes: Sizes) {

  /** Wall and executor-CPU seconds of `body`. */
  def measured[T](body: => T): (T, Double, Double) = {
    val c0 = meter.cpuS()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall, meter.cpuS() - c0)
  }

  def timedS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** `graft.Extract.main` in this JVM (it reuses the running session), with
    * its summary line captured: the numeric fields of its last JSON line. */
  def runExtract(args: String*): Map[String, Long] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.Extract.main(args.toArray)
    }
    val last = new String(buf.toByteArray, "UTF-8").linesIterator.filter(_.startsWith("{")).toSeq.lastOption
      .getOrElse(sys.error("graft.Extract printed no summary line"))
    "\"([a-z_]+)\":(-?\\d+)".r.findAllMatchIn(last).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }

  def expect(failures: scala.collection.mutable.Buffer[String], what: String, got: Any, want: Any): Unit =
    if (got != want) failures += s"$what: got $got, want $want"
}

/** One benchmark workload. `prepare` builds the inputs and reference
  * digests (it runs several times in set-up; the last one's state is
  * kept), `warmUp` runs the measured path until the JIT has settled, and
  * `iterate` is one closed-loop iteration. */
abstract class Workload(val ctx: Ctx) {
  import ctx._
  /** Fewest untraced iterations a run makes, however short `--seconds`. */
  def minIters: Int
  def prepare(rep: Int): Unit
  def warmUp(): Seq[String]
  def iterate(): Pass
  /** Rows of the workload for the single-thread kernel replay. */
  def kernelRows: Seq[CrawlRow]
  /** Per-layer metrics of this workload from the traced iterations `traces`
    * (and any replay it runs now); `kernelUsPerDoc` is the single-thread
    * kernel time per document of the workload's mix. */
  def layers(traces: Seq[Long], kernelUsPerDoc: Double, failures: scala.collection.mutable.Buffer[String]): Map[String, Double]

  protected def dir(name: String): Path = work.resolve(name)

  /** The `ExtractPipeline` layer's metrics; `perTrace` holds, for each
    * traced iteration, the spans that together extracted `docs` documents. */
  protected def extractMetrics(perTrace: Seq[Seq[Span]], docs: Long,
                               kernelUsPerDoc: Double): Map[String, Double] =
    Metrics.medianOf(perTrace.map { ss =>
      val a = tracer.tasksOf(ss)
      Map(
        "extract.task_s" -> a.runMs / 1e3,
        "extract.task_cpu_s" -> a.cpuNs / 1e9,
        "extract.gc_s" -> ss.map(_.gcS).sum,
        "extract.alloc_mb_per_1k_docs" -> ss.map(_.allocBytes).sum / 1048576.0 / docs * 1000,
        "extract.wrap_us_per_doc" -> (a.runMs * 1e3 / docs - kernelUsPerDoc),
        "extract.task_skew" -> a.skew)
    })
}

/** `ExtractPipeline.extractDocs` over a persisted corpus, every output
  * column forced through the noop sink. */
final class ExtractWorkload(c: Ctx) extends Workload(c) {
  import ctx._
  private val n = sizes.extractDocs
  private val HtmlScale = 20
  private var corpus: Dataset[CrawlRow] = _
  private var ref: (Long, Long) = _
  private def table = dir("extract-crawl")
  private def out = dir("extract-out")

  val minIters = 3

  def prepare(rep: Int): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    corpus = CrawlCorpus.crawl(spark, n, seed, numPartitions = 4 * cores, htmlScale = HtmlScale).persist()
    corpus.count()
    ref = Inputs.referenceDigest(spark, i => CrawlCorpus.row(i.toLong, seed, HtmlScale), n.toInt, cores)
  }

  /** Commits the corpus once through `Extract` (the committed state the
    * re-runs need, and a first pass of the kernels) and checks it, then
    * runs two untimed iterations. */
  def warmUp(): Seq[String] = {
    val failures = scala.collection.mutable.Buffer.empty[String]
    delete(table); delete(out)
    corpus.write.parquet(table.toString)
    val s = runExtract(table.toString, out.toString)
    expect(failures, "extract commit rows", s.get("committed_rows"), Some(n))
    expect(failures, "extract commit digest",
      Inputs.docDigest(new ParquetManifestTable(out.resolve("documents").toString).read(spark)), ref)
    failures ++= iterate().failures ++ iterate().failures
    failures.toSeq
  }

  def iterate(): Pass = {
    val failures = scala.collection.mutable.Buffer.empty[String]
    val obs = Observation()
    val cols = Inputs.docDigestCols(md5(col("contents")))
    val docs = ExtractPipeline.extractDocs(corpus).toDF().observe(obs, cols.head, cols.tail: _*)
    val (_, wall, cpu) = measured {
      span("ExtractPipeline.extractDocs") { docs.write.format("noop").mode("overwrite").save() }
    }
    val m = obs.get
    expect(failures, "extract digest", (m("n"), m("h")), ref)
    val rerun = timedS {
      val s = span("Extract.main rerun") { runExtract(table.toString, out.toString) }
      expect(failures, "rerun pending", s.get("pending"), Some(0L))
      expect(failures, "rerun batches", s.get("committed"), Some(1L))
    }
    Pass(n, wall, cpu, Seq(rerun), failures.toSeq)
  }

  def kernelRows: Seq[CrawlRow] =
    (0L until math.min(n, sizes.kernelDocs.toLong)).map(CrawlCorpus.row(_, seed, HtmlScale))

  def layers(traces: Seq[Long], kernelUsPerDoc: Double, failures: scala.collection.mutable.Buffer[String]): Map[String, Double] =
    extractMetrics(traces.map(t => tracer.named("ExtractPipeline.extractDocs", t)), n, kernelUsPerDoc)
}

/** `graft.Extract.main` over parquet crawl tables: a fresh batch, then an
  * incremental batch over a table two thirds of which is committed, then
  * no-op re-runs. The traced run adds `Curate.curate` with decontamination
  * over the committed documents, read through `Resume.currentPerUrl` as
  * `Extract --curate` reads them. */
final class IngestWorkload(c: Ctx) extends Workload(c) {
  import ctx._
  import spark.implicits._
  private val PackBudget = 512 // Curate.curate's default
  private var nFresh, nAll = 0L
  private var ref: (Long, Long) = _
  private var iteration = 0
  private def fresh = dir("ingest-crawl-fresh")
  private def all = dir("ingest-crawl-all")

  val minIters = 3

  /** CrawlCorpus rows [0, crawl) at page scale 1 (their text fails language
    * id: the curate gate's drop path) plus article pages [0, articles) with
    * near-duplicates (the dedup, decontamination and packing path). */
  private def rows(crawl: Long, articles: Long): IndexedSeq[CrawlRow] =
    (0L until crawl).map(CrawlCorpus.row(_, seed, 1)) ++
      (0L until articles).flatMap(Inputs.articleRows(_, seed, sizes.curateDupPerMille))

  def prepare(rep: Int): Unit = {
    delete(fresh); delete(all)
    val freshRows = rows(sizes.ingestDocs * 2 / 3, sizes.curateArticles * 2 / 3)
    val allRows = rows(sizes.ingestDocs, sizes.curateArticles)
    nFresh = freshRows.size
    nAll = allRows.size
    freshRows.toDS().repartition(cores).write.parquet(fresh.toString)
    allRows.toDS().repartition(cores).write.parquet(all.toString)
    ref = Inputs.referenceDigest(spark, allRows, cores)
  }

  /** Commits the fresh and the incremental batch into `out`, checking
    * both; returns their wall and executor-CPU seconds. */
  private def ingest(out: Path, failures: scala.collection.mutable.Buffer[String]): (Double, Double) = {
    val (s1, w1, c1) = measured { span("Extract.main fresh") { runExtract(fresh.toString, out.toString) } }
    expect(failures, "fresh pending", s1.get("pending"), Some(nFresh))
    expect(failures, "fresh committed rows", s1.get("committed_rows"), Some(nFresh))
    val (s2, w2, c2) = measured { span("Extract.main incremental") { runExtract(all.toString, out.toString) } }
    expect(failures, "incremental pending", s2.get("pending"), Some(nAll - nFresh))
    expect(failures, "incremental committed rows", s2.get("committed_rows"), Some(nAll))
    expect(failures, "incremental batches", s2.get("batches"), Some(2L))
    expect(failures, "committed digest",
      Inputs.docDigest(new ParquetManifestTable(out.resolve("documents").toString).read(spark)), ref)
    (w1 + w2, c1 + c2)
  }

  private def curated(out: Path) = {
    val committed = Resume.currentPerUrl(
        new ParquetManifestTable(out.resolve("documents").toString).read(spark))
      .select(xxhash64(col("url")).as("doc_id"), decode(col("contents"), "UTF-8").as("text"))
    // a 2% sample of the corpus plays the benchmark set, as in q56
    val benchmark = committed.where(pmod(col("doc_id"), lit(50L)) === 0).select("doc_id", "text")
    span("Curate.curate") { Curate.curate(committed, decontaminateAgainst = benchmark) }
  }

  private val outCols = Seq("doc_id", "detected_lang", "n_tokens", "cum_tokens", "pack_id")
  private def digestCols =
    Seq(count(lit(1)).as("n"), bit_xor(xxhash64(outCols.map(col): _*)).as("h"))

  /** Two untimed iterations: the first is cold, and the JIT is still
    * settling during the second. */
  def warmUp(): Seq[String] = iterate().failures ++ iterate().failures

  /** Runs `Curate.curate` over the documents committed under `out` once,
    * untraced, collecting its output to check the packing directly: per
    * language, `cum_tokens` is the running token sum in doc_id order,
    * `pack_id` follows from it, and no pack holds more than the budget.
    * Then runs it traced, forced through the noop sink, and checks that its
    * count and digest match. */
  private def curateTraced(out: Path, failures: scala.collection.mutable.Buffer[String]): (Long, Long) = {
    val rows = curated(out).select(outCols.map(col): _*).as[(Long, String, Int, Long, Long)].collect()
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      var cum = 0L
      val packTokens = scala.collection.mutable.Map.empty[Long, Long]
      rs.sortBy(_._1).foreach { case (id, _, nTok, cumTok, pack) =>
        cum += nTok
        if (cumTok != cum) failures += s"curate $lang doc $id: cum_tokens $cumTok, running sum $cum"
        if (pack != (cumTok - 1) / PackBudget) failures += s"curate $lang doc $id: pack $pack for cum $cumTok"
        packTokens(pack) = packTokens.getOrElse(pack, 0L) + math.min(nTok.toLong, cumTok - pack * PackBudget)
      }
      packTokens.foreach { case (p, t) =>
        if (t > PackBudget) failures += s"curate $lang pack $p holds $t tokens > $PackBudget"
      }
    }
    if (rows.isEmpty) failures += "curate kept no document"
    val cs = digestCols
    val r = rows.toSeq.toDF(outCols: _*).agg(cs.head, cs.tail: _*).head()
    val want = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    val obs = Observation()
    tracer.setEnabled(true)
    span("curate") {
      val df = curated(out)
      span("noop.write") {
        df.observe(obs, cs.head, cs.tail: _*).write.format("noop").mode("overwrite").save()
      }
    }
    tracer.setEnabled(false)
    val m = obs.get
    expect(failures, "curate survivors and digest", (m("n"), m("h")), want)
    want
  }

  def iterate(): Pass = {
    val failures = scala.collection.mutable.Buffer.empty[String]
    iteration += 1
    val out = dir(s"ingest-out-$iteration")
    val (wall, cpu) = ingest(out, failures)
    val reruns = (1 to sizes.ingestReruns).map { _ =>
      timedS {
        val s = span("Extract.main rerun") { runExtract(all.toString, out.toString) }
        expect(failures, "rerun pending", s.get("pending"), Some(0L))
      }
    }
    expect(failures, "batches after re-runs",
      new ParquetManifestTable(out.resolve("documents").toString).committedBatches.size, 2)
    delete(out)
    Pass(nAll, wall, cpu, reruns, failures.toSeq)
  }

  def kernelRows: Seq[CrawlRow] = rows(sizes.kernelDocs / 2, sizes.kernelDocs / 4).take(sizes.kernelDocs)

  /** Task metrics of the traced iterations' `Extract` calls; a replay of
    * `Extract.main`'s default path through the public functions, one span
    * (and so one job group) per call, for a fresh and an incremental batch;
    * and `Curate.curate` over the replay's committed documents. */
  def layers(traces: Seq[Long], kernelUsPerDoc: Double, failures: scala.collection.mutable.Buffer[String]): Map[String, Double] = {
    val perIter = traces.map { t =>
      val ss = tracer.named("Extract.main fresh", t) ++ tracer.named("Extract.main incremental", t)
      val a = tracer.tasksOf(ss)
      Map(
        "ingest.fresh_s" -> tracer.named("Extract.main fresh", t).map(_.durS).sum,
        "ingest.incremental_s" -> tracer.named("Extract.main incremental", t).map(_.durS).sum,
        "ingest.jobs" -> a.jobs.toDouble,
        "ingest.shuffle_write_mb" -> a.shuffleWrite / 1048576.0,
        "ingest.spill_mb" -> a.spill / 1048576.0,
        "ingest.gc_s" -> ss.map(_.gcS).sum)
    }
    val out = dir("ingest-replay")
    delete(out)
    val docsTable = new ParquetManifestTable(out.resolve("documents").toString)
    val metricsTable = new ParquetManifestTable(out.resolve("metrics").toString)
    val trace = tracer.newTrace()
    var pendingRows = 0L
    tracer.setEnabled(true)
    tracer.span("replay") {
      Seq("fresh" -> fresh, "incremental" -> all).foreach { case (label, table) =>
        span(s"batch.$label") {
          val input = spark.read.parquet(table.toString)
            .select("url", "warc_ts", "html", "text", "lang").as[CrawlRow]
          val pending = span("Resume.pending") { Resume.pending(input, docsTable) }
          val pstat = span("pending.stats") {
            pending.agg(count(lit(1)), min(col("url")), max(col("url")), countDistinct(col("url"))).head()
          }
          pendingRows += pstat.getLong(3)
          val batchId = s"replay-$label"
          val docs = span("ExtractPipeline.extractDocsSkewAware") {
            ExtractPipeline.extractDocsSkewAware(pending, "", numPartitions = cores)
          }
          span("extract.only") { docs.toDF().write.format("noop").mode("overwrite").save() }
          span("TableIO.commit") { docsTable.commit(docs.toDF(), batchId) }
          val committed = span("TableIO.readBatch") { docsTable.readBatch(spark, batchId) }
          span("metrics.commit") {
            metricsTable.commit(ExtractPipeline.partitionMetrics(committed.as[ExtractedDoc])
              .withColumn("batch_id", lit(batchId)), batchId)
          }
        }
      }
    }
    tracer.setEnabled(false)
    expect(failures, "replay digest", Inputs.docDigest(docsTable.read(spark)), ref)
    val (survivors, _) = curateTraced(out, failures)
    def spansOf(name: String) = tracer.named(name, trace)
    val cur = spansOf("Curate.curate") ++ spansOf("noop.write")
    val ca = tracer.tasksOf(cur)
    def taskSum(name: String): TaskAgg = tracer.tasksOf(spansOf(name))
    val commitS = spansOf("TableIO.commit").map(_.durS).sum
    val extractOnlyS = spansOf("extract.only").map(_.durS).sum
    val files = Files.walk(out).iterator().asScala.count(p => Files.isRegularFile(p))
    delete(out)
    Metrics.medianOf(perIter) ++ Map(
      "resume.s" -> (spansOf("Resume.pending") ++ spansOf("pending.stats")).map(_.durS).sum,
      "resume.rows_per_pending" -> taskSum("pending.stats").recordsRead.toDouble / math.max(pendingRows, 1L),
      "tableio.commit_s" -> commitS,
      "tableio.write_s" -> (commitS - extractOnlyS),
      "tableio.bytes_written_mb" -> (taskSum("TableIO.commit").outputBytes + taskSum("metrics.commit").outputBytes) / 1048576.0,
      "tableio.files_written" -> files.toDouble,
      "scan.bytes_read_mb" -> tracer.tasks(spansOf("replay").head).inputBytes / 1048576.0,
      "curate.build_s" -> spansOf("Curate.curate").map(_.durS).sum,
      "curate.action_s" -> spansOf("noop.write").map(_.durS).sum,
      "curate.planning_s" -> cur.map(tracer.planningS).sum,
      "curate.jobs" -> ca.jobs.toDouble,
      "curate.shuffle_write_mb" -> ca.shuffleWrite / 1048576.0,
      "curate.shuffle_read_mb" -> ca.shuffleRead / 1048576.0,
      "curate.spill_mb" -> ca.spill / 1048576.0,
      "curate.gc_s" -> cur.map(_.gcS).sum,
      "curate.task_skew" -> ca.skew,
      "curate.survivors" -> survivors.toDouble,
      "curate.survivor_ratio" -> survivors.toDouble / nAll
    ) ++ extractMetrics(Seq(spansOf("extract.only")), nAll, kernelUsPerDoc)
  }
}
