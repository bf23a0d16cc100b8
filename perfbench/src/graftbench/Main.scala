package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** Metric names and units. End-to-end metrics come from untraced
  * iterations; per-layer metrics from the traced run. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "cpu_s_per_1k_docs" -> "s", "rerun_s" -> "s",
    "heap_live_peak_mb" -> "MB", "setup_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "pdf.us_per_doc_p50" -> "us", "pdf.us_per_doc_p99" -> "us", "pdf.alloc_kb_per_doc" -> "KB",
    "pdf.objects_per_doc" -> "count", "pdf.filters_per_doc" -> "count",
    "pdf.failed_docs" -> "count", "pdf.over_1s_docs" -> "count",
    "html.us_per_doc_p50" -> "us", "html.us_per_doc_p99" -> "us", "html.alloc_kb_per_doc" -> "KB",
    "html.in_mb_per_s" -> "MB/s", "html.out_bytes_per_in_kb" -> "B/KB",
    "extract.task_s" -> "s", "extract.task_cpu_s" -> "s", "extract.gc_s" -> "s",
    "extract.alloc_mb_per_1k_docs" -> "MB", "extract.wrap_us_per_doc" -> "us",
    "extract.task_skew" -> "ratio",
    "resume.s" -> "s", "resume.rows_per_pending" -> "ratio", "tableio.commit_s" -> "s",
    "tableio.write_s" -> "s", "tableio.bytes_written_mb" -> "MB", "tableio.files_written" -> "count",
    "scan.bytes_read_mb" -> "MB",
    "ingest.fresh_s" -> "s", "ingest.incremental_s" -> "s", "ingest.jobs" -> "count",
    "ingest.shuffle_write_mb" -> "MB", "ingest.spill_mb" -> "MB", "ingest.gc_s" -> "s",
    "curate.build_s" -> "s", "curate.action_s" -> "s", "curate.planning_s" -> "s",
    "curate.jobs" -> "count", "curate.shuffle_write_mb" -> "MB", "curate.shuffle_read_mb" -> "MB",
    "curate.spill_mb" -> "MB", "curate.gc_s" -> "s", "curate.task_skew" -> "ratio",
    "curate.survivors" -> "count", "curate.survivor_ratio" -> "ratio",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  /** Key-wise median over per-iteration metric maps. */
  def medianOf(per: Seq[Map[String, Double]]): Map[String, Double] =
    per.flatMap(_.keys).distinct.map(k => k -> Stats.median(per.flatMap(_.get(k)))).toMap

  def json(values: Map[String, Double], units: Seq[(String, String)]): String =
    Json.obj(units.map { case (k, u) =>
      k -> s"""{"value":${Json.num(values.getOrElse(k, 0.0))},"unit":${Json.str(u)}}"""
    })
}

/** The benchmark's entry point; see perfbench/README.md.
  *
  * {{{
  * graftbench.Main --workload extract|ingest --seed N --seconds S
  *   --trace 0|1 --work DIR [--size full|small]
  * }}}
  * Writes `result.json` (the contract line), `diagnostics.json` and, when
  * traced, `spans.json` into DIR.
  */
object Main {
  /** Rows per core of the fixed-work noise sentinel (an xxhash64 fold). */
  private val SentinelRowsPerCore = 20000000L

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    val sizes = opts.getOrElse("size", "full") match {
      case "full" => Sizes.full
      case "small" => Sizes.small
      case s => sys.error(s"unknown --size $s")
    }
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    if (workload == "train")
      // class-loading pass for the build's class-data-sharing archive: the
      // traced ingest path at the self-test size (curate included) loads
      // nearly every class either workload needs
      run(spark, sessionS, "ingest", 0L, 0.0, trace = true, work, Sizes.small, training = true)
    else {
      val (result, diag) = run(spark, sessionS, workload, opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", work, sizes, training = false)
      Files.writeString(work.resolve("diagnostics.json"), diag + "\n")
      Files.writeString(work.resolve("result.json"), result + "\n")
    }
    spark.stop()
  }

  /** One workload run in a running session, at least `seconds` long;
    * returns the result line and the diagnostics line. A training run makes
    * one iteration. */
  private def run(spark: SparkSession, sessionS: Double, workload: String, seed: Long, seconds: Double,
                  trace: Boolean, work: Path, sizes: Sizes, training: Boolean): (String, String) = {
    val cores = spark.sparkContext.defaultParallelism
    Files.createDirectories(work)
    val meter = new Meter(spark)
    val tracer = new Tracer(spark, meter)
    val ctx = new Ctx(spark, meter, tracer, work, cores, seed, sizes)
    val wl: Workload = workload match {
      case "extract" => new ExtractWorkload(ctx)
      case "ingest" => new IngestWorkload(ctx)
      case w => sys.error(s"unknown workload $w")
    }

    val prepS = (1 to sizes.setupReps).map(r => ctx.timedS(wl.prepare(r)))
    var setupFailures: Seq[String] = Nil
    val warmS = ctx.timedS { setupFailures = wl.warmUp() }
    val setupS = sessionS + Stats.median(prepS) + warmS

    def sentinel(): Double = ctx.timedS {
      spark.range(0L, SentinelRowsPerCore * cores, 1L, cores).select(bit_xor(xxhash64(col("id")))).collect()
    }
    sentinel()
    val sentinelS = math.min(sentinel(), sentinel())

    // closed loop, one caller: each iteration starts when the previous one
    // returns. A traced run interleaves untraced and traced iterations in
    // the order U T T U U T T U ..., so the tracing overhead is measured
    // inside one run and a drift in speed over the run hits both alike.
    final case class Done(pass: Pass, traced: Boolean, trace: Long, heapMb: Double)
    val done = ArrayBuffer.empty[Done]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a traced run needs an untraced and a traced iteration at least
    val minIters = if (training) 1 else math.max(wl.minIters, if (trace) 2 else 1)
    while (done.size < minIters || System.nanoTime() < deadline) {
      val traced = trace && (done.size % 4 == 1 || done.size % 4 == 2)
      tracer.setEnabled(traced)
      val id = tracer.newTrace()
      val pass =
        try tracer.span("iteration")(wl.iterate())
        catch {
          case NonFatal(e) =>
            e.printStackTrace()
            Pass(0L, 0.0, 0.0, Nil, Seq(s"iteration threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      tracer.setEnabled(false)
      done += Done(pass, traced, id, meter.liveOldGenMb())
    }
    val sentinelEndS = sentinel()

    // every checked operation: the set-up, each iteration, and (traced) the
    // layer replay
    val checked = ArrayBuffer[Seq[String]](setupFailures.map("set-up: " + _))
    checked ++= done.map(_.pass.failures)
    val untraced = done.filter(d => !d.traced && d.pass.failures.isEmpty).map(_.pass)
    val tracedOk = done.filter(d => d.traced && d.pass.failures.isEmpty)

    val metricsJson =
      if (!trace) {
        val m = Map(
          "docs_per_s" -> Stats.median(untraced.map(p => p.docs / p.wallS).toSeq),
          "cpu_s_per_1k_docs" -> Stats.median(untraced.map(p => p.cpuS / p.docs * 1000).toSeq),
          "rerun_s" -> Stats.median(untraced.flatMap(_.reruns).toSeq),
          "heap_live_peak_mb" -> done.map(_.heapMb).max,
          "setup_s" -> setupS)
        Metrics.json(m, Metrics.endToEnd)
      } else {
        val kernel = Kernels.replay(wl.kernelRows, meter)
        val layerFailures = ArrayBuffer.empty[String]
        val layers = wl.layers(tracedOk.map(_.trace).toSeq, kernel.usPerDocMix, layerFailures)
        checked += layerFailures.map("replay: " + _).toSeq
        val tWall = Stats.median(tracedOk.map(_.pass.wallS).toSeq)
        val uWall = Stats.median(untraced.map(_.wallS).toSeq)
        val m = kernel.metrics ++ layers ++ Map(
          "trace.overhead_pct" -> (if (uWall > 0) (tWall / uWall - 1) * 100 else 0.0),
          "trace.spans" -> tracer.all.size.toDouble)
        tracer.writeJson(work.resolve("spans.json"))
        Metrics.json(m, Metrics.perLayer)
      }

    val attempted = checked.size
    val failed = checked.count(_.nonEmpty)
    checked.flatten.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val diag = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "iterations" -> done.size.toString,
      "traced_iterations" -> done.count(_.traced).toString,
      "failed_frac" -> s"""{"value":${Json.num(failed.toDouble / attempted)},"unit":"fraction"}""",
      "sentinel_s" -> Json.num(sentinelS),
      "sentinel_end_s" -> Json.num(sentinelEndS),
      "session_s" -> Json.num(sessionS),
      "prepare_s" -> prepS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> Json.num(warmS),
      "iteration_wall_s" -> done.map(d => Json.num(d.pass.wallS)).mkString("[", ",", "]"),
      "iteration_traced" -> done.map(_.traced).mkString("[", ",", "]")))
    (s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metricsJson}""", diag)
  }
}
