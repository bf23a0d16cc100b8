package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide counters: executor CPU (summed from task ends), GC time,
  * all-thread allocated bytes, and old-generation occupancy. The CPU
  * listener runs in every run — it is how `cpu_s_per_1k_docs` is measured,
  * not part of tracing. */
final class Meter(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val cpuNs = new AtomicLong(0L)
  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
  })
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
    .getOrElse(sys.error("no old-generation heap pool (the benchmark runs with -XX:+UseParallelGC)"))

  /** Executor CPU seconds delivered so far (drains the listener bus). */
  def cpuS(): Double = { Bus.drain(sc); cpuNs.get / 1e9 }

  def gcS(): Double = gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Bytes allocated by every live thread, by thread id. Threads that end
    * between two snapshots take their count with them; Spark's task and
    * shuffle pools keep their threads, so the loss is small. */
  def allocByThread(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  def currentThreadAlloc(): Long = threads.getCurrentThreadAllocatedBytes

  /** Old-generation occupancy after a full GC: the live set at this point.
    * A GC finds the finished iteration's RDDs unreachable; Spark's cleaner
    * then drops their cached and checkpointed blocks, and the next GC frees
    * those. So GC, pause and GC again until the reading stops falling. */
  def liveOldGenMb(): Double = {
    def collected(): Double = { System.gc(); oldGen.getUsage.getUsed / 1048576.0 }
    var last = collected()
    var cur = { Thread.sleep(200); collected() }
    var rounds = 1
    while (cur < last * 0.99 && rounds < 5) {
      Thread.sleep(200)
      last = cur
      cur = collected()
      rounds += 1
    }
    cur
  }
}

object Meter {
  def allocDelta(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (id, b) => b - before.getOrElse(id, 0L) }.filter(_ > 0).sum
}

/** Task metrics attributed to one span (through the job group). */
final class TaskAgg {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var outputBytes = 0L
  /** (stage id, task duration ms) */
  val durations = ArrayBuffer.empty[(Int, Long)]

  def add(o: TaskAgg): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; recordsRead += o.recordsRead; outputBytes += o.outputBytes; durations ++= o.durations
  }

  /** max / median task time of the stage with the most task time. */
  def skew: Double =
    if (durations.isEmpty) 0.0
    else {
      val (_, ds) = durations.groupBy(_._1).maxBy(_._2.map(_._2).sum)
      val sorted = ds.map(_._2.toDouble).sorted
      val med = Stats.median(sorted.toSeq)
      if (med <= 0) 0.0 else sorted.last / med
    }
}

/** One timed call into a layer. `trace` groups the spans of one iteration;
  * `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startNs: Long, startMs: Long, gcStartS: Double, allocStart: Map[Long, Long]) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  var gcS: Double = 0.0
  var allocBytes: Long = 0L
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, with Spark task
  * metrics attributed to the innermost open span: each span sets its own job
  * group, and a listener maps job -> stages -> span. Spans stay in memory
  * and are written out once, after the run. With `enabled = false` a span is
  * just its body: no job group, no listener. */
final class Tracer(spark: SparkSession, meter: Meter) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var traceId = 0L
  private var installed = false
  var enabled = false

  private val stageToSpan = new ConcurrentHashMap[Int, Long]()
  private val aggs = new ConcurrentHashMap[Long, TaskAgg]()
  /** (phase start epoch ms, planning ms) per query execution */
  private val plannings = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val GroupPrefix = "graftbench-span-"

  private def install(): Unit = if (!installed) {
    installed = true
    sc.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g.startsWith(GroupPrefix)) {
          val id = g.stripPrefix(GroupPrefix).toLong
          j.stageIds.foreach(s => stageToSpan.put(s, id))
          val a = aggs.computeIfAbsent(id, _ => new TaskAgg)
          a.synchronized(a.jobs += 1)
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val id = stageToSpan.get(t.stageId)
        if (id != 0L && t.taskMetrics != null) {
          val m = t.taskMetrics
          val a = aggs.computeIfAbsent(id, _ => new TaskAgg)
          a.synchronized {
            a.tasks += 1
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.spill += m.diskBytesSpilled
            a.inputBytes += m.inputMetrics.bytesRead
            a.recordsRead += m.inputMetrics.recordsRead
            a.outputBytes += m.outputMetrics.bytesWritten
            a.durations += ((t.stageId, t.taskInfo.duration))
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        if (ph.nonEmpty)
          plannings.add((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  def setEnabled(on: Boolean): Unit = { if (on) install(); enabled = on }

  /** Starts a new iteration: later root spans get a fresh trace id. */
  def newTrace(): Long = { traceId += 1; traceId }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, parent.map(_.id).getOrElse(0L), traceId, name,
        System.nanoTime(), System.currentTimeMillis(), meter.gcS(), meter.allocByThread())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcS = meter.gcS() - s.gcStartS
        s.allocBytes = Meter.allocDelta(s.allocStart, meter.allocByThread())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  def named(name: String, trace: Long = -1L): Seq[Span] =
    spans.toSeq.filter(s => s.name == name && (trace < 0 || s.trace == trace))

  private def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Task metrics of the span and everything under it. */
  def tasks(s: Span): TaskAgg = {
    Bus.drain(sc)
    val out = new TaskAgg
    (s +: descendants(s)).foreach { x =>
      val a = aggs.get(x.id)
      if (a != null) a.synchronized(out.add(a))
    }
    out
  }

  def tasksOf(ss: Seq[Span]): TaskAgg = {
    val out = new TaskAgg
    ss.foreach(s => out.add(tasks(s)))
    out
  }

  /** Catalyst analysis + optimization + planning time of every query that
    * started inside the span. */
  def planningS(s: Span): Double = {
    Bus.drain(sc)
    plannings.asScala.filter { case (t, _) => t >= s.startMs && t <= s.endMs }
      .map(_._2).sum / 1e3
  }

  /** Duration minus the part covered by direct children (children of one
    * span run one after another on the single caller thread). */
  def selfS(s: Span): Double = s.durS - spans.filter(_.parent == s.id).map(_.durS).sum

  def writeJson(path: java.nio.file.Path): Unit = {
    Bus.drain(sc)
    val sb = new StringBuilder("{\"spans\":[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      val a = Option(aggs.get(s.id)).getOrElse(new TaskAgg)
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},"""
      sb ++= s""""start_ns":${s.startNs},"end_ns":${s.endNs},"dur_s":${s.durS},"self_s":${selfS(s)},"""
      sb ++= s""""gc_s":${s.gcS},"alloc_bytes":${s.allocBytes},"jobs":${a.jobs},"tasks":${a.tasks},"""
      sb ++= s""""task_run_ms":${a.runMs},"task_cpu_ns":${a.cpuNs},"shuffle_write":${a.shuffleWrite},"""
      sb ++= s""""shuffle_read":${a.shuffleRead},"spill":${a.spill},"input_bytes":${a.inputBytes},"""
      sb ++= s""""output_bytes":${a.outputBytes}}"""
    }
    sb ++= "\n]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
