package graft.exec

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The execution rules every corpus operator shares: how a frame with
  * several consumers is materialized, how its counts are read off that
  * materialization, how observation names stay unique, and how duplicate
  * ids fail loudly. */
private[graft] object Exec {

  private val metricSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `prefix` plus a process-unique suffix: an observed-metric node name
    * (CollectMetrics names must be unique per query). */
  def metricName(prefix: String): String = s"${prefix}_${metricSeq.incrementAndGet()}"

  /** Materialization point for the expensive frames, and per-round plan
    * truncation for the iterative algorithms. A frame that feeds several
    * plan consumers (self-join sides, the block-stats aggregate, verify
    * join-backs) is RE-EXECUTED per consumer — measured 6-10 full sketch
    * evaluations per candidate query, since exchange reuse only dedupes
    * canonically-identical stages; one eager checkpoint bounds it at one
    * evaluation, and the stored rows are compact projections, never
    * document text.
    *
    * Durability follows the deployment: when the session has a checkpoint
    * dir (`spark.checkpoint.dir`, or `sparkContext.setCheckpointDir`) the
    * blocks land there via `df.checkpoint()` and survive executor loss;
    * otherwise `localCheckpoint()` keeps them on the executors — fast, but
    * an executor loss makes the RDD unrecoverable and aborts the job. */
  def checkpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** [[checkpoint]] `df` and read `metrics` (aggregates over `df`'s
    * columns) off that one job as an observed metric named after
    * `prefix` — no separate count job. Only if Spark reports no observed
    * row are the same aggregates run over the checkpoint, so a checkpoint
    * mode that stops reporting metrics costs a job, never correctness. */
  def checkpointCounted(df: DataFrame, prefix: String, metrics: Column*): (DataFrame, Row) = {
    val name = metricName(prefix)
    val obs = df.observe(name, metrics.head, metrics.tail: _*)
    val ck = checkpoint(obs)
    val row = obs.queryExecution.observedMetrics.getOrElse(name,
      ck.agg(metrics.head, metrics.tail: _*).head())
    (ck, row)
  }

  /** One row per DISTINCT id of `df`, raise_error'ing loudly (naming the
    * id and operator) when any id appears more than once — the shared
    * anchor for per-document operators whose outputs would otherwise
    * silently merge duplicate-id copies. The guard is a Filter, which
    * Catalyst never prunes: a consumer that selects only some output
    * columns still runs it. The grouped count rides the id shuffle a
    * distinct() would have taken anyway. */
  def checkedIdAnchor(df: DataFrame, idCol: String, op: String): DataFrame =
    df.select(col(idCol).as("id")).groupBy(col("id"))
      .agg(count(lit(1)).as("__copies"))
      .where(when(col("__copies") === 1, lit(true))
        .otherwise(raise_error(concat(
          lit(s"$op: duplicate input id (ids must be unique): "),
          coalesce(col("id").cast("string"), lit("null")))).cast("boolean")))
      .select(col("id"))

  /** NULL-SAFE left join of a per-id result frame onto the checked id
    * anchor — the shared tail of the flag/keep-first operators. A
    * (necessarily unique — the anchor raise_errors on duplicates) null-id
    * document groups its own rows under id = null in the aggregate, and
    * an equality join would silently drop that match — the unsafe
    * direction for a contamination gate. `right` must carry an `id`
    * column; the join returns anchor.id as `id` plus right's other
    * columns (null for unmatched anchors). */
  def anchorLeftJoin(anchor: DataFrame, right: DataFrame): DataFrame = {
    val rightCols = right.columns.filter(_ != "id").map(c => col(s"__rt.$c").as(c)).toSeq
    anchor.alias("__an")
      .join(right.alias("__rt"), col("__an.id") <=> col("__rt.id"), "left")
      .select(col("__an.id").as("id") +: rightCols: _*)
  }

  /** Run `body`, then remove the `rdd-*` directories it added to the
    * session checkpoint dir, and the application directory Spark made for
    * them when nothing else is in it: reliable checkpoints are read only
    * within the run that wrote them, and Spark never deletes them. With
    * no checkpoint dir set this is just `body`. */
  def withRunCheckpoints[T](spark: SparkSession)(body: => T): T =
    spark.sparkContext.getCheckpointDir match {
      case None => body
      case Some(d) =>
        val dir = new Path(d)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def rddDirs(): Set[Path] =
          Option(fs.globStatus(new Path(dir, "rdd-*"))).fold(Set.empty[Path])(_.map(_.getPath).toSet)
        val before = rddDirs()
        try body
        finally {
          (rddDirs() -- before).foreach(fs.delete(_, true))
          if (before.isEmpty && fs.exists(dir) && fs.listStatus(dir).isEmpty) fs.delete(dir, false)
        }
    }
}
