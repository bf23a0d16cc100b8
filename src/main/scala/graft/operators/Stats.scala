package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.exec.Exec

/** Exact distributed order statistics.
  *
  * Spark's built-in exact `percentile` collects each group's values into
  * one aggregation buffer (row-space — a giant group OOMs its reducer),
  * and `approx_percentile` trades exactness away. For integral metrics
  * (lengths, counts, scores) whose VALUE space is far smaller than the
  * row space, exact quantiles reduce to a histogram cumulation:
  * aggregate (group, value) counts — the only row-space pass, map-side
  * combined — then cumulate counts over the distinct values per group
  * and select ranks. The shuffle carries one row per DISTINCT (group,
  * value) pair, never per input row.
  */
object Stats {

  /** Exact per-group quantiles of an integral column, lower-rank (type-1)
    * definition: quantile p = the smallest value whose cumulative count
    * reaches ceil(p * n). Pure integer selection — no interpolation — so
    * any engine computes the identical result (q48's DuckDB oracle).
    *
    * Output: (group, n, p<XX> per requested p). Caveat: each group's
    * DISTINCT values flow through one window partition; that is the
    * operator's scaling assumption (value spaces like document lengths
    * are bounded), and it is why the row-space never sees a window. The
    * assumption is ENFORCED, not just documented: a group whose distinct
    * values exceed `maxDistinctValuesPerGroup` raise_errors loudly
    * (naming the group) instead of silently serializing its value set
    * into one hot window task, and the largest per-group distinct count
    * is emitted as an observed metric (`max_distinct_values_per_group`)
    * on every run. For near-continuous columns (epoch micros, byte
    * sizes) pass `valueResolution` > 1: values are pre-quantized to
    * floor(v / res) * res (exact integer arithmetic, correct for
    * negatives), and the result is then EXACT over the quantized value
    * space — i.e. each pXX is the smallest bucket floor whose cumulative
    * count reaches the rank, off from the true quantile by < res. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
                     valueResolution: Long = 1L,
                     maxDistinctValuesPerGroup: Long = 4L << 20): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantiles must lie in (0, 1], got $ps")
    require(valueResolution >= 1L, s"valueResolution must be >= 1, got $valueResolution")
    require(maxDistinctValuesPerGroup >= 1L,
      s"maxDistinctValuesPerGroup must be >= 1, got $maxDistinctValuesPerGroup")
    // filter on the CAST value: a non-numeric string or NaN casts to
    // null after passing a raw isNotNull, and a (g, null) histogram row
    // would silently inflate every cum/n in its group
    val vCast = col(valueCol).cast("long")
    // floor-multiple quantization in pure longs: v - ((v % res + res) % res)
    // is floor(v/res)*res for either sign (Spark's / on longs is double
    // division and loses exactness past 2^53)
    val vq =
      if (valueResolution == 1L) vCast
      else {
        val res = lit(valueResolution)
        vCast - ((vCast % res + res) % res)
      }
    val hist = df
      .where(vCast.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"), vq.as("v"))
      .agg(count(lit(1)).as("c"))
    // ---- the distinct-value cap, enforced BEFORE the per-group window
    // ever materializes a hot partition: the per-group distinct count is
    // a distributed hash aggregate (partial-combined, no hot task), the
    // over-cap group list is broadcast (normally EMPTY — the splitBlocks
    // pattern), and the map-side filter below raise_errors on the first
    // row of an offending group, so a near-continuous column fails loudly
    // in the scan stage instead of serializing into one window sort.
    // (The observed max_distinct_values_per_group metric rides the FINAL
    // aggregate instead of this frame: a CollectMetrics node on the
    // broadcast build side never reaches queryExecution.observedMetrics.)
    val ndv = hist.groupBy(col("g")).agg(count(lit(1)).as("__ndv"))
    val overCap = ndv.where(col("__ndv") > lit(maxDistinctValuesPerGroup))
    val checked = hist
      .join(broadcast(overCap), Seq("g"), "left")
      .where(Exec.check(col("__ndv").isNull,
        lit("exactQuantiles: group "), Exec.shown(col("g")),
        lit(" has "), col("__ndv").cast("string"),
        lit(s" distinct values (cap $maxDistinctValuesPerGroup); " +
          "pass valueResolution to quantize, or use Spark's kll_sketch_agg_bigint " +
          "for an unbounded value space")))
      .drop("__ndv")
    // distinct v per (g, v) group => ROWS and RANGE frames agree; rows
    // keeps the Spark side aligned with the oracle's default range frame
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.partitionBy(col("g"))
    val cum = checked
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wG))
    val names = ps.map(pName)
    require(names.distinct.size == names.size, s"quantile names collide: $names")
    val picks: Seq[Column] = ps.zip(names).map { case (p, name) =>
      min(when(col("cum") >= ceil(col("n") * lit(p)), col("v"))).as(name)
    }
    // cum has one row per (g, v), so count(*) here is the group's
    // distinct-value count again — the metric rides the main query (the
    // internal __ndv column is dropped after the CollectMetrics node)
    cum.groupBy(col("g"))
      .agg(max(col("n")).as("n"), (picks :+ count(lit(1)).as("__ndv")): _*)
      .observe(Exec.metricName("exact_quantiles"),
        max(col("__ndv")).as("max_distinct_values_per_group"))
      .drop("__ndv")
  }

  /** The column name of quantile p: `p<percent>` for a whole percent, else
    * `p<basis points>bp` (p50 vs p50bp). "Whole" is a tolerance test, not an
    * equality: 0.29 * 100 is 28.999... in doubles and must still name p29. */
  private def pName(p: Double): String = {
    val b = (p * 100).round
    if (math.abs(b.toDouble - p * 100) < 1e-9) s"p$b" else s"p${(p * 10000).round}bp"
  }

  /** CORPUS-RELATIVE threshold gate (the FineWeb-style complement to
    * Curate's absolute quality gate): drop the documents whose integral
    * score lands in the bottom `dropPpm` parts-per-million of the corpus,
    * whatever absolute value that threshold happens to be this crawl.
    *
    * Exact integer selection: with n scored documents, k = n * dropPpm
    * div 1_000_000 may be dropped, and the threshold is the (k+1)-th
    * smallest score INCLUDING duplicates — every document with score >=
    * threshold is kept, so value ties never split nondeterministically
    * (ties at the cut survive; the kept count is >= n - k). Any engine
    * reproduces the decision bit-for-bit (q65's DuckDB oracle).
    *
    * Output: (id, score, thr, kept) — score/kept=0 for documents whose
    * score is null (they never rank), thr the global cut value. Ids must
    * be unique (checked anchor).
    *
    * Scale shape, the [[exactQuantiles]] histogram discipline globalized:
    * the only row-space pass is the map-side-combined (score -> count)
    * histogram, the cumulation runs over DISTINCT score values in one
    * window task (bounded value space — ENFORCED by
    * `maxDistinctValues` raise_error before the window, quantize with
    * [[exactQuantiles]]'s valueResolution trick upstream if needed), and
    * the 1-row threshold broadcasts back onto the full frame. */
  def relativeGate(df: DataFrame, idCol: String, scoreCol: String,
                   dropPpm: Long,
                   maxDistinctValues: Long = 4L << 20): DataFrame = {
    require(dropPpm >= 0L && dropPpm <= 1000000L,
      s"dropPpm must lie in [0, 1000000], got $dropPpm")
    require(maxDistinctValues >= 1L,
      s"maxDistinctValues must be >= 1, got $maxDistinctValues")
    val scores = df
      .select(col(idCol).as("id"), col(scoreCol).cast("long").as("score"))
      .where(col("score").isNotNull)
    val hist = scores.groupBy(col("score").as("v")).agg(count(lit(1)).as("c"))
    val totals = hist.agg(coalesce(sum(col("c")), lit(0L)).as("n"),
      count(lit(1)).as("__ndv"))
    // cap enforced BEFORE the single-task cum window, the exactQuantiles
    // rule: a near-continuous score column fails loudly in the scan stage
    val checked = hist.crossJoin(broadcast(totals))
      .where(Exec.check(col("__ndv") <= lit(maxDistinctValues),
        lit("relativeGate: score column has "), col("__ndv").cast("string"),
        lit(s" distinct values (cap $maxDistinctValues); quantize the " +
          "score upstream (floor-multiple, the exactQuantiles " +
          "valueResolution arithmetic) before gating")))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thrRow = checked
      .withColumn("cum", sum(col("c")).over(wCum))
      .agg(min(when(col("cum") >= expr(s"n * ${dropPpm}L div 1000000L") + lit(1L),
        col("v"))).as("thr"))
    Exec.checkedIdAnchor(df, idCol, "Stats.relativeGate")
      .join(scores, Seq("id"), "left")
      .crossJoin(broadcast(thrRow))
      .select(col("id"), col("score"), col("thr"),
        coalesce((col("score") >= col("thr")).cast("long"), lit(0L)).as("kept"))
  }
}
