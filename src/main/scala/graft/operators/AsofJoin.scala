package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-at-or-before) join — the temporal join Spark has no
  * built-in operator for (DuckDB: ASOF JOIN, which is exactly the q37
  * oracle; kdb: aj; Flink: temporal table join).
  *
  * For every left row, attach the single most recent right row of the same
  * key whose timestamp is <= the left row's timestamp (NULLs when none).
  *
  * NOT implemented as a range join: `l JOIN r ON l.key = r.key AND r.ts <=
  * l.ts` explodes quadratically per key before the per-group top-1 prunes
  * it. Instead the classic union-sort formulation: tag both sides, union,
  * ONE window per key ordered by (ts, side) with a running
  * last(right-value, ignoreNulls) carry-forward — one shuffle on the key,
  * linear work, O(1) state per row. Right rows sort BEFORE left rows at an
  * equal timestamp, giving the <= (not <) semantic.
  */
object AsofJoin {

  private def packed(left: DataFrame, right: DataFrame, keys: Seq[String],
                     leftTs: String, rightTs: String,
                     rightCols: Seq[String]): DataFrame = {
    require(rightCols.nonEmpty, "asofJoin needs at least one right value column")
    val collide = left.columns.toSet.intersect(rightCols.toSet)
    require(collide.isEmpty, s"right value columns collide with left columns: $collide")
    val reserved = Set("__ts", "__side", "__lval", "__rval", "__carried", "__shard",
      "__in", "__before", "__last")
    val taken = (left.columns ++ right.columns).toSet.intersect(reserved)
    require(taken.isEmpty, s"inputs use asofJoin-reserved column names: $taken")
    val keyCols = keys.map(col)
    // SQL join null semantics: a right row with a null key or null
    // timestamp can never match (NULL comparisons are false in the
    // oracle's ASOF ON clause), so it must not enter the union — left on
    // its own, the asc sort would place a null-__ts right row FIRST in
    // the window and its value would be carried into every left row.
    // Left rows always pass through: a null-key left row partitions with
    // only other left rows (right nulls are gone) and a null-__ts left
    // row sorts before every right row — both naturally carry NULL.
    val rPacked = right
      .where((keyCols.map(_.isNotNull) :+ col(rightTs).isNotNull).reduce(_ && _))
      .select((keyCols :+ col(rightTs).as("__ts") :+
        struct(rightCols.map(col): _*).as("__rval")): _*)
    val rType = rPacked.schema("__rval").dataType
    val lPacked = left.select((keyCols :+ col(leftTs).as("__ts") :+
      struct(left.columns.map(col): _*).as("__lval")): _*)
    val lType = lPacked.schema("__lval").dataType
    lPacked.withColumn("__side", lit(1)).withColumn("__rval", lit(null).cast(rType))
      .unionByName(
        rPacked.withColumn("__side", lit(0)).withColumn("__lval", lit(null).cast(lType)))
  }

  private def project(u: DataFrame, rightCols: Seq[String]): DataFrame =
    u.where(col("__side") === 1)
      .select((col("__lval.*") +: rightCols.map(c => col(s"__carried.$c").as(c))): _*)

  /** Single-window as-of join. Output = all left columns ++ `rightCols`
    * (null-filled when no right row precedes). Ties: right rows sharing the
    * max qualifying timestamp resolve to the greatest `rightCols` struct
    * (deterministic); pre-aggregate the right side to one row per (key, ts)
    * when a specific tie rule matters.
    *
    * Scale shape: one hash shuffle on `keys`, one sort per partition. A
    * single key's whole timeline sorts in one task — for keys carrying
    * millions of rows use [[asofJoinSharded]]. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               rightCols: Seq[String]): DataFrame = {
    val u = packed(left, right, keys, leftTs, rightTs, rightCols)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc, col("__rval").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    project(u.withColumn("__carried", last(col("__rval"), ignoreNulls = true).over(w)),
      rightCols)
  }

  /** Time-sharded as-of join for skewed keys (the packTokensSharded trick
    * applied to time): the timeline of each key is cut into contiguous
    * `shardSeconds` intervals, the carry-forward window runs per
    * (key, shard) — sort parallelism = keys x shards — and the value
    * entering each shard from the past is reconstructed with a SECOND,
    * tiny window over the per-(key, shard) LAST right values (one row per
    * key-shard, strictly-preceding frame), joined back and coalesced.
    * Result is row-identical to [[asofJoin]] (AsofJoinSpec asserts
    * equality across shard widths). */
  def asofJoinSharded(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String,
                      rightCols: Seq[String], shardSeconds: Long = 86400L): DataFrame = {
    require(shardSeconds > 0, "shardSeconds must be positive")
    val keyCols = keys.map(col)
    // the union feeds three plan consumers (within-shard window, per-shard
    // last values, shard list) — materialize it once instead of re-reading
    // and re-tagging both inputs per consumer (the Dedup sketch-frame rule)
    val u = Dedup.checkpointDf(packed(left, right, keys, leftTs, rightTs, rightCols)
      .withColumn("__shard", floor(unix_timestamp(col("__ts")) / lit(shardSeconds)).cast("long")))

    // carry within each (key, shard)
    val wIn = Window.partitionBy((keyCols :+ col("__shard")): _*)
      .orderBy(col("__ts").asc, col("__side").asc, col("__rval").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = u.withColumn("__in", last(col("__rval"), ignoreNulls = true).over(wIn))

    // one row per (key, shard): the last right value the shard ends with;
    // then the boundary carry = last such value over all STRICTLY earlier
    // shards (keys x shards rows — tiny relative to the data)
    val shardLast = u.where(col("__side") === 0)
      .groupBy((keyCols :+ col("__shard")): _*)
      .agg(max_by(col("__rval"), struct(col("__ts"), col("__rval"))).as("__last"))
    val wAcross = Window.partitionBy(keyCols: _*).orderBy(col("__shard").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = u.select((keyCols :+ col("__shard")): _*).distinct()
      .join(shardLast, keys :+ "__shard", "left")
      .withColumn("__before", last(col("__last"), ignoreNulls = true).over(wAcross))
      .select((keyCols :+ col("__shard") :+ col("__before")): _*)

    project(within.join(boundary, keys :+ "__shard", "left")
      .withColumn("__carried", coalesce(col("__in"), col("__before"))),
      rightCols)
  }
}
