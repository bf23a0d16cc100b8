package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval-containment) join: points joined to the intervals of the
  * same key that contain them. Spark plans a raw `p.key = i.key AND p.ts
  * BETWEEN i.s AND i.e` as an equi-join on the key with the range as a
  * post-filter — correct, but one hot key degenerates to a per-key cross
  * product. The bucketized form turns containment into an EQUI-join:
  * intervals explode to the fixed-width time buckets they cover, points
  * carry their single bucket, the join runs on (key, bucket) and the exact
  * BETWEEN filter prunes the bucket-boundary false positives.
  *
  * A (point, interval) pair can meet in at most ONE bucket (the point's),
  * so no post-join dedup is needed. Cost is linear: each interval
  * materializes span/bucketSeconds rows (reported via the observed metrics
  * `n_intervals` / `max_buckets_per_interval` — pick `bucketSeconds` near
  * the typical interval length so the blow-up stays O(1) per interval),
  * and the shuffle is spread across every (key, bucket) pair rather than
  * serializing a hot key.
  *
  * Bucket indices come from SECOND-truncated epochs; truncation is
  * monotone, so s <= pt <= e implies bucket(pt) lies in the interval's
  * covered range — the equi-join never misses a true containment, and the
  * full-precision BETWEEN keeps exactness.
  */
object RangeJoin {

  def rangeJoin(points: DataFrame, intervals: DataFrame, keys: Seq[String],
                ptTs: String, startTs: String, endTs: String,
                bucketSeconds: Long = 86400L): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val collide = points.columns.toSet.intersect(intervals.columns.toSet) -- keys.toSet
    require(collide.isEmpty, s"non-key columns present on both sides: $collide")
    require(!(points.columns ++ intervals.columns).contains("__bucket"),
      "inputs use the rangeJoin-reserved column name __bucket")
    val sB = floor(unix_timestamp(col(startTs)) / lit(bucketSeconds)).cast("long")
    val eB = floor(unix_timestamp(col(endTs)) / lit(bucketSeconds)).cast("long")
    val iv = intervals
      .where(col(endTs) >= col(startTs))
      .observe(s"range_join_${Dedup.nextMetricSeq()}",
        count(lit(1)).as("n_intervals"),
        max(eB - sB + 1).as("max_buckets_per_interval"))
      .withColumn("__bucket", explode(sequence(sB, eB)))
    points
      .withColumn("__bucket", floor(unix_timestamp(col(ptTs)) / lit(bucketSeconds)).cast("long"))
      .join(iv, keys :+ "__bucket")
      .where(col(ptTs) >= col(startTs) && col(ptTs) <= col(endTs))
      .drop("__bucket")
  }
}
