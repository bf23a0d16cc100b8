package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Test oracle: the group-by form of [[ExtractPipeline.partitionMetrics]]
  * that preceded the per-partition fold, kept verbatim. It shuffles the
  * documents by `spark_partition_id()`; the fold must give the same rows
  * and the same schema without that exchange. Not used by any main code.
  */
object PartitionMetricsReference {

  def partitionMetrics(docs: Dataset[ExtractedDoc]): DataFrame =
    docs.groupBy(spark_partition_id().as("partition_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_failed"),
        sum(col("n_objects")).as("n_objects"),
        sum(col("n_streams")).as("n_streams"),
        sum(col("n_filters")).as("n_filters"),
        sum(col("n_errors")).as("n_errors"),
        min(col("url")).as("url_min"),
        max(col("url")).as("url_max"))
}
