package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.SparkTestBase

/** TopKByScore: the bounded per-group top-k aggregate that replaces the
  * row_number window (the window shuffles every scored row; the aggregate
  * moves k rows per group per partition). Equivalence with the window
  * formulation is the correctness contract.
  */
class TopKAggregateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def explodeTop(df: org.apache.spark.sql.DataFrame) =
    df.select(col("g"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("g"), col("e.id").as("id"), (col("pos") + 1).as("rank"), col("e.score").as("score"))

  test("matches row_number window on deterministic pseudo-random data, any partitioning") {
    // deterministic scores via xxhash64; ties engineered by coarse rounding
    val rows = (0L until 3000L).map { i =>
      val g = i % 7
      val score = ((CrawlHash.h(i) % 1000L) + 1000L) % 1000L / 100.0 // many exact ties
      (g, i, score)
    }
    for (parts <- Seq(1, 4, 13)) {
      val df = rows.toDF("g", "id", "score").repartition(parts)
      val viaAgg = explodeTop(
          df.groupBy(col("g")).agg(Natives.topKByScore(Seq(col("score"), col("id")), 10).as("top")))
        .orderBy(col("g"), col("rank"))
        .collect().toSeq
      val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id").asc)
      val viaWindow = df.withColumn("rank", row_number().over(w).cast("int"))
        .where(col("rank") <= 10)
        .select(col("g"), col("id"), col("rank").cast("long"), col("score"))
        .orderBy(col("g"), col("rank"))
        .collect().toSeq
      assert(viaAgg == viaWindow, s"parts=$parts")
    }
  }

  test("exact duplicate (score, id) entries collapse to one slot") {
    val df = Seq((1L, 10L, 0.5), (1L, 10L, 0.5), (1L, 11L, 0.4), (1L, 12L, 0.3))
      .toDF("g", "id", "score").repartition(3)
    val top = explodeTop(
      df.groupBy(col("g")).agg(Natives.topKByScore(Seq(col("score"), col("id")), 2).as("top"))).collect()
    assert(top.map(r => (r.getLong(1), r.getDouble(3))).toSeq ==
      Seq((10L, 0.5), (11L, 0.4)))
  }

  test("groups smaller than k return all their rows, ordered") {
    val df = Seq((1L, 1L, 0.1), (1L, 2L, 0.9)).toDF("g", "id", "score")
    val top = explodeTop(
      df.groupBy(col("g")).agg(Natives.topKByScore(Seq(col("score"), col("id")), 5).as("top"))).collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(2L, 1L))
  }

  private object CrawlHash {
    def h(i: Long): Long = graft.sources.CrawlCorpus.splitmix64(i)
  }
}
