package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{RangeJoin, RangeJoinSql}

class RangeJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("rangeJoin: containment semantics, boundaries inclusive, no duplicate pairs") {
    val points = Seq(
      (1L, 10L, ts("2024-01-01 00:10:00")),
      (2L, 10L, ts("2024-01-03 00:00:00")), // exactly at an interval end
      (3L, 10L, ts("2024-01-05 00:00:00")), // outside every interval
      (4L, 20L, ts("2024-01-01 00:10:00"))  // right key, wrong user
    ).toDF("event_id", "user_id", "ts")
    val intervals = Seq(
      (100L, 10L, ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00")),
      (101L, 10L, ts("2024-01-02 00:00:00"), ts("2024-01-04 00:00:00"))
    ).toDF("interval_id", "user_id", "s", "e")

    // bucket width much smaller than the interval span: each interval
    // explodes to many buckets, pairs must still be unique
    val out = RangeJoin.rangeJoin(points, intervals, Seq("user_id"), "ts", "s", "e",
        bucketSeconds = 3600L)
      .select(col("event_id"), col("interval_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq((1L, 100L), (2L, 100L), (2L, 101L)))
  }

  test("rangeJoin == naive inequality join on the events table across bucket widths") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val windows = ev.where(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("ts").as("s"), (col("ts") + expr("INTERVAL 3 DAYS")).as("e"))
    val naive = clicks.join(windows.withColumnRenamed("user_id", "u2"),
        col("user_id") === col("u2") && col("ts") >= col("s") && col("ts") <= col("e"))
      .select(col("event_id"), col("signup_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(naive.nonEmpty)
    for (w <- Seq(3600L, 86400L, 7L * 86400L)) {
      val bucketed = RangeJoin.rangeJoin(clicks, windows, Seq("user_id"), "ts", "s", "e",
          bucketSeconds = w)
        .select(col("event_id"), col("signup_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(bucketed == naive, s"bucketSeconds=$w")
    }
  }

  test("SQL recipe reproduces the q44 range join through spark.sql") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val windows = ev.where(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("ts").as("s"), (col("ts") + expr("INTERVAL 3 DAYS")).as("e"))
    clicks.createOrReplaceTempView("range_sql_points")
    windows.createOrReplaceTempView("range_sql_intervals")
    val sql = RangeJoinSql.sqlRecipe(spark, "range_sql_points", "range_sql_intervals",
      Seq("user_id"), "ts", "s", "e", bucketSeconds = 86400L)
    val viaSql = spark.sql(sql)
      .select(col("event_id"), col("signup_id"), col("user_id"), col("ts"))
      .orderBy("event_id", "signup_id").collect().map(_.toString).toSeq
    val viaApi = RangeJoin.rangeJoin(clicks, windows, Seq("user_id"), "ts", "s", "e",
        bucketSeconds = 86400L)
      .select(col("event_id"), col("signup_id"), col("user_id"), col("ts"))
      .orderBy("event_id", "signup_id").collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
  }

  test("registerView: q44 end-to-end through a pure-SQL session") {
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .createOrReplaceTempView("range_ev_sql")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW range_v_points AS
      SELECT event_id, user_id, ts FROM range_ev_sql WHERE event_type = 'click'""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW range_v_intervals AS
      SELECT event_id AS signup_id, user_id, ts AS s, ts + INTERVAL 3 DAYS AS e
      FROM range_ev_sql WHERE event_type = 'signup'""")
    RangeJoinSql.registerView(spark, "range_v_joined", "range_v_points", "range_v_intervals",
      Seq("user_id"), "ts", "s", "e", bucketSeconds = 86400L)
    val viaView = spark.sql(
        "SELECT event_id, signup_id, user_id, ts FROM range_v_joined ORDER BY event_id, signup_id")
      .collect().map(_.toString).toSeq
    val viaQuery = graft.SparkEntry.queries("q44_range_join")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    assert(viaView.nonEmpty && viaView == viaQuery)
  }
}
