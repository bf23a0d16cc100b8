package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, AsofJoinSql}

class AsofJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asofJoin: most recent right row at-or-before, null when none, <= tie included") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 00:00:05"), "p1"),
      (2L, 10L, ts("2024-01-01 00:00:10"), "p2"), // exactly at a right ts -> included
      (3L, 10L, ts("2024-01-01 00:00:02"), "p0"), // before any right row -> nulls
      (4L, 99L, ts("2024-01-01 00:00:30"), "px")  // key with no right rows at all
    ).toDF("event_id", "user_id", "ts", "tag")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:03"), 100L),
      (10L, ts("2024-01-01 00:00:10"), 200L),
      (10L, ts("2024-01-01 00:00:20"), 300L)
    ).toDF("user_id", "rts", "view_id")

    val out = AsofJoin.asofJoin(left, right, Seq("user_id"), "ts", "rts", Seq("view_id"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(out.toSeq == Seq((1L, 100L), (2L, 200L), (3L, -1L), (4L, -1L)))
  }

  test("asofJoin ties at the max qualifying ts resolve to the greatest right struct") {
    val left = Seq((1L, 5L, ts("2024-01-01 01:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (5L, ts("2024-01-01 00:30:00"), 7L),
      (5L, ts("2024-01-01 00:30:00"), 9L)).toDF("user_id", "rts", "view_id")
    val out = AsofJoin.asofJoin(left, right, Seq("user_id"), "ts", "rts", Seq("view_id"))
      .collect().head
    assert(out.getLong(3) == 9L)
  }

  test("null semantics: null-ts/null-key right rows never match; null left rows pass through") {
    val left = Seq(
      (1L, Option(10L), Option(ts("2024-01-01 00:00:05"))),
      (2L, Option(10L), Option.empty[java.sql.Timestamp]), // null left ts -> null carry
      (3L, Option.empty[Long], Option(ts("2024-01-01 00:00:05"))) // null left key -> null carry
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (Option(10L), Option.empty[java.sql.Timestamp], 42L), // null rts: must NOT carry
      (Option.empty[Long], Option(ts("2024-01-01 00:00:01")), 43L), // null key: must NOT match null-key left
      (Option(10L), Option(ts("2024-01-01 00:00:03")), 44L)
    ).toDF("user_id", "rts", "view_id")
    for (sharded <- Seq(false, true)) {
      val out = (if (sharded)
          AsofJoin.asofJoinSharded(left, right, Seq("user_id"), "ts", "rts", Seq("view_id"), 3600L)
        else AsofJoin.asofJoin(left, right, Seq("user_id"), "ts", "rts", Seq("view_id")))
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
      assert(out.toSeq == Seq((1L, 44L), (2L, -1L), (3L, -1L)), s"sharded=$sharded")
    }
  }

  test("asofJoinSharded == asofJoin on the events table across shard widths") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts").as("view_ts"))
      .agg(max(col("event_id")).as("view_event_id"))
      .select(col("user_id"), col("view_ts"), col("view_event_id"))
    val plain = AsofJoin.asofJoin(purchases, views, Seq("user_id"), "ts", "view_ts",
      Seq("view_event_id", "view_ts")).orderBy("event_id").collect()
    assert(plain.nonEmpty && plain.exists(!_.isNullAt(4)) && plain.exists(_.isNullAt(4)),
      "fixture must exercise both matched and unmatched rows")
    // shard boundaries at 1h, 1d, and 1 week: carries must cross shards
    for (shardSec <- Seq(3600L, 86400L, 604800L)) {
      val sharded = AsofJoin.asofJoinSharded(purchases, views, Seq("user_id"), "ts", "view_ts",
        Seq("view_event_id", "view_ts"), shardSeconds = shardSec).orderBy("event_id").collect()
      assert(sharded.toSeq == plain.toSeq, s"shardSeconds=$shardSec")
    }
    // with a session checkpoint dir the shard frame takes the durable
    // df.checkpoint() path: files land in the dir, rows are unchanged
    SparkTestBase.withCheckpointDir {
      val reliable = AsofJoin.asofJoinSharded(purchases, views, Seq("user_id"), "ts", "view_ts",
        Seq("view_event_id", "view_ts"), shardSeconds = 86400L)
        .orderBy("event_id").collect()
      assert(SparkTestBase.checkpointFiles().nonEmpty, "reliable checkpoint wrote no files")
      assert(reliable.toSeq == plain.toSeq, "the reliable checkpoint must be row-identical")
    }
  }

  test("SQL recipe handles catalog-qualified table names (global_temp.x)") {
    val left = Seq((1L, 10L, ts("2024-01-01 00:00:05"))).toDF("event_id", "user_id", "t")
    val right = Seq((10L, ts("2024-01-01 00:00:03"), 7L)).toDF("user_id", "rt", "v")
    left.createOrReplaceGlobalTempView("asof_q_left")
    right.createOrReplaceGlobalTempView("asof_q_right")
    val sql = AsofJoinSql.sqlRecipe(spark, "global_temp.asof_q_left", "global_temp.asof_q_right",
      Seq("user_id"), "t", "rt", Seq("v"))
    val out = spark.sql(sql).collect()
    assert(out.length == 1 && out.head.getLong(3) == 7L)
  }

  test("SQL recipe reproduces the q37 asof join through spark.sql") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts").as("view_ts"))
      .agg(max(col("event_id")).as("view_event_id"))
      .select(col("user_id"), col("view_ts"), col("view_event_id"))
    purchases.createOrReplaceTempView("asof_sql_left")
    views.createOrReplaceTempView("asof_sql_right")
    val sql = AsofJoinSql.sqlRecipe(spark, "asof_sql_left", "asof_sql_right",
      Seq("user_id"), "ts", "view_ts", Seq("view_event_id", "view_ts"))
    val viaSql = spark.sql(sql).orderBy("event_id").collect().map(_.toString).toSeq
    val viaApi = AsofJoin.asofJoin(purchases, views, Seq("user_id"), "ts", "view_ts",
      Seq("view_event_id", "view_ts")).orderBy("event_id").collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
  }

  test("registerView: q37 end-to-end through a pure-SQL session") {
    // everything after the raw table reference is SQL: the input prep, the
    // registered as-of view, and the final query — no Scala at query time
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .createOrReplaceTempView("asof_ev_sql")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW asof_v_left AS
      SELECT event_id, user_id, ts, value FROM asof_ev_sql WHERE event_type = 'purchase'""")
    spark.sql("""CREATE OR REPLACE TEMPORARY VIEW asof_v_right AS
      SELECT user_id, ts AS view_ts, max(event_id) AS view_event_id
      FROM asof_ev_sql WHERE event_type = 'view' GROUP BY user_id, ts""")
    AsofJoinSql.registerView(spark, "asof_v_joined", "asof_v_left", "asof_v_right",
      Seq("user_id"), "ts", "view_ts", Seq("view_event_id", "view_ts"))
    val viaView = spark.sql("SELECT * FROM asof_v_joined ORDER BY event_id")
      .collect().map(_.toString).toSeq
    val viaQuery = graft.SparkEntry.queries("q37_asof_join")(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("view_event_id"), col("view_ts"))
      .collect().map(_.toString).toSeq
    assert(viaView.nonEmpty && viaView == viaQuery)
  }

  test("SQL recipe escapes hostile column names (embedded backtick and quote)") {
    val left = Seq((1L, 10L, ts("2024-01-01 00:00:05"))).toDF("event_id", "user_id", "t")
    val right = Seq((10L, ts("2024-01-01 00:00:03"), 7L)).toDF("user_id", "rt", "v`x'y")
    left.createOrReplaceTempView("asof_esc_left")
    right.createOrReplaceTempView("asof_esc_right")
    val sql = AsofJoinSql.sqlRecipe(spark, "asof_esc_left", "asof_esc_right",
      Seq("user_id"), "t", "rt", Seq("v`x'y"))
    val out = spark.sql(sql).collect()
    assert(out.length == 1 && out.head.getLong(3) == 7L)
  }
}
