package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Stats

class StatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def bruteQuantile(vs: Seq[Long], p: Double): Long = {
    val sorted = vs.sorted
    sorted(math.ceil(p * vs.size).toInt - 1) // 1-based lower rank
  }

  test("exactQuantiles == brute-force lower-rank selection on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val byLang = docs.select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.groupBy(_._1)
    val out = Stats.exactQuantiles(docs, "lang", "n_chars").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == byLang.keySet)
    byLang.foreach { case (lang, rows) =>
      val vs = rows.map(_._2)
      val r = out(lang)
      assert(r.getAs[Long]("n") == vs.size)
      assert(r.getAs[Long]("p50") == bruteQuantile(vs, 0.5), s"$lang p50")
      assert(r.getAs[Long]("p90") == bruteQuantile(vs, 0.9), s"$lang p90")
      assert(r.getAs[Long]("p99") == bruteQuantile(vs, 0.99), s"$lang p99")
    }
  }

  test("edge cases: single value, heavy ties, p=1.0, null rows excluded") {
    val df = Seq(
      ("a", Some(5L)), ("a", Some(5L)), ("a", Some(5L)),     // all ties
      ("b", Some(1L)), ("b", Some(2L)), ("b", Some(100L)),
      ("b", None), (null, Some(9L))                          // null value/group dropped
    ).toDF("g", "v")
    val out = Stats.exactQuantiles(df, "g", "v", Seq(0.5, 1.0))
      .orderBy("g").collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "a" && out(0).getAs[Long]("n") == 3L &&
      out(0).getAs[Long]("p50") == 5L && out(0).getAs[Long]("p100") == 5L)
    assert(out(1).getString(0) == "b" && out(1).getAs[Long]("n") == 3L &&
      out(1).getAs[Long]("p50") == 2L && out(1).getAs[Long]("p100") == 100L)
  }

  test("distinct-value cap raise_errors on a near-continuous column, naming the group") {
    val df = (1L to 500L).map(i => ("hot", i * 1000003L)).toDF("g", "v")
    val e = intercept[Exception] {
      Stats.exactQuantiles(df, "g", "v", maxDistinctValuesPerGroup = 100L).collect()
    }
    val msg = SparkTestBase.causeMessages(e).mkString("\n")
    assert(msg.contains("exactQuantiles") && msg.contains("hot") && msg.contains("500"))
    // the message points at Spark's KLL sketch, which answers over the same frame
    assert(msg.contains("kll_sketch_agg_bigint"), msg)
    val median = df.agg(expr("kll_sketch_get_quantile_bigint(kll_sketch_agg_bigint(v), 0.5)"))
      .head().getLong(0)
    val rank = (1L to 500L).count(_ * 1000003L <= median)
    assert(math.abs(rank - 250) <= 25, s"median $median has rank $rank of 500")
  }

  test("valueResolution quantizes to floor multiples (negatives included) and un-trips the cap") {
    val df = ((1L to 500L).map(i => ("hot", i)) ++ Seq(("neg", -7L), ("neg", -3L), ("neg", 4L)))
      .toDF("g", "v")
    val out = Stats.exactQuantiles(df, "g", "v", Seq(0.5, 1.0),
        valueResolution = 10L, maxDistinctValuesPerGroup = 100L)
      .orderBy("g").collect()
    // hot: 500 values quantize to 51 buckets (0,10,...,500) — under the cap
    val hot = out(0)
    def floorQ(v: Long) = v - ((v % 10 + 10) % 10)
    val hotVs = (1L to 500L).map(floorQ).sorted
    assert(hot.getAs[Long]("n") == 500L)
    assert(hot.getAs[Long]("p50") == hotVs(math.ceil(0.5 * 500).toInt - 1))
    assert(hot.getAs[Long]("p100") == hotVs.last)
    // negatives floor toward -inf: -7 -> -10, -3 -> -10, 4 -> 0
    val neg = out(1)
    assert(neg.getAs[Long]("p50") == -10L && neg.getAs[Long]("p100") == 0L)
  }

  test("max_distinct_values_per_group observed metric rides the run") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Stats.exactQuantiles(docs, "lang", "n_chars")
    val expectNdv = docs.select("lang", "n_chars").where($"n_chars".isNotNull && $"lang".isNotNull)
      .distinct().groupBy("lang").count().agg(max("count")).head().getLong(0)
    out.collect()
    val metrics = out.queryExecution.observedMetrics
      .collect { case (k, v) if k.startsWith("exact_quantiles_") => v }
    assert(metrics.nonEmpty, s"no exact_quantiles metric in ${out.queryExecution.observedMetrics.keys}")
    assert(metrics.head.getAs[Long]("max_distinct_values_per_group") == expectNdv)
  }

  test("partitioning-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) = Stats.exactQuantiles(docs.repartition(parts), "lang", "n_chars")
      .orderBy("g").collect().map(_.toString).toSeq
    assert(run(2) == run(13))
  }

  test("relativeGate == brute-force (k+1)-th smallest threshold, ties survive") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dropPpm = 250000L
    val got = Stats.relativeGate(docs, "doc_id", "n_chars", dropPpm)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    val scored = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sorted = scored.map(_._2).sorted
    val k = (sorted.length.toLong * dropPpm / 1000000L).toInt
    val thr = sorted(k) // (k+1)-th smallest, 0-based
    scored.foreach { case (id, v) =>
      assert(got(id) == ((v, thr, if (v >= thr) 1L else 0L)), s"doc $id")
    }
    val keptN = got.values.count(_._3 == 1L)
    // ties at the cut keep >= n - k documents, and the gate drops SOME
    assert(keptN >= sorted.length - k && keptN < sorted.length)
  }

  test("relativeGate: null scores never rank and report kept=0") {
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(5L)), (4L, Some(20L)))
      .toDF("id", "v")
    val got = Stats.relativeGate(df, "id", "v", dropPpm = 340000L)
      .collect().map(r => (r.getLong(0),
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // n = 3 scored, k = 3*340000/1e6 = 1 -> thr = 2nd smallest = 10
    assert(got(2L) == ((-1L, 10L, 0L)))
    assert(got(3L) == ((5L, 10L, 0L)))
    assert(got(1L) == ((10L, 10L, 1L)))
    assert(got(4L) == ((20L, 10L, 1L)))
  }

  test("relativeGate edge ppm: 0 keeps every scored doc; 1e6 keeps none") {
    val df = Seq((1L, 3L), (2L, 7L)).toDF("id", "v")
    val all = Stats.relativeGate(df, "id", "v", 0L).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(all == Map(1L -> 1L, 2L -> 1L))
    val none = Stats.relativeGate(df, "id", "v", 1000000L).collect()
      .map(r => (r.getLong(0), (r.isNullAt(2), r.getLong(3)))).toMap
    assert(none == Map(1L -> ((true, 0L)), 2L -> ((true, 0L))))
  }

  test("relativeGate raise_errors past the distinct-value cap and on duplicate ids") {
    val wide = spark.range(0, 100).selectExpr("id", "id AS v")
    val ex = intercept[Exception] {
      Stats.relativeGate(wide, "id", "v", 100000L, maxDistinctValues = 10L).collect()
    }
    assert(SparkTestBase.causeMessages(ex).exists(_.contains("relativeGate")))
    val dup = Seq((1L, 5L), (1L, 6L)).toDF("id", "v")
    val ex2 = intercept[Exception] {
      Stats.relativeGate(dup, "id", "v", 0L).collect()
    }
    assert(SparkTestBase.causeMessages(ex2).exists(_.contains("duplicate input id")))
  }
}
