package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Property gate for the quantile sketch (approximate by nature, no
  * DuckDB oracle): empirical rank error against exact brute-force
  * quantiles across distributions and partitionings, plus the exactness
  * and surface contracts. */
class QuantileSketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def approxQuantiles(v: Column, k: Int): Column = Natives.approxQuantiles(Seq(v), k)
  private def approxRank(v: Column, k: Int, probe: Long): Column =
    Natives.approxRanks(Seq(v), k, probe)

  private val K = 256
  // normalized rank error bound for k=256 at these sizes (generous
  // multiple of the observed error; the theoretical bound is looser)
  private val RankTol = 0.02

  /** A value with ties covers the rank interval (#<v, #<=v]; the error of
    * an estimate is its distance from the target rank to that interval
    * (0 when the target falls inside — the estimate is exactly right). */
  private def rankError(sorted: Array[Long], v: Long, target: Long): Long = {
    def search(leq: Boolean): Long = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (if (leq) sorted(mid) <= v else sorted(mid) < v) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }
    val lt = search(leq = false)
    val le = search(leq = true)
    if (target > lt && target <= le) 0L
    else math.min(math.abs(target - (lt + 1)), math.abs(target - le))
  }

  private def checkErrors(values: Seq[Long], parts: Int, tag: String): Unit = {
    val sorted = values.sorted.toArray
    val n = sorted.length.toLong
    def check(p: Double, est: Long): Unit = {
      val target = math.ceil(p * n).toLong
      val err = rankError(sorted, est, target).toDouble / n
      assert(err <= RankTol, s"$tag p=$p est=$est target=$target err=$err")
    }
    val out = values.toDF("v").repartition(parts)
      .agg(approxQuantiles(col("v"), K).as("q"))
      .select("q.*").head()
    assert(out.getLong(0) == n, s"$tag: n")
    QuantileBuffer.Ps.zipWithIndex.foreach { case (p, i) => check(p, out.getLong(i + 1)) }
    // p10 is not in the aggregate's result: ask a buffer merged from
    // `parts` partial summaries
    val bufs = Array.fill(parts)(new QuantileBuffer(K))
    values.zipWithIndex.foreach { case (v, i) => bufs(i % parts).insert(v) }
    check(0.1, bufs.reduce { (a, b) => a.mergeFrom(b); a }.quantiles(Seq(0.1)).head)
  }

  test("rank error within bound: uniform, skewed, constant-heavy, across partitionings") {
    val uniform = (1L to 100000L)
    val skewed = (1L to 100000L).map(i => i * i % 999983L)
    val heavy = Seq.fill(50000)(7L) ++ (1L to 50000L)
    for (parts <- Seq(1, 4, 13)) {
      checkErrors(uniform, parts, s"uniform/$parts")
      checkErrors(skewed, parts, s"skewed/$parts")
      checkErrors(heavy, parts, s"heavy/$parts")
    }
  }

  test("small inputs are EXACT (everything fits in level 0 buffers)") {
    val vs = Seq(5L, 1L, 9L, 3L, 7L)
    val out = vs.toDF("v").coalesce(1)
      .agg(approxQuantiles(col("v"), K).as("q"))
      .select("q.*").head()
    assert(out.getLong(0) == 5L)
    assert(out.getLong(1) == 5L) // p50 of {1,3,5,7,9}
    assert(out.getLong(2) == 9L && out.getLong(3) == 9L)
    val buf = new QuantileBuffer(K)
    vs.foreach(buf.insert(_))
    assert(buf.quantiles(Seq(0.2, 0.5, 1.0)).toSeq == Seq(1L, 5L, 9L))
  }

  test("nulls ignored; empty input reports n=0") {
    val out = Seq(Some(1L), None, Some(3L)).toDF("v")
      .agg(approxQuantiles(col("v"), K).as("q"))
      .select("q.*").head()
    assert(out.getLong(0) == 2L && out.getLong(3) == 3L)
    val empty = Seq.empty[Long].toDF("v")
      .agg(approxQuantiles(col("v"), K).as("q"))
      .select("q.*").head()
    assert(empty.getLong(0) == 0L)
  }

  test("grouped usage tracks per-group exact quantiles on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val approx = docs.groupBy("lang")
      .agg(approxQuantiles(col("n_chars"), K).as("q"))
      .select(col("lang"), col("q.n"), col("q.p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.operators.Stats.exactQuantiles(docs, "lang", "n_chars", Seq(0.5))
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("p50"))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (lang, (n, p50)) =>
      assert(approx(lang)._1 == n)
      // group sizes here are < K per level, so the sketch should be exact
      // or within one compaction step of the exact answer
      val rel = math.abs(approx(lang)._2 - p50).toDouble / math.max(p50, 1L)
      assert(rel <= 0.05, s"$lang approx=${approx(lang)._2} exact=$p50")
    }
  }

  test("SQL registration matches the DataFrame API") {
    GraftFunctions.register(spark)
    (1L to 9999L).toDF("v").createOrReplaceTempView("aq_items")
    val viaSql = spark.sql(s"SELECT approx_quantiles(v, $K) AS q FROM aq_items")
      .select("q.*").head()
    val viaApi = (1L to 9999L).toDF("v")
      .agg(approxQuantiles(col("v"), K).as("q"))
      .select("q.*").head()
    // same single-partition insertion order -> identical deterministic result
    assert(viaSql.toSeq == viaApi.toSeq)
  }

  test("approx_ranks: inverse query within the rank bound across distributions and partitionings") {
    def exactRank(sorted: Array[Long], x: Long): Long = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) <= x) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }
    val uniform = (1L to 100000L).toSeq
    val skewed = (1L to 100000L).map(i => i * i % 999983L)
    val heavy = Seq.fill(50000)(7L) ++ (1L to 50000L)
    for ((values, tag) <- Seq((uniform, "uniform"), (skewed, "skewed"), (heavy, "heavy"));
         parts <- Seq(1, 4, 13)) {
      val sorted = values.sorted.toArray
      val n = sorted.length.toLong
      val probes = Seq(sorted(0) - 1, sorted(n.toInt / 10), sorted(n.toInt / 2),
        sorted(n.toInt - n.toInt / 100), sorted.last + 1).distinct.sorted
      // one approx_ranks column per probe, each struct(n, r_<probe>)
      val cols = probes.map(x => approxRank(col("v"), K, x))
      val out = values.toDF("v").repartition(parts).agg(cols.head, cols.tail: _*).head()
      val ests = probes.indices.map { i =>
        assert(out.getStruct(i).getLong(0) == n)
        out.getStruct(i).getLong(1)
      }
      probes.zip(ests).foreach { case (x, est) =>
        val err = math.abs(est - exactRank(sorted, x)).toDouble / n
        assert(err <= RankTol, s"$tag/$parts probe=$x est=$est exact=${exactRank(sorted, x)}")
      }
      // CDF points are monotone in the probe by construction
      assert(ests == ests.sorted)
      // below-min probes report 0, above-max report n (exactly)
      assert(ests.head == 0L && ests.last == n)
    }
  }

  test("approx_ranks: small inputs exact; nulls ignored; SQL form matches the API") {
    val vs = Seq(5L, 1L, 9L, 3L, 7L)
    val out = vs.toDF("v").coalesce(1)
      .agg(approxRank(col("v"), K, 0L), approxRank(col("v"), K, 3L), approxRank(col("v"), K, 9L))
      .head()
    assert((0 to 2).map(i => out.getStruct(i).toSeq) ==
      Seq(Seq(5L, 0L), Seq(5L, 2L), Seq(5L, 5L)))
    val withNulls = Seq(Some(1L), None, Some(3L)).toDF("v")
      .agg(approxRank(col("v"), K, 2L).as("r"))
      .select("r.*").head()
    assert(withNulls.toSeq == Seq(2L, 1L))
    GraftFunctions.register(spark)
    (1L to 9999L).toDF("v").createOrReplaceTempView("ar_items")
    val viaSql = spark.sql(s"SELECT approx_ranks(v, $K, 5000L) AS r FROM ar_items")
      .select("r.*").head()
    val viaApi = (1L to 9999L).toDF("v")
      .agg(approxRank(col("v"), K, 5000L).as("r"))
      .select("r.*").head()
    assert(viaSql.toSeq == viaApi.toSeq)
    // negative probes name with 'm' (no bare minus in a struct field)
    val neg = Seq(-5L, 0L, 5L).toDF("v")
      .agg(approxRank(col("v"), K, -5L).as("r"))
      .select("r.*")
    assert(neg.columns.toSeq == Seq("n", "r_m5"))
    assert(neg.head().toSeq == Seq(3L, 1L))
  }

  test("k bounds are require-guarded") {
    intercept[IllegalArgumentException] {
      Seq(1L).toDF("v").agg(approxQuantiles(col("v"), 4)).head()
    }
  }
}
