package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Property-style gate for the HLL aggregate: it is approximate vs the
  * truth (no DuckDB oracle can check it), so the spec pins (a) the
  * published error bound, (b) exact determinism under partitioning/merge
  * order, (c) duplicate insensitivity, (d) grouped + SQL surfaces. */
class HllSketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def hllDistinct(item: Column, p: Int): Column =
    Natives.hllDistinct(Seq(item), p)

  private val P = 12
  // standard error 1.04/sqrt(m); allow 4 sigma before failing the gate
  private val tol = 4.0 * 1.04 / math.sqrt((1 << P).toDouble)

  test("estimate within the published error bound across cardinalities") {
    for (n <- Seq(100, 1000, 10000, 60000)) {
      val est = (1 to n).map(i => s"item-$i").toDF("v")
        .agg(hllDistinct(col("v"), P)).head().getLong(0)
      val rel = math.abs(est - n).toDouble / n
      assert(rel <= tol, s"n=$n est=$est rel=$rel tol=$tol")
    }
  }

  test("merge-order independence: identical estimate under any partitioning") {
    val df = (1 to 20000).map(i => s"u-$i").toDF("v")
    def run(parts: Int): Long =
      df.repartition(parts).agg(hllDistinct(col("v"), P)).head().getLong(0)
    val e1 = run(1)
    assert(run(2) == e1 && run(13) == e1 && run(32) == e1,
      "register max-merge must make the estimate partitioning-exact")
  }

  test("duplicates are no-ops; nulls ignored; empty input estimates 0") {
    val base = (1 to 5000).map(i => s"d-$i")
    val dup = (base ++ base ++ base).toDF("v")
      .agg(hllDistinct(col("v"), P)).head().getLong(0)
    val once = base.toDF("v")
      .agg(hllDistinct(col("v"), P)).head().getLong(0)
    assert(dup == once)
    val withNulls = (base.map(Option(_)) ++ Seq.fill(100)(Option.empty[String])).toDF("v")
      .agg(hllDistinct(col("v"), P)).head().getLong(0)
    assert(withNulls == once)
    val empty = Seq.empty[String].toDF("v")
      .agg(hllDistinct(col("v"), P)).head().getLong(0)
    assert(empty == 0L)
  }

  test("grouped: per-language distinct-token estimate tracks the exact count") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tokens = docs.where(col("text").isNotNull)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val est = tokens.groupBy("lang").agg(hllDistinct(col("tok"), P).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = tokens.groupBy("lang").agg(countDistinct(col("tok")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (lang, c) =>
      val rel = math.abs(est(lang) - c).toDouble / math.max(c, 1L)
      assert(rel <= tol, s"lang=$lang exact=$c est=${est(lang)}")
    }
  }

  test("SQL registration matches the DataFrame API") {
    GraftFunctions.register(spark)
    (1 to 7777).map(i => s"s-$i").toDF("v").createOrReplaceTempView("hll_items")
    val viaSql = spark.sql(s"SELECT hll_distinct(v, $P) FROM hll_items").head().getLong(0)
    val viaApi = (1 to 7777).map(i => s"s-$i").toDF("v")
      .agg(hllDistinct(col("v"), P)).head().getLong(0)
    assert(viaSql == viaApi)
  }

  test("precision bounds are require-guarded") {
    intercept[IllegalArgumentException] {
      Seq("x").toDF("v").agg(hllDistinct(col("v"), 3)).head()
    }
    intercept[IllegalArgumentException] {
      Seq("x").toDF("v").agg(hllDistinct(col("v"), 19)).head()
    }
  }
}
