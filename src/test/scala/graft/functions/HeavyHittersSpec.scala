package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.operators.TextAnalysis

class HeavyHittersSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("MgBuffer: superset guarantee and count lower bound hold under insert + merge") {
    // adversarial stream: one heavy item drowned in k distinct fillers,
    // split across several buffers merged in different orders
    val rnd = new scala.util.Random(7)
    val stream = rnd.shuffle(
      (Seq.fill(400)("heavy") ++ (1 to 900).map(i => s"f$i") ++ Seq.fill(120)("warm")).toList)
    val exact = stream.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    val n = stream.size.toLong
    for (k <- Seq(4, 16, 64); nChunks <- Seq(1, 3, 7)) {
      val bufs = stream.grouped(math.max(1, stream.size / nChunks)).map { chunk =>
        val b = new MgBuffer(k)
        chunk.foreach(b.insert)
        b
      }.toSeq
      val merged = bufs.reduceLeft { (a, b) => a.mergeFrom(b); a }
      assert(merged.n == n)
      assert(merged.counts.size <= k)
      val bound = n.toDouble / (k + 1)
      exact.foreach { case (item, c) =>
        if (c > bound)
          assert(merged.counts.containsKey(item), s"k=$k chunks=$nChunks missing $item (count $c > $bound)")
      }
      // stored counts never overestimate and undercount by at most n/(k+1)
      merged.counts.forEach { (item, lb) =>
        val c = exact(item)
        assert(lb <= c, s"$item lb=$lb exact=$c")
        assert(c - lb <= bound + 1e-9, s"$item undercount ${c - lb} > $bound")
      }
    }
  }

  test("misra_gries aggregate: n exact, candidates a superset of the qualifying set") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tokens = docs.select(explode(split(col("text"), " ")).as("token"))
    val n = tokens.count()
    val k = 64
    val row = tokens.agg(Natives.misraGries(Seq(col("token")), k).as("mg"))
      .select(col("mg.n"), col("mg.items")).head()
    assert(row.getLong(0) == n)
    val cands = row.getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)).toSet
    assert(cands.size <= k)
    val qualifying = tokens.groupBy("token").count()
      .where(col("count") > n.toDouble / (k + 1))
      .collect().map(_.getString(0)).toSet
    assert(qualifying.subsetOf(cands), (qualifying -- cands).mkString(","))
  }

  test("misra_gries breaks count ties in Spark's string order (code points, not UTF-16 units)") {
    GraftFunctions.register(spark)
    val privateUse = "\uE000"
    val emoji = new String(Character.toChars(0x1F600)) // a surrogate pair in UTF-16
    Seq("x", emoji, "x", privateUse).toDF("t").createOrReplaceTempView("hh_ties")
    val sparkOrder = spark.sql("SELECT DISTINCT t FROM hh_ties WHERE t <> 'x' ORDER BY t")
      .collect().map(_.getString(0)).toSeq
    assert(sparkOrder == Seq(privateUse, emoji))
    val items = spark.sql("SELECT misra_gries(t, 8).items.item FROM hh_ties").head()
      .getSeq[String](0)
    assert(items == "x" +: sparkOrder)
  }

  test("heavyHitterTokens == exact group-by-having, partitioning-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n")).where(col("n") >= 500)
      .orderBy("token").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(exact.nonEmpty, "fixture needs at least one heavy token")
    for (parts <- Seq(2, 13)) {
      val hh = TextAnalysis.heavyHitterTokens(docs.repartition(parts), "text", minFreq = 500)
        .orderBy("token").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(hh == exact, s"parts=$parts")
    }
  }
}
