package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Gate for the Bloom membership sketch: (a) NO false negatives — the
  * property the exact-confirm plan depends on for correctness, (b) false
  * positives bounded near the design rate, (c) bit-identical filters under
  * any partitioning/merge order, (d) the one-pass shingle probe matches
  * the declarative shingle construction, (e) SQL registration. */
class BloomFilterSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val members = (1 to 2000).map(i => s"key-$i")
  private def build(df: org.apache.spark.sql.DataFrame, numBits: Int, k: Int): Array[Byte] =
    df.agg(Natives.bloomBuild(Seq(col("v")), numBits, k)).head().getAs[Array[Byte]](0)

  test("no false negatives: every inserted key probes true") {
    val (numBits, k) = BloomFunctions.shape(members.size.toLong, 10)
    val ser = build(members.toDF("v"), numBits, k)
    val misses = members.toDF("v")
      .where(!Natives.bloomMightContain(Seq(lit(ser), col("v"))))
      .count()
    assert(misses == 0L, "a Bloom filter must never produce a false negative")
  }

  test("false-positive rate near the design point (10 bits/key ~ 1%)") {
    val (numBits, k) = BloomFunctions.shape(members.size.toLong, 10)
    val ser = build(members.toDF("v"), numBits, k)
    val probes = 20000
    val fps = (1 to probes).map(i => s"absent-$i").toDF("v")
      .where(Natives.bloomMightContain(Seq(lit(ser), col("v"))))
      .count()
    val rate = fps.toDouble / probes
    assert(rate < 0.03, s"fp rate $rate should be ~0.009 at 10 bits/key, allow < 3%")
    assert(rate > 0.0005, s"fp rate $rate implausibly low for $probes probes — probe broken?")
  }

  test("merge-order independence: bit-identical filter under any partitioning") {
    val df = members.toDF("v")
    val (numBits, k) = BloomFunctions.shape(members.size.toLong, 10)
    val base = build(df.repartition(1), numBits, k)
    for (parts <- Seq(2, 7, 32)) {
      assert(java.util.Arrays.equals(base, build(df.repartition(parts), numBits, k)),
        s"byte-OR merge must be partitioning-exact (parts=$parts)")
    }
  }

  test("duplicates and nulls are no-ops; empty input builds an all-zero filter") {
    val (numBits, k) = BloomFunctions.shape(100L, 10)
    val once = build((1 to 100).map(i => s"x-$i").toDF("v"), numBits, k)
    val thrice = build(((1 to 100) ++ (1 to 100) ++ (1 to 100)).map(i => s"x-$i")
      .toDF("v"), numBits, k)
    assert(java.util.Arrays.equals(once, thrice))
    val withNulls = build(((1 to 100).map(i => s"x-$i") ++ Seq(null, null))
      .toDF("v"), numBits, k)
    assert(java.util.Arrays.equals(once, withNulls))
    val empty = build(Seq.empty[String].toDF("v"), numBits, k)
    assert(empty.drop(8).forall(_ == 0), "empty build = header + zero bits")
    val hits = members.toDF("v")
      .where(Natives.bloomMightContain(Seq(lit(empty), col("v")))).count()
    assert(hits == 0L, "an empty filter contains nothing")
  }

  test("bloom_shingle_hits == declarative shingle scan + probe") {
    val docs = Seq(
      (1L, "a b c d e f g"), // 5 full 3-shingles
      (2L, "a b c a b c a b"), // repeated shingles dedup in-row
      (3L, "x y"), // shorter than w: 0 shingles
      (4L, null.asInstanceOf[String]),
      (5L, " a  b ") // empties kept by the split discipline
    ).toDF("id", "text")
    val w = 3
    // filter over the shingles of doc 1 only
    val benchSh = graft.operators.Decontaminate
      .benchmarkShingles(docs.where($"id" === 1L), "id", "text", w)
    val (numBits, k) = BloomFunctions.shape(benchSh.count(), 12)
    val ser = benchSh.agg(Natives.bloomBuild(Seq(col("sh")), numBits, k))
      .head().getAs[Array[Byte]](0)
    val got = docs.where($"text".isNotNull)
      .select($"id", Natives.bloomShingleHits(Seq($"text", lit(ser)), w).as("p"))
      .select($"id", $"p.n_shingles".as("n"), $"p.hits".as("hits"))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getSeq[String](2).toSet))).toMap
    // declarative truth: distinct full-width shingle md5s per doc
    val truth = graft.operators.Decontaminate.shingleMd5s(
        docs.where($"text".isNotNull), "id", "text", w)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, rows) => (id, rows.map(_._2).toSet) }
    val benchSet = benchSh.collect().map(_.getString(0)).toSet
    for ((id, shs) <- truth) {
      assert(got(id)._1 == shs.size, s"doc $id distinct-shingle count")
      // no false negatives: every true member of the filter must be a hit
      assert((shs intersect benchSet).subsetOf(got(id)._2), s"doc $id missed true hits")
      // every reported hit is one of the doc's own shingles
      assert(got(id)._2.subsetOf(shs), s"doc $id reported foreign shingles")
    }
    assert(!got.contains(4L))
    // first-occurrence order and in-row dedup: doc 2 has 3 distinct shingles
    assert(got(2L)._1 == 3)
  }

  test("SQL registration: bloom_build / bloom_might_contain / bloom_shingle_hits") {
    GraftFunctions.register(spark)
    members.toDF("v").createOrReplaceTempView("bloom_keys")
    val row = spark.sql(
      """WITH f AS (SELECT bloom_build(v, 32768, 7) AS bf FROM bloom_keys)
        |SELECT bloom_might_contain(bf, 'key-7') AS hit,
        |       bloom_shingle_hits('key-7 key-8 key-9', bf, 1).n_shingles AS n
        |FROM f""".stripMargin).head()
    assert(row.getBoolean(0), "inserted key must probe true via SQL")
    assert(row.getInt(1) == 3)
  }

  test("shape: rounding, k choice, and the 128 MB cap guard") {
    val (bits, k) = BloomFunctions.shape(1000L, 10)
    assert(bits >= 10000 && bits % 64 == 0)
    assert(k == 7) // round(10 * ln 2)
    assert(BloomFunctions.shape(0L, 10)._1 == 64)
    val e = intercept[IllegalArgumentException] {
      BloomFunctions.shape(1L << 40, 10)
    }
    assert(e.getMessage.contains("2^30"))
  }

  test("fits: the 2^30-bit cap boundary at 10 bits/key, the arithmetic shape enforces") {
    // 107374182 keys x 10 bits round up to exactly 2^30 bits; one more
    // key needs the next multiple of 64
    assert(BloomFunctions.fits(107374182L, 10))
    assert(BloomFunctions.shape(107374182L, 10)._1 == (1 << 30))
    assert(!BloomFunctions.fits(107374183L, 10))
    intercept[IllegalArgumentException](BloomFunctions.shape(107374183L, 10))
    assert(BloomFunctions.fits(0L, 10))
    assert(!BloomFunctions.fits(1L << 40, 10))
  }
}
