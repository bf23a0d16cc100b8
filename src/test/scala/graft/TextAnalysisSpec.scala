package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.functions.Natives

/** Sharded token packing: the corpus-scale variant of q35's per-language
  * window — packing invariants must hold per (lang, pack) regardless of the
  * salt fan-out. */
class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def counted(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("lang"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))

  test("packShardedOn: complete, unique ids, budget respected per pack") {
    val budget = 512
    val packed = TextAnalysis.packShardedOn(counted(docs), "lang", "doc_id",
      budget = budget, shards = 8).cache()

    // every document lands in exactly one pack
    assert(packed.count() == docs.count())
    assert(packed.select("doc_id").distinct().count() == docs.count())

    // cumulative-range packing (same semantics as q35): a pack covers one
    // budget-sized cumulative window, so its sum can overshoot only by its
    // first (boundary-straddling) document: sum < budget + max_doc_tokens
    val packs = packed.groupBy(col("lang"), col("pack_id"))
      .agg(sum(col("n_tokens")).as("tok"), count(lit(1)).as("n"),
        max(col("n_tokens")).as("max_tok"))
      .collect()
    packs.foreach { p =>
      val tok = p.getAs[Long]("tok")
      assert(tok < budget + p.getAs[Int]("max_tok"), s"pack over budget: $p")
    }

    // interleaved pack ids are globally unique across shards within a lang
    val dupPacks = packed.select("lang", "pack_id").distinct().count()
    assert(dupPacks == packs.length)
    packed.unpersist()
  }

  test("packShardedOn is deterministic across partitionings") {
    def fp(parts: Int) =
      TextAnalysis.packShardedOn(counted(docs.repartition(parts)), "lang", "doc_id",
          budget = 512, shards = 64)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getAs[Long]("pack_id"))).toSeq
    assert(fp(2) == fp(9))
  }

  test("hashSplit: disjoint exhaustive labels, proportions track ppm, growth-stable") {
    import spark.implicits._
    val keyed = docs.select(col("doc_id"), col("doc_id").cast("string").as("k"))
    val splits = Seq(("train", 800000L), ("val", 100000L), ("test", 100000L))
    val out = TextAnalysis.hashSplit(keyed, "k", splits)
    val counts = out.groupBy("split").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val n = keyed.count()
    assert(counts.values.sum == n, "every row gets exactly one label")
    assert(counts.keySet == Set("train", "val", "test"))
    // 500 docs at 80/10/10: binomial sd ~9 for train — allow generous bands
    assert(math.abs(counts("train") - 0.8 * n) < 0.08 * n, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 0.1 * n) < 0.06 * n)
    // growth stability: the same rows keep their labels inside a larger corpus
    val grown = keyed.union(
      keyed.select((col("doc_id") + 10000).as("doc_id"),
        (col("doc_id") + 10000).cast("string").as("k")))
    val before = out.select("doc_id", "split").collect().map(_.toString).toSet
    val after = TextAnalysis.hashSplit(grown, "k", splits)
      .where(col("doc_id") < 10000).select("doc_id", "split")
      .collect().map(_.toString).toSet
    assert(after == before, "existing assignments must not move when the corpus grows")
    // partitioning-independent
    val rep = TextAnalysis.hashSplit(keyed.repartition(13), "k", splits)
      .select("doc_id", "split").collect().map(_.toString).toSet
    assert(rep == before)
    // null keys surface as null labels, not a silent bucket
    val withNull = Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("doc_id", "k")
    val nl = TextAnalysis.hashSplit(withNull, "k", splits)
      .orderBy("doc_id").collect().map(r => Option(r.getString(2)))
    assert(nl(0).isDefined && nl(1).isEmpty)
    // guards
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.hashSplit(keyed, "k", Seq(("a", 1L), ("b", 2L)))
    }.getMessage.contains("sum to exactly 1e6"))
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.hashSplit(keyed.withColumn("split", lit("x")), "k", splits)
    }.getMessage.contains("already has"))
  }

  test("clusterConsistentSplit: near-dup closures never straddle splits; singletons degrade to hashSplit") {
    import spark.implicits._
    val splits = Seq(("train", 800000L), ("val", 100000L), ("test", 100000L))
    val ids = (0L until 200L).toDF("id")
    // chains {1,2,3} and {40,41}; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (40L, 41L)).toDF("id_a", "id_b")
    val out = TextAnalysis.clusterConsistentSplit(pairs, ids, splits)
    val byId = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(byId.size == 200 && byId.values.forall(_._2 != null))
    // every cluster member shares the cluster's split (the leakage-free property)
    assert(Set(byId(1L), byId(2L), byId(3L)).size == 1, s"${byId(1L)} ${byId(2L)} ${byId(3L)}")
    assert(byId(40L) == byId(41L))
    assert(byId(1L)._1 == 1L && byId(40L)._1 == 40L)
    // singletons get exactly hashSplit's per-id assignment (cluster label = own id)
    val solo = TextAnalysis.hashSplit(
        ids.select(col("id"), col("id").cast("string").as("k")), "k", splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val singles = (0L until 200L).toSet -- Set(1L, 2L, 3L, 40L, 41L)
    assert(singles.forall(i => byId(i)._2 == solo(i)))
  }

  test("weightedSample: kept iff h48 under the integer threshold; rate tracks weight") {
    import org.apache.spark.sql.functions._
    val out = TextAnalysis.weightedSample(docs, "text",
      TextAnalysis.qualityScoreI4(col("text")))
    // exact membership: replay the threshold row by row
    val all = docs.select(col("doc_id"),
        conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long").as("h"),
        TextAnalysis.qualityScoreI4(col("text")).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = all.filter { case (_, h, w) => h < w * (1L << 48) / 10000L }.map(_._1).toSet
    val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // weight-0 rows can never be kept; weight-10000 rows always are
    assert(all.filter(_._3 == 0L).forall(t => !got.contains(t._1)))
    assert(all.filter(_._3 == 10000L).forall(t => got.contains(t._1)))
    // partitioning-independent
    val got2 = TextAnalysis.weightedSample(docs.repartition(13), "text",
      TextAnalysis.qualityScoreI4(col("text"))).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got2 == got)
  }

  test("weightedSample require-fails on reserved column names") {
    import org.apache.spark.sql.functions._
    val bad = docs.withColumn("h48", lit(0L))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.weightedSample(bad, "text", TextAnalysis.qualityScoreI4(col("text")))
    }
    assert(e.getMessage.contains("h48"))
  }

  test("tokenChunks: stride overlap, ragged tail, every token covered") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val out = Seq("a b c d e f g").toDF("text")
      .select(explode(Natives.tokenChunks(Seq(col("text")), 4, 2)).as("c"))
      .select(col("c.chunk_idx"), col("c.chunk")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(out == Seq((0, "a b c d"), (1, "c d e f"), (2, "e f g"), (3, "g")))
    val one = Seq("x").toDF("text")
      .select(explode(Natives.tokenChunks(Seq(col("text")), 64, 48)).as("c"))
      .select(col("c.chunk")).as[String].collect().toSeq
    assert(one == Seq("x"))
  }

  test("stratifiedSample: exact quota per stratum, h-order, partitioning-independent") {
    import org.apache.spark.sql.functions._
    def draw(parts: Int) =
      TextAnalysis.stratifiedSample(docs.repartition(parts), "lang", "doc_id", "text", k = 7)
        .orderBy("stratum", "h", "id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val a = draw(2)
    assert(a == draw(11), "the draw must not depend on physical partitioning")
    // per stratum: exactly min(k, stratum size) rows, and they are the
    // stratum's k smallest hashes (verified against a brute-force sort)
    val sizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byStratum = a.groupBy(_._1)
    byStratum.foreach { case (lang, rows) =>
      assert(rows.size == math.min(7L, sizes(lang)), lang)
    }
    val brute = docs.select(col("lang"), col("doc_id"),
        conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(t => (t._3, t._2)).take(7)
      }.sortBy(t => (t._1, t._3, t._2))
    assert(a == brute)
  }

  test("materializePacks: id-ordered concat per pack; null texts counted but byteless") {
    import spark.implicits._
    val df = Seq(
      (3L, 0L, "cc", 1L), (1L, 0L, "aa bb", 2L),
      (2L, 0L, null.asInstanceOf[String], 0L), (4L, 1L, "dd", 1L))
      .toDF("doc_id", "pack_id", "text", "n_tokens")
    val out = TextAnalysis.materializePacks(df, Seq("pack_id"), "doc_id", "text", "n_tokens")
      .orderBy("pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // pack 0 concatenates in doc-id order 1,2,3; the null text of doc 2
    // contributes its row to n_docs but no bytes and no separator
    assert(out == Seq((0L, 3L, 3L, "aa bb\n\ncc"), (1L, 1L, 1L, "dd")))
  }
}
