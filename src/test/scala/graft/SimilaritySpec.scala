package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.Natives

/** Multi-table LSH vs the exact brute-force baseline: recall@k at sf0.1 and
  * the occupancy-sizing math that keeps bucket populations constant as the
  * corpus grows.
  */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.1"

  test("occupancy sizing: E[bucket] ~ target at any corpus size") {
    assert(Similarity.occupancySizedBits(1L << 30, 1024) == 20) // 10^9 rows -> 2^20 buckets
    assert(Similarity.occupancySizedBits(1L << 20, 1024) == 10)
    assert(Similarity.occupancySizedBits(500, 1024) == 1) // degrades gracefully at tiny n
  }

  test("lshTopK recall@5 >= 0.9 vs brute force at sf0.1 (occupancy-sized bits, 16 tables)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nBits = Similarity.occupancySizedBits(emb.count())
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k, nBits, nTables = 16)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall nBits=$nBits")
    // at this corpus size the candidate union is effectively exhaustive, so
    // the approximate path must reproduce the exact top-k (the q22 oracle
    // depends on this equality)
    assert(approx == exact, s"recall=$recall")
  }

  test("embeddingNearDupPairs finds every injected duplicate pair") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val withDups = emb.unionByName(
      emb.where(col("vec_id") < 10).withColumn("vec_id", col("vec_id") + 100000L))
    val nBits = Similarity.occupancySizedBits(withDups.count(), targetOccupancy = 32)
    val pairs = Similarity.embeddingNearDupPairs(withDups, "vec_id", "embedding",
        minCos = 0.9999, nBits = nBits, nTables = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 10L).map(i => (i, i + 100000L)).toSet
    assert(expected.subsetOf(pairs), s"missing: ${expected diff pairs}")
  }

  test("embeddingNearDupPairs: an over-popular bucket degrades to star pairs that components close") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    // vec 0 (the smallest id) and 11 identical copies share a bucket of 12
    // in every table, over a maxBlock of 4
    val copies = (1 to 11).map(100000L + _)
    val cluster = 0L +: copies
    val withCluster = emb.unionByName(copies.map(c =>
      emb.where(col("vec_id") === 0L).withColumn("vec_id", lit(c))).reduce(_ unionByName _))
    def pairs(maxBlock: Long): Set[(Long, Long)] =
      Similarity.embeddingNearDupPairs(withCluster, "vec_id", "embedding",
          minCos = 0.9999, nBits = 16, nTables = 4, maxBlock = maxBlock)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(4L)
    val uncapped = pairs(0L)
    def inCluster(p: (Long, Long)) = cluster.contains(p._1) && cluster.contains(p._2)
    // every member pairs with the bucket's min id, and only with it
    assert(capped.filter(inCluster) == copies.map(c => (0L, c)).toSet, capped.filter(inCluster))
    assert(uncapped.filter(inCluster).size == cluster.size * (cluster.size - 1) / 2)
    assert(capped.subsetOf(uncapped), capped diff uncapped)
    val cc = graft.operators.Dedup.connectedComponents(capped.toSeq.toDF("id_a", "id_b"),
      withCluster.select(col("vec_id").as("id")))
    assert(cc.where(col("id").isin(cluster: _*)).select("cluster_id").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("quantizeI8: exact power-of-two floor, clamp at +-127; dot_int == double fold") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.5f, -0.25f, 3.0f, -9.9f, 0.0039f))).toDF("id", "v")
    val q = df.select(Similarity.quantizeI8(col("v"), 7).as("q"))
      .head().getSeq[Int](0)
    // 0.5*128=64; -0.25*128=-32; 3.0*128=384 -> clamp 127; -9.9 -> clamp
    // -127; 0.0039*128 ~ 0.4992 -> floor 0
    assert(q == Seq(64, -32, 127, -127, 0))
    // native integer dot == the declarative double fold over the same ints
    val two = Seq((Seq(3, -4, 127), Seq(2, 5, -127))).toDF("a", "b")
    val native = two.select(Natives.dotInt(Seq(col("a"), col("b"))))
      .head().getLong(0)
    assert(native == (3 * 2 + -4 * 5 + 127 * -127).toLong)
    // SQL surface
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT dot_int(array(1, 2), array(3, 4))").head().getLong(0) == 11L)
  }

  test("bruteForceTopKI8: deterministic ties, zero-quantized vectors excluded, sane vs float ANN") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.bruteForceTopKI8(emb, emb.where(col("vec_id") < 5),
      "vec_id", "embedding", k = 5)
    val rows = out.orderBy("query_id", "rank").collect().map(_.toString).toSeq
    // partitioning-independent (integer scores -> no FP merge hazards)
    val rows13 = Similarity.bruteForceTopKI8(emb.repartition(13),
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(rows == rows13 && rows.nonEmpty)
    // quantized ranking approximates the float ranking: recall@5 vs q21's
    // exact brute force should be high on isotropic data
    val exact = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
      .select("query_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = out.select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.6, s"quantized recall vs float brute force = $recall")
    // an all-sub-resolution vector has no quantized direction: excluded
    // (floor is toward -inf: a tiny NEGATIVE component quantizes to -1,
    // so the all-zero case needs non-negative sub-resolution components)
    val tiny = Seq((1L, Seq(0.001f, 0.002f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.8f, 0.2f))).toDF("vec_id", "embedding")
    val t = Similarity.bruteForceTopKI8(tiny, tiny.where(col("vec_id") === 2L),
      "vec_id", "embedding", k = 5)
    assert(t.select("id").collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("groupCentroidsI4: exact integer means, ragged vectors visible via per-dim n") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(1.0f, -0.5f)),
      (1, Seq(2.0f, 0.5f, 9.0f)),   // ragged: dim 3 has n=1
      (2, Seq(0.00015f)),           // floor(1.5) = 1 in i4 space
      (2, null.asInstanceOf[Seq[Float]])).toDF("label", "embedding")
    val out = Similarity.groupCentroidsI4(df, "label", "embedding")
      .orderBy("g", "dim").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // label 1 dim 1: (10000 + 20000) div 2 = 15000; dim 2: (-5000 + 5000) div 2 = 0
    // (floor(-0.5*1e4) = -5000 exactly); dim 3: 90000 div 1
    assert(out == Seq(
      (1, 1L, 2L, 15000L), (1, 2L, 2L, 0L), (1, 3L, 1L, 90000L),
      (2, 1L, 1L, 1L)))
  }

  test("groupCentroidsI4 is partitioning-independent on the embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(parts: Int) =
      Similarity.groupCentroidsI4(emb.repartition(parts), "label", "embedding")
        .orderBy("g", "dim").collect().map(_.toString).toSeq
    assert(run(2) == run(13))
  }

  test("cosine of a vector with itself is ~1 and symmetric in arguments") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(3.0f, 2.0f, 1.0f))).toDF("a", "b")
    val r = df.select(
      Natives.cosineSim(Seq(col("a"), col("a"))).as("self"),
      Natives.cosineSim(Seq(col("a"), col("b"))).as("ab"),
      Natives.cosineSim(Seq(col("b"), col("a"))).as("ba")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == r.getDouble(2))
  }
}
