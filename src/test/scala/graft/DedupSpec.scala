package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupReference}
import graft.functions.Natives

/** Connected components over near-dup pairs: the transitive-closure step
  * that turns pairwise evidence into a dedup decision. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)], ids: Seq[Long], parts: Int = 3) =
    Dedup.connectedComponents(
        pairs.toDF("id_a", "id_b").repartition(parts),
        ids.toDF("id").repartition(parts))
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq

  test("chains close transitively; singletons keep themselves") {
    val out = cc(Seq((1L, 2L), (2L, 3L), (5L, 6L)), Seq(1L, 2L, 3L, 5L, 6L, 7L))
    assert(out == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (5L, 5L, true), (6L, 5L, false),
      (7L, 7L, true)))
  }

  test("long chain converges to one component (diameter rounds)") {
    val n = 40L
    val chain = (1L until n).map(i => (i, i + 1))
    val out = cc(chain, (1L to n).toSeq)
    assert(out.forall(_._2 == 1L))
    assert(out.count(_._3) == 1)
  }

  test("empty id set yields an empty result (a fully-gated-out corpus must not crash)") {
    val out = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      Seq.empty[Long].toDF("id"))
    assert(out.count() == 0)
  }

  test("non-convergence fails loudly instead of returning wrong labels") {
    val chain = (1L until 10L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF("id_a", "id_b"), (1L to 10L).toDF("id"), maxIter = 3)
        .collect()
    }
  }

  test("simhashPairsPortable == brute-force all-pairs hamming (pigeonhole: 4-chunk blocking is EXACT for radius 3)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val withDups = docs.unionByName(
      docs.where(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 100000L))
    val blocked = Dedup.simhashPairsPortable(withDups, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashed = withDups.select(col("doc_id").as("id"),
      Natives.simhashMd5(Seq(col("text"))).as("sh"))
    val brute = hashed.as("a").crossJoin(hashed.as("b"))
      .where(col("a.id") < col("b.id") &&
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= 3)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"missing=${brute diff blocked} extra=${blocked diff brute}")
  }

  test("minhash band cap: over-popular blocks degrade to LINEAR star candidates, under-cap blocks self-join") {
    // 60 identical boilerplate pages (every band over-popular) + one true
    // near-dup pair in its own small blocks
    val template = (0 until 60).map(i =>
      (i.toLong, "the same boilerplate page body repeated across the whole site unchanged"))
    val nearDup = Seq(
      (200L, "a genuinely unique article body with enough words to shingle cleanly"),
      (201L, "a genuinely unique article body with enough words to shingle cleanly"))
    val docs = (template ++ nearDup).toDF("doc_id", "text")

    val uncapped = DedupReference.minhashLshCandidates(docs, "doc_id", "text", 3, 64, 16, maxBlock = 0)
    assert(uncapped.count() == 60L * 59 / 2 + 1) // the quadratic detonation

    val capped = DedupReference.minhashLshCandidates(docs, "doc_id", "text", 3, 64, 16, maxBlock = 10)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the template block's candidates are the LINEAR star against its min
    // id — so the boilerplate group still dedups via verify + components —
    // and the under-cap near-dup pair self-joins as before
    val star = (1 until 60).map(i => (0L, i.toLong)).toSet
    assert(cappedPairs == star + ((200L, 201L)),
      s"extra=${(cappedPairs diff (star + ((200L, 201L)))).take(5)} missing=${((star + ((200L, 201L))) diff cappedPairs).take(5)}")
    // observable: the CollectMetrics node reports the over-popular block
    // count and the largest block (identical docs share all 16 bands ->
    // 16 over-popular blocks of size 60)
    val metric = capped.queryExecution.observedMetrics
      .collectFirst { case (name, row) if name.startsWith("minhash_lsh_blocks") => row }
    assert(metric.isDefined, capped.queryExecution.observedMetrics.keys.toString)
    assert(metric.get.getAs[Long]("over_blocks") == 16L, metric.get.toString)
    assert(metric.get.getAs[Long]("max_block_n") == 60L, metric.get.toString)

    // generous default: blocks of honest duplicate-group size pass through
    val defCap = DedupReference.minhashLshCandidates(docs, "doc_id", "text", 3, 64, 16)
    assert(defCap.count() == 60L * 59 / 2 + 1) // 60 << DefaultMaxBlock
  }

  test("ngramJaccardPairs under the band cap: starred template group verifies and still dedups") {
    val template = (0 until 40).map(i =>
      (i.toLong, "identical boilerplate body words over and over for every page"))
    val pair = Seq(
      (300L, "one of a kind content string with many distinct tokens inside it"),
      (301L, "one of a kind content string with many distinct tokens inside it"))
    val docs = (template ++ pair).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.9, maxBlock = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val star = (1 until 40).map(i => (0L, i.toLong, 1.0)).toSet
    assert(out == star + ((300L, 301L, 1.0)), out.take(10).toString)
    // ...and connected components then collapses the WHOLE template group
    // through the star — the recall the old drop-the-block cap gave up
    val cc = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.9, maxBlock = 10)
        .select(col("id_a"), col("id_b")),
      docs.select(col("doc_id").as("id")))
    assert(cc.where(col("cluster_id") === 0L).count() == 40L)
  }

  test("deterministic across partitionings") {
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L), (30L, 40L))
    val ids = Seq(10L, 20L, 30L, 40L, 50L, 60L)
    assert(cc(pairs, ids, 1) == cc(pairs, ids, 7))
  }

  test("starred candidates are deterministic across partitionings (min_by rep on unique ids)") {
    val docs = ((0 until 30).map(i => (i.toLong, "boilerplate page body identical for all")) ++
      Seq((900L, "singular content with distinct words in it"),
          (901L, "singular content with distinct words in it"))).toDF("doc_id", "text")
    def run(parts: Int) =
      DedupReference.minhashLshCandidates(docs.repartition(parts), "doc_id", "text", 3, 64, 16, maxBlock = 8)
        .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(2) == run(9))
  }

  test("large-star/small-star CC: a 300-deep chain converges in O(log^2 n) rounds, not O(diameter)") {
    val n = 300L
    val chain = (1L until n).map(i => (i, i + 1))
    // min-label propagation needs ~n rounds on this graph (the loud-failure
    // case); the alternating-star scheme closes it well inside 20
    val out = Dedup.connectedComponentsStars(
        chain.toDF("id_a", "id_b"), (1L to n).toDF("id"), maxIter = 20)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.forall(_._2 == 1L))
    assert(out.count(_._3) == 1)
  }

  test("large-star/small-star CC == min-label CC on mixed graphs (plus singletons, empty input)") {
    def both(pairs: Seq[(Long, Long)], ids: Seq[Long]) = {
      val p = pairs.toDF("id_a", "id_b")
      val i = ids.toDF("id")
      val a = Dedup.connectedComponents(p, i).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      val b = Dedup.connectedComponentsStars(p, i).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      (a, b)
    }
    // two components + singleton, with duplicate and reversed edges
    val (a1, b1) = both(
      Seq((2L, 1L), (1L, 2L), (2L, 3L), (7L, 5L), (5L, 6L), (6L, 7L)),
      Seq(1L, 2L, 3L, 5L, 6L, 7L, 9L))
    assert(a1 == b1, s"label=$a1 stars=$b1")
    val (a2, b2) = both(Seq.empty, Seq(4L, 8L))
    assert(a2 == b2)
    assert(Dedup.connectedComponentsStars(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      Seq.empty[Long].toDF("id")).count() == 0)
  }

  test("with a session checkpoint dir, connected components survive losing every cached block") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 8L)).toDF("id_a", "id_b")
      .repartition(3)
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L, 9L).toDF("id").repartition(3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val local = rows(Dedup.connectedComponents(pairs, ids))
    assert(local == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (5L, 5L, true), (6L, 5L, false), (7L, 5L, false), (8L, 5L, false), (9L, 9L, true)))
    SparkTestBase.withCheckpointDir {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      // the CC rounds run eagerly; the returned frame reads their last
      // checkpoint. Dropping every block this run cached stands in for
      // losing the executors that held them: local-checkpoint blocks are
      // gone for good, reliable ones are re-read from the checkpoint dir
      val out = Dedup.connectedComponents(pairs, ids)
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
      assert(rows(out) == local)
      assert(SparkTestBase.checkpointFiles().nonEmpty, "reliable checkpoints wrote no files")
    }
  }

  test("clusterRepresentatives: highest score wins, ties to smallest id; duplicate/null inputs loud") {
    val df = Seq(
      (1L, 10L, 50L), (2L, 10L, 70L), (3L, 10L, 70L), // ties at 70 -> id 2
      (4L, 20L, 5L),                                  // singleton cluster
      (5L, 30L, -7L), (6L, 30L, -2L)                  // negative scores legal
    ).toDF("doc_id", "cl", "q")
    val out = Dedup.clusterRepresentatives(df, "doc_id", "cl", "q")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 10L, 50L, 0L), (2L, 10L, 70L, 1L), (3L, 10L, 70L, 0L),
      (4L, 20L, 5L, 1L), (5L, 30L, -7L, 0L), (6L, 30L, -2L, 1L)))
    // exactly one representative per cluster
    assert(out.filter(_._4 == 1L).map(_._2).sorted == Seq(10L, 20L, 30L))
    // no range caps: extreme long ids/scores are legal and ties still
    // break to the smallest id at the edges of the long range
    val extreme = Seq(
      (Long.MaxValue, 1L, Long.MinValue), (Long.MaxValue - 1, 1L, Long.MinValue),
      (0L, 2L, Long.MaxValue), (Long.MinValue, 2L, Long.MaxValue)
    ).toDF("doc_id", "cl", "q")
    val reps = Dedup.clusterRepresentatives(extreme, "doc_id", "cl", "q")
      .where(col("is_rep") === 1).orderBy("cluster_id").collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSeq
    assert(reps == Seq((1L, Long.MaxValue - 1), (2L, Long.MinValue)))
    val dup = Seq((1L, 10L, 5L), (1L, 10L, 6L)).toDF("doc_id", "cl", "q")
    val e1 = intercept[Exception] {
      Dedup.clusterRepresentatives(dup, "doc_id", "cl", "q").collect()
    }
    assert(SparkTestBase.causeMessages(e1).exists(_.contains("clusterRepresentatives")))
    val nullCl = Seq((1L, Some(10L), 5L), (2L, None, 6L))
      .toDF("doc_id", "cl", "q")
    val e3 = intercept[Exception] {
      Dedup.clusterRepresentatives(nullCl, "doc_id", "cl", "q").collect()
    }
    assert(SparkTestBase.causeMessages(e3).exists(_.contains("non-null")))
  }

  test("normalizeText: lowercase, strip non-alnum, collapse spaces, trim; idempotent") {
    import graft.operators.TextAnalysis
    val cases = Seq(
      "Hello,  World!" -> "hello world",
      "  a - b -- c  " -> "a b c",
      "already clean" -> "already clean",
      "***" -> "",               // all stripped -> empty, not null
      "A" -> "a",
      "hello\nworld" -> "hello world",   // newline is a word SEPARATOR,
      "tab\there\r\nnow" -> "tab here now") // never welded away
    val out = cases.map(_._1).toDF("t")
      .select(TextAnalysis.normalizeText(col("t"))).as[String].collect().toSeq
    assert(out == cases.map(_._2), out.mkString("|"))
    // idempotent: normalizing a normalized string is the identity
    val twice = cases.map(_._1).toDF("t")
      .select(TextAnalysis.normalizeText(TextAnalysis.normalizeText(col("t"))))
      .as[String].collect().toSeq
    assert(twice == out)
    // NULL stays NULL (surfaced as its own group downstream)
    val n = Seq(Option.empty[String]).toDF("t")
      .select(TextAnalysis.normalizeText(col("t"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("normalizedDedup collapses restyled copies that raw-byte exactDedup keeps apart") {
    val df = Seq(
      (1L, "The quick fox."),
      (2L, "  the QUICK fox!!  "),   // same content, restyled
      (3L, "another doc"))
      .toDF("doc_id", "text")
    val raw = Dedup.exactDedup(df, "doc_id", "text").collect()
    assert(raw.length == 3) // raw bytes: all distinct
    val norm = Dedup.normalizedDedup(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(norm.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L), (3L, 1L))) // 1+2 collapse keeping min id
  }
}
