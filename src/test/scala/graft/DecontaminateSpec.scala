package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, DecontaminateSql, PreparedBenchmark}
import graft.functions.Natives

class DecontaminateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("shingleMd5s: exact w-token windows, distinct, short docs yield none") {
    val df = Seq((1L, "a b c d"), (2L, "x y"), (3L, "a b c d a b c d")).toDF("doc_id", "text")
    val out = Decontaminate.shingleMd5s(df, "doc_id", "text", w = 3)
      .groupBy("id").count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 1: "a b c", "b c d" -> 2; doc 2: no 3-grams; doc 3: windows
    // repeat ("a b c" x2, "b c d" x2, "c d a", "d a b") -> 4 DISTINCT
    assert(out == Map(1L -> 2L, 3L -> 4L))
  }

  test("flag: benchmark overlap counted on distinct shingles; anchor keeps null-text docs") {
    val corpus = Seq(
      (1L, "q w e r t y u i"),      // contains the benchmark phrase
      (2L, "q w e zz yy xx"),       // one shared 3-gram only
      (3L, "totally different words here"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val bench = Seq((100L, "q w e r t y")).toDF("doc_id", "text")
    val out = Decontaminate.flag(corpus, bench, "doc_id", "text", w = 3, minOverlap = 2L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    // bench 3-grams: qwe, wer, ert, rty
    // doc 1 shingles: qwe wer ert rty tyu yui -> 4 matched -> contaminated
    // doc 2: qwe matched only -> 1 < 2 -> clean
    assert(out == Seq(
      (1L, 6L, 4L, true),
      (2L, 4L, 1L, false),
      (3L, 2L, 0L, false),
      (4L, 0L, 0L, false)))
  }

  test("Bloom plan with a 2-bit/shingle filter == exact plan (exact confirm wins)") {
    val corpus = Seq(
      (1L, "q w e r t y u i"),
      (2L, "q w e zz yy xx"),
      (3L, "totally different words here"),
      (4L, null.asInstanceOf[String]),
      (5L, "q w e r t y")).toDF("doc_id", "text") // fully contained in bench
    val bench = Seq((100L, "q w e r t y")).toDF("doc_id", "text")
    def rows(b: PreparedBenchmark) =
      Decontaminate.flagPrepared(corpus, b, "doc_id", "text", w = 3, minOverlap = 2L)
        .orderBy("id").collect().toSeq
    // bitsPerShingle = 2 -> a high-FP filter at the probe; the exact
    // confirm join must erase every false positive
    val prepared = Decontaminate.prepare(bench, "doc_id", "text", w = 3, bitsPerShingle = 2)
    assert(prepared.filter.isDefined && prepared.nShingles == 4L)
    val exact = rows(prepared.copy(filter = None))
    assert(rows(prepared) == exact, "bloom path must be output-identical to the exact path")
    assert(Decontaminate.flag(corpus, bench, "doc_id", "text", w = 3, minOverlap = 2L)
      .orderBy("id").collect().toSeq == exact)
  }

  test("flagNearDup == brute-force bipartite jaccard; edits below threshold stay clean") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),   // exact copy in bench -> contaminated
      (2L, "a b c d e f g h i XX"),  // one-token edit: j < 0.9 -> clean at 0.9
      (3L, "completely unrelated words live here now"),
      (4L, null.asInstanceOf[String]),
      (5L, "a b c d e f g h i j")    // second exact copy: also contaminated
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "a b c d e f g h i j"),
      (101L, "nothing in the corpus looks like this one")).toDF("doc_id", "text")
    val out = Decontaminate.flagNearDup(corpus, bench, "doc_id", "text",
        shingleWords = 3, minJaccard = 0.9)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(out == Seq(
      (1L, 1L, 10000L, true),
      (2L, 0L, 0L, false),
      (3L, 0L, 0L, false),
      (4L, 0L, 0L, false),
      (5L, 1L, 10000L, true)))
    // brute-force equality on the real documents table fixture (q72's
    // construction at sf0.001 scale is exercised by the oracle; here a
    // cross-join jaccard over the small fixture)
    val sh = (d: org.apache.spark.sql.DataFrame) => d.where(col("text").isNotNull)
      .select(col("doc_id"),
        Natives.shingleHashes(Seq(col("text")), 3).as("s"))
    val brute = sh(corpus).alias("a").crossJoin(sh(bench).alias("b"))
      .select(col("a.doc_id").as("id"),
        Natives.jaccardSim(Seq(col("a.s"), col("b.s"))).as("j"))
      .where(col("j") >= 0.9)
      .groupBy("id").count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = out.filter(_._4).map(t => (t._1, t._2)).toMap
    assert(got == brute)
  }

  test("flagNearDup: a MASS corpus leak (huge left blocks) is still fully caught") {
    // 30 corpus copies of one benchmark doc: every left band block has 30
    // members; the left side must NOT be capped (bipartite fan-out is
    // linear) or this exact mass-leak scenario would silently read clean
    val corpus = (1L to 30L).map(i => (i, "t u v w x y z p q r")).toDF("doc_id", "text")
    val bench = Seq((100L, "t u v w x y z p q r")).toDF("doc_id", "text")
    val out = Decontaminate.flagNearDup(corpus, bench, "doc_id", "text",
        shingleWords = 3, minJaccard = 0.9, maxBlock = 8L)
    assert(out.where(col("contaminated")).count() == 30)
    assert(out.count() == 30)
  }

  test("flagNearDup: benchmark-internal template bands over the cap are excluded, observed") {
    // 10 identical BENCHMARK docs (right blocks of 10) against one corpus
    // copy: with maxBlock = 4 the right blocks are template noise and the
    // pairing is skipped -> clean; the default cap matches all 10
    val corpus = Seq((1L, "t u v w x y z p q r")).toDF("doc_id", "text")
    val bench = (100L to 109L).map(i => (i, "t u v w x y z p q r")).toDF("doc_id", "text")
    val capped = Decontaminate.flagNearDup(corpus, bench, "doc_id", "text",
        shingleWords = 3, minJaccard = 0.9, maxBlock = 4L)
    assert(capped.where(col("contaminated")).count() == 0)
    assert(capped.count() == 1)
    val uncapped = Decontaminate.flagNearDup(corpus, bench, "doc_id", "text",
        shingleWords = 3, minJaccard = 0.9)
    val row = uncapped.orderBy("id").head()
    assert(row.getLong(1) == 10L && row.getBoolean(3))
  }

  test("null-id corpus rows: matches surface through the null-safe anchor, not silently clean") {
    val corpus = Seq(
      (java.lang.Long.valueOf(1L), "q w e r t y u i"),
      (null.asInstanceOf[java.lang.Long], "q w e r t y zz yy")).toDF("doc_id", "text")
    val bench = Seq((100L, "q w e r t y")).toDF("doc_id", "text")
    val flg = Decontaminate.flag(corpus, bench, "doc_id", "text", w = 3, minOverlap = 2L)
      .where(col("id").isNull).head()
    assert(flg.getLong(2) == 4L && flg.getBoolean(3),
      "null-id doc's 4 matched shingles must not read clean")
    val exact = Decontaminate.flagPrepared(corpus,
        Decontaminate.prepare(bench, "doc_id", "text", w = 3).copy(filter = None),
        "doc_id", "text", w = 3, minOverlap = 2L)
      .where(col("id").isNull).head()
    assert(exact.getLong(2) == 4L && exact.getBoolean(3))
    val nd = Decontaminate.flagNearDup(
        corpus.union(Seq((java.lang.Long.valueOf(2L), "x")).toDF("doc_id", "text")),
        Seq((100L, "q w e r t y zz yy")).toDF("doc_id", "text"),
        "doc_id", "text", shingleWords = 3, minJaccard = 0.9)
      .where(col("id").isNull).head()
    assert(nd.getLong(1) == 1L && nd.getBoolean(3))
  }

  test("flag SQL recipe + registered view reproduce the operator on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("decon_sql_docs")
    docs.where(col("doc_id") % 50 === 0).createOrReplaceTempView("decon_sql_bench")
    DecontaminateSql.registerFlagView(spark, "decon_sql_view",
      "decon_sql_docs", "decon_sql_bench", "doc_id", "text", w = 5, minOverlap = 3L)
    val viaSql = spark.sql("SELECT * FROM decon_sql_view ORDER BY id")
      .collect().map(_.toString).toSeq
    val viaApi = Decontaminate.flag(docs, docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", w = 5, minOverlap = 3L)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
  }

  test("flag: empty benchmark -> all clean; zero-shingle docs keep their rows") {
    val corpus = Seq((1L, "a b c d"), (2L, "x"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Decontaminate.flag(corpus, bench, "doc_id", "text", w = 3, minOverlap = 1L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    // doc 2 ("x") is shorter than w: zero shingles, still anchored
    assert(out == Seq((1L, 2L, 0L, false), (2L, 0L, 0L, false), (3L, 0L, 0L, false)))
  }

  test("excise: matched spans struck, bystanders byte-identical, full leak -> NULL, nulls kept") {
    val corpus = Seq(
      (1L, "q w e r t y u i"),      // head overlaps the benchmark phrase
      (2L, "clean words entirely unrelated"),
      (3L, "q w e"),                // == a full benchmark shingle: fully excised
      (4L, null.asInstanceOf[String]),
      (5L, "zz q w e r zz2")).toDF("doc_id", "text")
    val bench = Seq((100L, "q w e r")).toDF("doc_id", "text")
    val out = Decontaminate.excise(corpus, bench, "doc_id", "text", w = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSeq
    // bench 3-grams: "q w e", "w e r". doc 1: hits at 0 and 1 cover tokens
    // 0..3 -> "t y u i" survives; doc 3 is exactly "q w e" -> all covered;
    // doc 5: hits at 1 ("q w e") and 2 ("w e r") cover 1..4 -> "zz zz2"
    assert(out == Seq(
      (1L, 8L, 2L, 4L, "t y u i"),
      (2L, 4L, 0L, 4L, "clean words entirely unrelated"),
      (3L, 3L, 1L, 0L, null),
      (4L, 0L, 0L, 0L, null),
      (5L, 6L, 2L, 2L, "zz zz2")))
  }

  test("excise is partitioning-independent and SQL-surface excise_spans agrees") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.where(col("doc_id") % 50 === 0)
    val a = Decontaminate.excise(docs, bench, "doc_id", "text", w = 5)
      .collect().map(_.toString).sorted.toSeq
    val b = Decontaminate.excise(docs.repartition(7, col("doc_id")), bench,
      "doc_id", "text", w = 5).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    // the registered SQL function drives the same kernel
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT excise_spans('a b c d e', array(1), 2) AS ex").collect().head.getStruct(0)
    assert(viaSql.getLong(0) == 5L && viaSql.getLong(1) == 3L &&
      viaSql.getString(2) == "a d e")
    // a null hit slot strikes NOTHING (unboxing it to 0 would strike the head)
    val nullHit = spark.sql(
      "SELECT excise_spans('a b c d e', array(CAST(NULL AS int), 3), 2) AS ex")
      .collect().head.getStruct(0)
    assert(nullHit.getLong(1) == 3L && nullHit.getString(2) == "a b c")
  }

  test("excise keeps a null-id corpus row AND excises its matched spans (null-safe joins)") {
    val corpus = Seq((Option(1L), "q w e r"), (None: Option[Long], "q w e zz"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "q w e")).toDF("doc_id", "text")
    val out = Decontaminate.excise(corpus, bench, "doc_id", "text", w = 3)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the null-id row survives and its benchmark hit at pos 0 excises
    // tokens 0..2 — leaked benchmark text must NOT pass through just
    // because the id is null (the unsafe direction for a decon gate)
    assert(out == Set((1L, 4L, 1L, 1L), (-1L, 4L, 1L, 1L)))
  }

  test("leakReport: per-benchmark exposure, universal shingles excluded by the df cap") {
    // docs 1-2 duplicate the benchmark phrase; doc 3 shares only its head
    // 3-gram, which the duplication pushes OVER the df cap (df=3 > 2);
    // docs 4-6 carry a universal 3-gram "u1 u2 u3" (df=3, also capped)
    val corpus = Seq(
      (1L, "q w e r t"), (2L, "q w e r t"), (3L, "q w e zz yy"),
      (4L, "u1 u2 u3 aa"), (5L, "u1 u2 u3 bb"), (6L, "u1 u2 u3 cc")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "q w e r t"),      // leaks into docs 1 and 2 via wer+ert
      (101L, "a b c d e"),      // clean
      (102L, "u1 u2 u3 xx yy")  // only capped/unseen shingles -> no leaks
    ).toDF("doc_id", "text")
    val out = Decontaminate.leakReport(corpus, bench, "doc_id", "text",
        w = 3, minOverlap = 2L, maxShingleDf = 2L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // bench 100's shingles: qwe (df=3, capped out), wer, ert (df=2 each):
    // docs 1 and 2 overlap on {wer, ert} = 2 >= 2
    assert(out == Seq(
      (100L, 3L, 2L, 2L, 4L),
      (101L, 3L, 0L, 0L, 0L),
      (102L, 3L, 0L, 0L, 0L)))
  }

  test("flag == brute-force set overlap on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.where(col("doc_id") % 50 === 0)
    val w = 5
    val got = Decontaminate.flag(docs, bench, "doc_id", "text", w = w, minOverlap = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

    def shingles(text: String): Set[String] = {
      val ts = text.split(" ", -1)
      (0 to ts.length - w).map(i => ts.slice(i, i + w).mkString(" ")).toSet
    }
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    val benchSh = rows.filter(_._1 % 50 == 0).flatMap(_._2.map(shingles).getOrElse(Set.empty)).toSet
    val expected = rows.map { case (id, t) =>
      val sh = t.map(shingles).getOrElse(Set.empty)
      val m = sh.count(benchSh.contains).toLong
      (id, sh.size.toLong, m, m >= 3L)
    }.toSet
    assert(got == expected)
    // the benchmark docs themselves must always be flagged (full overlap)
    assert(got.filter(r => r._1 % 50 == 0 && r._2 > 0).forall(_._4))
    assert(got.exists(!_._4), "some corpus docs must be clean or the fixture is vacuous")
  }

  test("duplicate corpus ids raise_error instead of silently merging shingle sets") {
    val corpus = Seq((1L, "a b c d e"), (1L, "x y z w v"), (2L, "a b c")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Decontaminate.flag(corpus, bench, "doc_id", "text", w = 3, minOverlap = 1L).collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate input id")))
  }

  test("partitioning-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) =
      Decontaminate.flag(docs.repartition(parts),
        docs.where(col("doc_id") % 50 === 0), "doc_id", "text", w = 5, minOverlap = 3L)
        .orderBy("id").collect().map(_.toString).toSeq
    assert(run(2) == run(13))
  }
}
