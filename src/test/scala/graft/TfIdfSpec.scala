package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TfIdf
import graft.functions.SketchFunctions

class TfIdfSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("token_tf: per-doc counts, empty tokens excluded, first-occurrence order") {
    val out = Seq("b a  b c b a").toDF("text")
      .select(SketchFunctions.tokenTf(col("text")).as("t"))
      .as[Seq[(String, Long)]].head()
    assert(out == Seq(("b", 3L), ("a", 2L), ("c", 1L)))
    // all-space text: no tokens at all
    val empty = Seq("   ").toDF("text")
      .select(SketchFunctions.tokenTf(col("text")).as("t"))
      .as[Seq[(String, Long)]].head()
    assert(empty.isEmpty)
  }

  test("token_tf == declarative explode+groupBy counts on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = TfIdf.termFrequencies(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val declarative = docs.where(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(native == declarative)
  }

  test("distinctiveTerms == brute-force rank on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 3
    val maxDfPpm = 500000L
    val got = TfIdf.distinctiveTerms(docs, "doc_id", "text", k = k, maxDfPpm = maxDfPpm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet

    // driver-side brute force
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val tf = docs.where(col("text").isNotNull).select("doc_id", "text").collect()
      .flatMap { r =>
        r.getString(1).split(" ", -1).filter(_.nonEmpty)
          .groupBy(identity).map { case (t, a) => (r.getLong(0), t, a.length.toLong) }
      }
    val dfreq = tf.groupBy(_._2).map { case (t, rows) => t -> rows.map(_._1).distinct.size.toLong }
    val nDocs = tf.map(_._1).distinct.length.toLong
    val expected = tf.groupBy(_._1).toSeq.flatMap { case (id, rows) =>
      rows.toSeq.map { case (_, t, c) => (t, c, dfreq(t)) }
        .filter { case (_, _, d) => d * 1000000L <= nDocs * maxDfPpm }
        .sortBy { case (t, c, d) => (d, -c, md5hex(t)) }
        .take(k).zipWithIndex
        .map { case ((t, c, d), i) => (id, (i + 1).toLong, t, c, d) }
    }.toSet
    assert(got == expected)
  }

  test("distinctiveTerms is partitioning-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) =
      TfIdf.distinctiveTerms(docs.repartition(parts), "doc_id", "text", k = 2)
        .orderBy("id", "rnk").collect().map(_.toString).toSeq
    assert(run(2) == run(13))
  }

  test("docFrequencies: df counts distinct docs, not occurrences") {
    val df = Seq((1L, "x x y"), (2L, "x z"), (3L, Option.empty[String].orNull))
      .toDF("doc_id", "text")
    val out = TfIdf.docFrequencies(df, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("x" -> 2L, "y" -> 1L, "z" -> 1L))
  }

  test("token_tf SQL registration matches the DataFrame API") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    docs.createOrReplaceTempView("tfidf_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, token_tf(text) AS t FROM tfidf_docs WHERE text IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1).mkString(","))).toSet
    val viaApi = docs.where(col("text").isNotNull)
      .select(col("doc_id"), SketchFunctions.tokenTf(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1).mkString(","))).toSet
    assert(viaSql == viaApi)
  }

  test("rareTokenStats: occurrence-weighted rare share, null docs anchored at 0") {
    val df = Seq(
      (1L, "common common weird1"),     // 3 tokens, 1 rare -> 333333 ppm
      (2L, "common weird2 weird2"),     // weird2 df=1 but tf=2 -> 2 rare occurrences
      (3L, "common"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TfIdf.rareTokenStats(df, "doc_id", "text", maxDf = 1L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 3L, 1L, 333333L),
      (2L, 3L, 2L, 666666L),
      (3L, 1L, 0L, 0L),
      (4L, 0L, 0L, 0L)))
  }

  test("duplicate ids raise_error in rareTokenStats and distinctiveTerms") {
    val dup = Seq((1L, "a b"), (1L, "c d"), (2L, "a b")).toDF("doc_id", "text")
    val e1 = intercept[Exception] {
      TfIdf.rareTokenStats(dup, "doc_id", "text").collect()
    }
    assert(SparkTestBase.causeMessages(e1).exists(_.contains("duplicate input id")))
    val e2 = intercept[Exception] {
      TfIdf.distinctiveTerms(dup, "doc_id", "text", k = 2).collect()
    }
    assert(SparkTestBase.causeMessages(e2).exists(_.contains("duplicate input id")))
  }

  test("rareTokenStats is partitioning-independent") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) =
      TfIdf.rareTokenStats(docs.repartition(parts), "doc_id", "text", maxDf = 30L)
        .orderBy("id").collect().map(_.toString).toSeq
    assert(run(2) == run(13))
  }

  test("dedup_lines: first occurrence kept, order stable, empty lines deduped, SQL parity") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    def run(s: String): String =
      Seq(s).toDF("t").select(SketchFunctions.dedupLines(col("t"))).head().getString(0)
    assert(run("a\nb\na\nc\nb") == "a\nb\nc")
    assert(run("x") == "x")
    assert(run("a\n\nb\n\na") == "a\n\nb")   // empty lines dedup too
    assert(run("") == "")
    // brute-force equality on the documents table (token-per-line form)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("text").isNotNull).limit(100)
    val got = docs.select(col("doc_id"),
        SketchFunctions.dedupLines(translate(col("text"), " ", "\n")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val expected = r.getString(1).split(" ", -1).distinct.mkString("\n")
      assert(got(r.getLong(0)) == expected, s"doc ${r.getLong(0)}")
    }
    // SQL registration
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT dedup_lines('a\nb\na')").head().getString(0)
    assert(viaSql == "a\nb")
  }

  test("materialize + reliableCheckpoint path is row-identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plain = TfIdf.distinctiveTerms(docs, "doc_id", "text", k = 2)
      .orderBy("id", "rnk").collect().map(_.toString).toSeq
    SparkTestBase.withCheckpointDir {
      val reliable = TfIdf.distinctiveTerms(docs, "doc_id", "text", k = 2)
        .orderBy("id", "rnk").collect().map(_.toString).toSeq
      assert(SparkTestBase.checkpointFiles().nonEmpty, "reliable checkpoint wrote no files")
      assert(reliable == plain)
    }
  }
}
