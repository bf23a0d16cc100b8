package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.sources.CrawlCorpus

/** Every native scalar kernel in [[Natives]], called from SQL, returns the
  * same rows compiled (whole-stage codegen, no interpreted fallback) and
  * interpreted (no codegen at all), with the pinned result type and
  * nullability: null in gives null out, non-null in gives non-null out
  * unless the entry declares a nullable result. */
class NativeParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val views: Unit = {
    GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text"))
    docs.unionByName(spark.sql("SELECT -1L AS doc_id, CAST(NULL AS STRING) AS text"))
      .createOrReplaceTempView("np_docs")
    spark.read.parquet(s"$sf/embeddings.parquet").select(col("vec_id"), col("embedding"))
      .unionByName(spark.sql("SELECT -1L AS vec_id, CAST(NULL AS ARRAY<FLOAT>) AS embedding"))
      .createOrReplaceTempView("np_emb")
    CrawlCorpus.crawl(spark, 300, 42L).toDF().select(col("url"), col("html"))
      .unionByName(spark.sql(
        "SELECT 'test://null/html' AS url, CAST(NULL AS BINARY) AS html " +
          "UNION ALL SELECT CAST(NULL AS STRING), CAST('<p>hi <a href=\"/x\">x</a>' AS BINARY)"))
      .createOrReplaceTempView("np_pages")
    spark.sql(
      """SELECT bloom_build(md5(c.chunk), 65536, 4) AS bloom
        |FROM np_docs LATERAL VIEW explode(token_chunks(text, 5, 1)) t AS c
        |WHERE doc_id % 4 = 0""".stripMargin)
      .createOrReplaceTempView("np_bloom")
  }

  /** `fn(cols..., ints...)` over `from`, and the type it must have. */
  private case class Case(from: String, cols: Seq[String], ints: Seq[Int], dataType: DataType)

  private def struct(fields: (String, DataType, Boolean)*) =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Docs = "np_docs"
  private val Pages = "np_pages"
  private val hits = "array(int(doc_id % 7), int(doc_id % 11) + 3, CAST(NULL AS INT))"

  private val cases: Map[String, Case] = Map(
    "simhash64" -> Case(Docs, Seq("text"), Nil, LongType),
    "simhash_md5" -> Case(Docs, Seq("text"), Nil, LongType),
    "minhash_sig" -> Case(Docs, Seq("text"), Seq(3, 16), Longs),
    "minhash_sig_from_hashes" -> Case(Docs, Seq("shingle_hashes(text, 3)"), Seq(16), Longs),
    "shingle_hashes" -> Case(Docs, Seq("text"), Seq(3), Longs),
    "fingerprint64" -> Case(Docs, Seq("text"), Nil, LongType),
    "fingerprint_md5" -> Case(Docs, Seq("text"), Nil, StringType),
    "token_chunks" -> Case(Docs, Seq("text"), Seq(8, 4), ArrayType(
      struct(("chunk_idx", IntegerType, false), ("chunk", StringType, false)), containsNull = false)),
    "dedup_lines" -> Case(Docs, Seq("translate(text, '.', '\\n')"), Nil, StringType),
    "dedup_spans" -> Case(Docs, Seq("text"), Seq(5), StringType),
    "excise_spans" -> Case(Docs, Seq("text", hits), Seq(5),
      struct(("n_tokens", LongType, false), ("n_kept", LongType, false), ("clean", StringType, true))),
    "token_tf" -> Case(Docs, Seq("text"), Nil, ArrayType(
      struct(("token", StringType, false), ("tf", LongType, false)), containsNull = false)),
    "bpe_estimate" -> Case(Docs, Seq("text"), Nil, LongType),
    "quality_score" -> Case(Docs, Seq("text"), Nil, DoubleType),
    "dot_int" -> Case("np_emb", Seq("transform(embedding, x -> int(x * 1000))",
      "transform(embedding, x -> int(x * 100) - 7)"), Nil, LongType),
    "jaccard_sim" -> Case(Docs, Seq("shingle_hashes(text, 2)", "shingle_hashes(text, 3)"), Nil,
      DoubleType),
    "pdf_text" -> Case(Pages, Seq("html"), Nil, BinaryType),
    "html_text" -> Case(Pages, Seq("html"), Nil, BinaryType),
    "graft_text" -> Case(Pages, Seq("url", "html"), Nil, BinaryType),
    "html_links" -> Case(Pages, Seq("url", "html"), Nil, ArrayType(StringType, containsNull = false)),
    "html_anchors" -> Case(Pages, Seq("url", "html"), Nil, ArrayType(
      struct(("dst", StringType, false), ("anchor", StringType, false)), containsNull = false)),
    "bloom_might_contain" -> Case(s"$Docs CROSS JOIN np_bloom",
      Seq("bloom", "md5(token_chunks(text, 5, 1)[0].chunk)"), Nil, BooleanType),
    "bloom_shingle_hits" -> Case(s"$Docs CROSS JOIN np_bloom", Seq("text", "bloom"), Seq(5),
      struct(("n_shingles", IntegerType, false),
        ("hits", ArrayType(StringType, containsNull = false), false))),
    // a float and a double vector
    "cosine_sim" -> Case("np_emb",
      Seq("embedding", "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x * x - 0.1D)"), Nil,
      DoubleType),
    "hyperplane_sigs" -> Case("np_emb", Seq("embedding"), Seq(8, 2), Longs))

  /** A non-null value of each argument type, to build non-null inputs. */
  private def nonNull(t: DataType): String = t match {
    case StringType => "''"
    case BinaryType => "X''"
    case ArrayType(LongType, _) => "array(0L)"
    case ArrayType(IntegerType, _) => "array(0)"
    case ArrayType(DoubleType, _) => "array(0D)"
  }

  private val Compiled = Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "true")
  private val Interpreted = Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "false")

  /** Runs `f` under `conf`, then restores every key as it was (the session
    * is shared by every suite). */
  private def withConf[T](conf: Map[String, String])(f: => T): T = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: Double => java.lang.Double.toString(d)
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case other => other
  }

  /** The rows, normalized and sorted, and whether any `v` is non-null. */
  private def run(df: DataFrame): (Seq[String], Boolean) = {
    val rows = df.collect().toSeq
    (rows.map(r => norm(r).toString).sorted, rows.exists(!_.isNullAt(0)))
  }

  /** Runs `query` compiled and interpreted and asserts equal rows; returns
    * whether any first-column value is non-null, the compiled plan and the
    * schema. */
  private def parity(query: String): (Boolean, String, StructType) = {
    val ((compiled, anyValue), compiledPlan, schema) = withConf(Compiled) {
      val df = spark.sql(query)
      (run(df), df.queryExecution.executedPlan.toString, df.schema)
    }
    val (interpreted, _) = withConf(Interpreted)(run(spark.sql(query)))
    assert(compiled == interpreted)
    (anyValue, compiledPlan, schema)
  }

  test("every native scalar kernel has a parity case") {
    assert(cases.keySet == Natives.scalars.map(_.name).toSet)
  }

  Natives.scalars.foreach { fn =>
    test(s"${fn.name}: compiled == interpreted; type and nullability as declared") {
      views
      val c = cases(fn.name)
      val ints = c.ints.map(_.toString)
      val nonNullCols = c.cols.zip(fn.inputTypes).map { case (a, t) => s"coalesce($a, ${nonNull(t)})" }
      val query =
        s"""SELECT ${fn.name}(${(c.cols ++ ints).mkString(", ")}) AS v,
           |       ${fn.name}(${(nonNullCols ++ ints).mkString(", ")}) AS nn
           |FROM ${c.from}""".stripMargin
      val (anyValue, compiledPlan, schema) = parity(query)
      assert(compiledPlan.contains(s"${fn.method}("), compiledPlan)
      assert(anyValue, "every value is null")
      assert(schema("v").dataType == c.dataType && schema("nn").dataType == c.dataType, schema)
      assert(schema("v").nullable, "a nullable input must give a nullable result")
      assert(schema("nn").nullable == fn.nullable,
        "non-null inputs must give a non-null result unless the entry declares it nullable")
    }
  }

  // float input must equal its exact double cast; a ragged pair gives null
  test("cosine_sim and hyperplane_sigs: compiled == interpreted for float and double vectors") {
    views
    val query =
      """SELECT cosine_sim(embedding, transform(embedding, x -> x * x - 0.1F)) AS cf,
        |       cosine_sim(CAST(embedding AS ARRAY<DOUBLE>),
        |         CAST(transform(embedding, x -> x * x - 0.1F) AS ARRAY<DOUBLE>)) AS cd,
        |       hyperplane_sigs(embedding, 8, 2) AS hf,
        |       hyperplane_sigs(CAST(embedding AS ARRAY<DOUBLE>), 8, 2) AS hd,
        |       cosine_sim(embedding, slice(embedding, 1, 3)) AS ragged
        |FROM np_emb""".stripMargin
    val (anyValue, _, schema) = parity(query)
    assert(anyValue)
    assert(schema.map(_.dataType) == Seq(DoubleType, DoubleType, Longs, Longs, DoubleType), schema)
    val rows = spark.sql(s"$query WHERE embedding IS NOT NULL").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(norm(r.get(0)) == norm(r.get(1)) && r.getSeq[Long](2) == r.getSeq[Long](3), r)
      assert(r.isNullAt(4), r)
    }
  }
}
