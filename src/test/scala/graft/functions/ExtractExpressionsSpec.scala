package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1
import graft.SparkTestBase
import graft.pdf.Fixtures

/** SQL-surface parity: the native Catalyst expressions must produce exactly
  * what the typed pipeline produces, from SQL text, inside codegen. */
class ExtractExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("pdf_text in SQL equals the kernel output byte-for-byte") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq(("xref_repair.pdf", Fixtures.bytes("xref_repair.pdf")))
      .toDF("name", "payload").createOrReplaceTempView("pdfs")
    val row = spark.sql("SELECT pdf_text(payload) AS t FROM pdfs").collect()(0)
    assert(new String(row.getAs[Array[Byte]]("t"), ISO_8859_1) == "Hello World\n")
  }

  test("graft_text routes pdf vs html and html_text strips boilerplate") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val html = "<html><head><script>x</script></head><body><p>real content here</p></body></html>"
    Seq(
      ("test://a/doc.pdf", Fixtures.bytes("xref_repair.pdf")),
      ("test://b/page.html", html.getBytes("UTF-8")))
      .toDF("url", "payload").createOrReplaceTempView("pages")
    val rows = spark.sql(
      "SELECT url, decode(graft_text(url, payload), 'UTF-8') AS t FROM pages ORDER BY url")
      .collect()
    assert(rows(0).getString(1) == "Hello World\n")
    assert(rows(1).getString(1) == "real content here")
    val h = spark.sql("SELECT decode(html_text(payload), 'UTF-8') AS t FROM pages WHERE url LIKE '%html'").collect()
    assert(h(0).getString(0) == "real content here")
  }

  test("sketch family is SQL-reachable and equals the DataFrame API") {
    GraftFunctions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).createOrReplaceTempView("sql_docs")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).createOrReplaceTempView("sql_emb")
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(text) AS sh, fingerprint64(text) AS fp,
                minhash_sig(text, 3, 16) AS sig, shingle_hashes(text, 3) AS hs
         FROM sql_docs ORDER BY doc_id""").collect()
    import org.apache.spark.sql.functions.col
    val viaApi = spark.table("sql_docs").select(col("doc_id"),
        Natives.simhash64(Seq(col("text"))).as("sh"),
        Natives.fingerprint64(Seq(col("text"))).as("fp"),
        Natives.minhashSig(Seq(col("text")), 3, 16).as("sig"),
        Natives.shingleHashes(Seq(col("text")), 3).as("hs"))
      .orderBy("doc_id").collect()
    assert(viaSql.toSeq.map(_.toString) == viaApi.toSeq.map(_.toString))
    val cos = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS c,
                hyperplane_sigs(a.embedding, 4, 2) AS sigs
         FROM sql_emb a JOIN sql_emb b ON b.vec_id = 0 ORDER BY a.vec_id""").collect()
    assert(cos.length == 50 && cos.forall(r => !r.isNullAt(1) && r.getSeq[Long](2).length == 2))
  }

  test("jaccard_sim / quality_score / bpe_estimate are SQL-reachable and equal the API") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq(("the quick brown fox", Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)))
      .toDF("t", "a", "b").createOrReplaceTempView("sqlfns")
    val row = spark.sql(
      """SELECT jaccard_sim(a, b) AS j, quality_score(t) AS q, bpe_estimate(t) AS e
        |FROM sqlfns""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 0.5)
    val api = Seq("the quick brown fox").toDF("t")
      .select(Natives.qualityScore(Seq(org.apache.spark.sql.functions.col("t"))),
        Natives.bpeEstimate(Seq(org.apache.spark.sql.functions.col("t"))))
      .collect()(0)
    assert(row.getDouble(1) == api.getDouble(0))
    // the(1) + quick(2) + brown(2) + fox(1) = 6 pieces of <= 4 chars
    assert(row.getLong(2) == api.getLong(1) && row.getLong(2) == 6L)
  }

  test("misra_gries is SQL-reachable as an aggregate") {
    import spark.implicits._
    GraftFunctions.register(spark)
    Seq("a", "a", "a", "b", "c").toDF("t").createOrReplaceTempView("hh_items")
    val row = spark.sql("SELECT misra_gries(t, 8) AS mg FROM hh_items").collect()(0)
      .getStruct(0)
    assert(row.getLong(0) == 5L)
    val items = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(items.head == ("a", 3L), items.mkString(","))
  }

  test("null payload yields null, wrong type fails analysis") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT pdf_text(CAST(NULL AS BINARY)) AS t").collect()
    assert(r(0).isNullAt(0))
    val err = intercept[Exception] {
      spark.sql("SELECT pdf_text('not binary')").collect()
    }
    assert(err.getMessage.toLowerCase.contains("binary") || err.getMessage.contains("DATATYPE"))
  }
}
