package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.operators.DedupReference

/** Parity: the native sketch expressions must equal the declarative
  * higher-order-function formulations bit-for-bit on real data. */
class SketchExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("native simhash64 == declarative simhash on all documents") {
    val cmp = docs.select(
      DedupReference.simhashDeclarative(col("text")).as("a"),
      Natives.simhash64(Seq(col("text"))).as("b"))
    assert(cmp.where(col("a") =!= col("b")).count() == 0)
  }

  test("native simhash_md5 == declarative md5 simhash on all documents + edge cases") {
    val cmp = docs.select(
      DedupReference.simhashMd5Declarative(col("text")).as("a"),
      Natives.simhashMd5(Seq(col("text"))).as("b"))
    assert(cmp.where(col("a") =!= col("b")).count() == 0)
    import spark.implicits._
    val edge = Seq("", "word", "a  b", " lead", "trail ", "a b c d e", "ünïcode tökens")
      .toDF("text")
    edge.select(
        DedupReference.simhashMd5Declarative(col("text")).as("a"),
        Natives.simhashMd5(Seq(col("text"))).as("b"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    // the value really is the top-60-bit md5 construction the DuckDB oracle
    // recomputes: check one token against Spark's own md5()
    val one = Seq("hello").toDF("text").select(
      Natives.simhashMd5(Seq(col("text"))).as("sh"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h")).head()
    // a single token votes its own bits: simhash == token hash
    assert(one.getLong(0) == one.getLong(1), one.toString)
  }

  test("native minhash_sig == declarative signature on all documents") {
    val cmp = docs.select(
      DedupReference.minhashSignatureDeclarative(DedupReference.wordShingles(col("text"), 3), 32).as("a"),
      Natives.minhashSig(Seq(col("text")), 3, 32).as("b"))
    assert(cmp.where(col("a") =!= col("b")).count() == 0)
  }

  test("native shingle_hashes == declarative distinct shingle xxhash64 on all documents") {
    for (n <- Seq(2, 3, 5)) {
      val cmp = docs.select(
        array_distinct(transform(DedupReference.wordShingles(col("text"), n), s => xxhash64(s))).as("a"),
        Natives.shingleHashes(Seq(col("text")), n).as("b"))
      assert(cmp.where(col("a") =!= col("b")).count() == 0, s"n=$n")
    }
  }

  test("minhash_sig_from_hashes(shingle_hashes) == minhash_sig on all documents + edge cases") {
    // the r6 derivation the pair miners rely on: the signature computed
    // from the stored DISTINCT shingle hashes must equal the signature
    // computed from the text (min over occurrences == min over distinct
    // values; h1/h2 derive from exactly the stored base hash)
    for ((n, k) <- Seq((3, 64), (3, 32), (5, 16))) {
      val cmp = docs.select(
        Natives.minhashSig(Seq(col("text")), n, k).as("sig_a"),
        Natives.minhashSigFromHashes(
          Seq(Natives.shingleHashes(Seq(col("text")), n)), k).as("sig_b"))
      assert(cmp.where(col("sig_a") =!= col("sig_b")).count() == 0, s"n=$n k=$k")
    }
    import spark.implicits._
    val edge = Seq("", "word", "a  b", " lead", "trail ", "a b c d e", "ünïcode tökens")
      .toDF("text")
    edge.select(
        Natives.minhashSig(Seq(col("text")), 3, 16).as("sig_a"),
        Natives.minhashSigFromHashes(
          Seq(Natives.shingleHashes(Seq(col("text")), 3)), 16).as("sig_b"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), r)
      }
  }

  test("native jaccard_sim == size(array_intersect)/size(array_union) on all doc pairs") {
    // all consecutive-doc pairs (distinct shingle-hash arrays, the real
    // verify input) plus crafted duplicate/disjoint/subset arrays
    val sh = docs.select(col("doc_id"),
      Natives.shingleHashes(Seq(col("text")), 3).as("h"))
    val pairs = sh.as("a").join(sh.as("b"),
      col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.h").as("ha"), col("b.h").as("hb"))
    val cmp = pairs.select(
      (size(array_intersect(col("ha"), col("hb"))).cast("double") /
        size(array_union(col("ha"), col("hb"))).cast("double")).as("decl"),
      Natives.jaccardSim(Seq(col("ha"), col("hb"))).as("nat"))
    assert(cmp.count() > 0)
    assert(cmp.where(col("decl") =!= col("nat")).count() == 0)

    import spark.implicits._
    val edge = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(1L, 1L, 2L), Seq(2L, 2L, 1L)),  // duplicates must collapse
      (Seq(1L, 2L), Seq(3L, 4L)),          // disjoint -> 0.0
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),  // identical -> 1.0
      (Seq(5L), Seq(1L, 2L, 3L, 4L, 5L)),  // subset
      (Seq(Long.MinValue, Long.MaxValue, -1L), Seq(-1L, Long.MinValue))) // sign-sensitive order
      .toDF("ha", "hb")
    edge.select(
        (size(array_intersect(col("ha"), col("hb"))).cast("double") /
          size(array_union(col("ha"), col("hb"))).cast("double")).as("decl"),
        Natives.jaccardSim(Seq(col("ha"), col("hb"))).as("nat"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))

    // null elements: NULL is one distinct set element, exactly as
    // array_intersect/array_union treat it (the SQL-registered function
    // must not NPE or silently zero-fill)
    val nulls = Seq(
      (Seq(Option(1L), None, Option(2L)), Seq(Option(2L), None)),
      (Seq(Option(1L), None, None), Seq(Option(3L))),
      (Seq(Option.empty[Long]), Seq(Option.empty[Long])))
      .toDF("ha", "hb")
    nulls.select(
        (size(array_intersect(col("ha"), col("hb"))).cast("double") /
          size(array_union(col("ha"), col("hb"))).cast("double")).as("decl"),
        Natives.jaccardSim(Seq(col("ha"), col("hb"))).as("nat"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
  }

  test("native quality_score == declarative formula on all documents + unicode edges") {
    import org.apache.spark.sql.functions._
    val cmp = docs.select(
      graft.operators.TextAnalysisReference.qualityScoreDeclarative(col("text")).as("a"),
      Natives.qualityScore(Seq(col("text"))).as("b"))
    assert(cmp.where(col("a") =!= col("b")).count() == 0)
    import spark.implicits._
    val edge = Seq(
      "", "the", "THE AND of A", "a  b", " lead the", "trail ",
      "ünïcode tökens the and", "добрый the день", "emoji 😀 the of",
      "x" * 600 + " the", "punct!!! ??? ;;; the", "ＴＨＥ the") // fullwidth THE != stopword
      .toDF("text")
    edge.select(
        graft.operators.TextAnalysisReference.qualityScoreDeclarative(col("text")).as("a"),
        Natives.qualityScore(Seq(col("text"))).as("b"))
      .collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
  }

  test("native bpe_estimate == declarative formula on all documents + unicode edges") {
    import org.apache.spark.sql.functions._
    val cmp = docs.select(
      graft.operators.TextAnalysisReference.bpeTokenEstimateDeclarative(col("text")).as("a"),
      Natives.bpeEstimate(Seq(col("text"))).as("b"))
    assert(cmp.where(col("a") =!= col("b")).count() == 0)
    import spark.implicits._
    Seq("", "a", "abcd", "abcde", "ünïcödé tökens", "a  b", " x ", "😀😀😀😀😀")
      .toDF("text")
      .select(
        graft.operators.TextAnalysisReference.bpeTokenEstimateDeclarative(col("text")).as("a"),
        Natives.bpeEstimate(Seq(col("text"))).as("b"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  test("native token_chunks == declarative chunking on all documents + edge cases") {
    import org.apache.spark.sql.functions._
    for ((size, stride) <- Seq((64, 48), (8, 8), (4, 2), (1, 1))) {
      val cmp = docs.select(
        graft.operators.TextAnalysisReference.tokenChunksDeclarative(col("text"), size, stride).as("a"),
        Natives.tokenChunks(Seq(col("text")), size, stride).as("b"))
      assert(cmp.where(col("a") =!= col("b")).count() == 0, s"size=$size stride=$stride")
    }
    import spark.implicits._
    val edge = Seq("", "one", "a b", "trail ", " lead", "a  b c").toDF("text")
    val cmp = edge.select(
      graft.operators.TextAnalysisReference.tokenChunksDeclarative(col("text"), 2, 2).as("a"),
      Natives.tokenChunks(Seq(col("text")), 2, 2).as("b"))
    cmp.collect().foreach(r => assert(r.get(0) == r.get(1), r))
  }

  test("native fingerprint_md5 == declarative md5 chain on all documents + edge cases") {
    val cmp = docs.select(
      graft.operators.TextAnalysisReference.fingerprintMd5Declarative(col("text")).as("a"),
      Natives.fingerprintMd5(Seq(col("text"))).as("b"))
    assert(cmp.where(col("a") =!= col("b")).count() == 0)
    import spark.implicits._
    Seq("", "word", "a  b", " lead", "trail ", "ünïcode tökens")
      .toDF("text")
      .select(
        graft.operators.TextAnalysisReference.fingerprintMd5Declarative(col("text")).as("a"),
        Natives.fingerprintMd5(Seq(col("text"))).as("b"))
      .collect().foreach(r => assert(r.getString(0) == r.getString(1), r))
    // pinned golden for the exact two-token chain (matches hashlib md5 fold)
    val g = Seq("hello world").toDF("text")
      .select(Natives.fingerprintMd5(Seq(col("text")))).head().getString(0)
    assert(g == "df63fe575e5b30f5e7876be8d8e72df2", g)
  }

  test("native fingerprint64 == declarative hash-chain fold on all documents") {
    val cmp = docs.select(
      graft.operators.TextAnalysisReference.fingerprintDeclarative(col("text")).as("a"),
      Natives.fingerprint64(Seq(col("text"))).as("b"))
    assert(cmp.where(col("a") =!= col("b")).count() == 0)
  }

  test("edge cases: empty text, single token, consecutive spaces") {
    import spark.implicits._
    val edge = Seq("", "word", "a  b", " lead", "trail ", "a b c d e").toDF("text")
    val cmp = edge.select(
      DedupReference.simhashDeclarative(col("text")).as("a"),
      Natives.simhash64(Seq(col("text"))).as("b"),
      DedupReference.minhashSignatureDeclarative(DedupReference.wordShingles(col("text"), 3), 16).as("ma"),
      Natives.minhashSig(Seq(col("text")), 3, 16).as("mb"),
      graft.operators.TextAnalysisReference.fingerprintDeclarative(col("text")).as("fa"),
      Natives.fingerprint64(Seq(col("text"))).as("fb"))
    val rows = cmp.collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), r)
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), r)
      assert(r.getLong(4) == r.getLong(5), r)
    }
  }

  test("dedup_spans: repeats struck, pass-throughs byte-identical, SQL surface wired") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      "a b c d a b c e",       // repeated "a b" at pos 4 -> strikes 4..5
      "x y z",                 // no repeats: byte-identical
      "a  b a  b",             // empty tokens repeat too
      "t t t t t").toDF("text")
    val out = df.select(col("text"),
      Natives.dedupSpans(Seq(col("text")), 2).as("native"),
      expr("dedup_spans(text, 2)").as("sql")).collect()
    out.foreach(r => assert(r.getString(1) == r.getString(2), r))
    // repeats at 4 ("a b") and 5 ("b c") cover tokens 4..6 -> "e" survives
    assert(out(0).getString(1) == "a b c d e")
    assert(out(1).getString(1) == "x y z")
    // "t t t t t": shingles at 0..3 all "t t"; repeats at 1,2,3 cover 1..4
    assert(out(3).getString(1) == "t")
  }
}
