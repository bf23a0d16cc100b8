package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.LanguageModel

class LanguageModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("floorLog2 is exact at power-of-two boundaries") {
    val got = Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, 1025L, (1L << 62))
      .toDF("n")
      .select(col("n"), LanguageModel.floorLog2(col("n")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 7L -> 2L,
      8L -> 3L, 1023L -> 9L, 1024L -> 10L, 1025L -> 10L, (1L << 62) -> 62L)
    assert(got == expected)
  }

  test("selfSurprisal == brute-force bit accounting on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = LanguageModel.selfSurprisal(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    def fl2(n: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(n)
    val toks = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Array.empty[String]
         else r.getString(1).split(" ", -1).filter(_.nonEmpty)))
    val cnt = toks.flatMap(_._2).groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    val total = cnt.values.sum
    val expected = toks.map { case (id, ts) =>
      val bits = ts.map(t => fl2(total) - fl2(cnt(t))).sum
      val n = ts.length.toLong
      id -> (n, bits, if (n > 0) bits * 100 / n else 0L)
    }.toMap
    assert(got == expected)
    // the gate separates documents: scores are non-degenerate
    assert(got.values.map(_._3).toSet.size > 1)
  }

  test("unigram model: hand-computed whole bits; self-scoring sums them per occurrence") {
    val docs = Seq((1L, "a a a a b b c"), (2L, "a b c d"), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val m = LanguageModel.unigramModel(docs, "id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // total = 11 occurrences -> floor(log2 11) = 3; a:5 -> 3-2=1 bit,
    // b:3 -> 3-1=2, c:2 -> 3-1=2, d:1 -> 3-0=3
    assert(m.map(x => (x._2, x._3)).sorted.toSeq ==
      Seq((1L, 3L), (2L, 2L), (3L, 2L), (5L, 1L)))

    val scored = LanguageModel.selfSurprisal(docs, "id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: 4 a(1) + 2 b(2) + c(2) = 10 bits over 7; doc 2: 1 + 2 + 2 + 3
    assert(scored == Map(1L -> ((7L, 10L, 142L)), 2L -> ((4L, 8L, 200L)),
      3L -> ((0L, 0L, 0L))))
  }

  test("self-scoring a corpus without tokens reports zeros instead of failing") {
    // its own model is empty, so nothing is scored and no lookup misses
    val docs = Seq((1L, ""), (2L, null.asInstanceOf[String]), (3L, "  ")).toDF("id", "text")
    val zeros = Seq(1L, 2L, 3L).map(id => (id, 0L, 0L, 0L))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows(LanguageModel.selfSurprisal(docs, "id", "text")) == zeros)
    // one-token documents have no transition, so the bigram model is empty
    val solo = Seq((1L, "solo"), (2L, null.asInstanceOf[String]), (3L, "a  b")).toDF("id", "text")
    assert(rows(LanguageModel.selfBigramSurprisal(solo, "id", "text")) == zeros)
    assert(LanguageModel.selfSurprisal(docs.limit(0), "id", "text").count() == 0L)
  }

  test("selfSurprisal raise_errors on duplicate ids") {
    val dup = Seq((1L, "a b"), (1L, "c d")).toDF("id", "text")
    val ex = intercept[Exception] {
      LanguageModel.selfSurprisal(dup, "id", "text").collect()
    }
    assert(ex.getMessage.contains("LanguageModel.selfSurprisal"))
  }

  test("deterministic across partitionings") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = LanguageModel.selfSurprisal(docs, "doc_id", "text")
      .orderBy("id").collect().toSeq
    val b = LanguageModel.selfSurprisal(docs.repartition(17), "doc_id", "text")
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("bigram model + self-scoring: hand-computed conditional bits; separator runs break the chain") {
    // corpus bigrams: doc1 "a b a b c" -> ab ba ab bc; doc2 "a a" -> aa
    // counts: ab 2, ba 1, bc 1, aa 1; prefixes: a -> 3, b -> 2
    // bits: ab = fl2(3)-fl2(2) = 0, ba = fl2(2)-fl2(1) = 1, bc = 1,
    //       aa = fl2(3)-fl2(1) = 1
    val docs = Seq((1L, "a b a b c"), (2L, "a a"), (3L, "x"),
      (4L, null.asInstanceOf[String]), (5L, "a  b")).toDF("id", "text")
    val m = LanguageModel.bigramModel(docs, "id", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    def h(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(m.size == 4)
    assert(m((h("a"), h("b"))) == ((2L, 0L)))
    assert(m((h("b"), h("a"))) == ((1L, 1L)))
    assert(m((h("b"), h("c"))) == ((1L, 1L)))
    assert(m((h("a"), h("a"))) == ((1L, 1L)))
    val got = LanguageModel.selfBigramSurprisal(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc1: ab(0)*2 + ba(1) + bc(1) = 2 bits over 4; doc2: aa(1) over 1
    // doc3 one token, doc4 null, doc5 "a  b" (double space breaks
    // adjacency) -> all (0, 0, 0)
    assert(got == Map(
      1L -> ((4L, 2L, 50L)), 2L -> ((1L, 1L, 100L)),
      3L -> ((0L, 0L, 0L)), 4L -> ((0L, 0L, 0L)), 5L -> ((0L, 0L, 0L))))
  }

  test("selfBigramSurprisal raise_errors on duplicate ids") {
    val dup = Seq((1L, "a b"), (1L, "c d")).toDF("id", "text")
    val ex = intercept[Exception] {
      LanguageModel.selfBigramSurprisal(dup, "id", "text").collect()
    }
    assert(ex.getMessage.contains("LanguageModel.selfBigramSurprisal"))
  }

  test("bigram scoring is deterministic across partitionings") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = LanguageModel.selfBigramSurprisal(docs, "doc_id", "text")
      .orderBy("id").collect().toSeq
    val b = LanguageModel.selfBigramSurprisal(docs.repartition(17), "doc_id", "text")
      .orderBy("id").collect().toSeq
    assert(a == b)
    assert(a.map(_.getLong(3)).toSet.size > 1, "scores must separate documents")
  }

  test("collocations == brute-force decomposed-PMI replay; guards") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = LanguageModel.collocations(docs, "text", k = 20, minCount = 3L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

    def fl2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    def h(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    val pairs = docs.select("text").collect()
      .flatMap(r => Option(r.getString(0))).flatMap { t =>
        val ts = t.split(" ", -1)
        (0 until ts.length - 1).collect {
          case i if ts(i).nonEmpty && ts(i + 1).nonEmpty => (ts(i), ts(i + 1))
        }
      }
    val cnt = pairs.groupBy(identity).map { case (p, a) => p -> a.length.toLong }
    val ca = cnt.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val cb = cnt.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val n = cnt.values.sum
    val expected = cnt.toSeq.filter(_._2 >= 3L)
      .map { case ((a, b), c) =>
        (a, b, c, fl2(c) + fl2(n) - fl2(ca(a)) - fl2(cb(b))) }
      .sortBy { case (a, b, c, p) => (-p, -c, h(a), h(b)) }
      .take(20).zipWithIndex
      .map { case ((a, b, c, p), i) => (a, b, c, p, i + 1L) }
    assert(got == expected)
    assert(got.map(_._5) == (1L to 20L), "rank must be a total order")
    assertThrows[IllegalArgumentException](
      LanguageModel.collocations(docs, "text", k = 0))
    assertThrows[IllegalArgumentException](
      LanguageModel.collocations(docs, "text", k = 5, minCount = 0L))
  }

  test("tokenDrift: movers only, OOV charges on both sides, unmoved tokens drop out") {
    import spark.implicits._
    // A: 8x "aa", 4x "bb", 2x "cc", 2x "dd"  (total 16, log_tot = 4)
    // B: 8x "aa", 1x "bb", 2x "cc", 2x "ee"  (total 13, log_tot = 3)
    val a = Seq((1L, ("aa " * 8 + "bb " * 4 + "cc cc dd dd").trim)).toDF("id", "text")
    val bd = Seq((1L, ("aa " * 8 + "bb " + "cc cc ee ee").trim)).toDF("id", "text")
    val out = LanguageModel.tokenDrift(a, bd, "id", "text")
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    // bits: A: aa 4-3=1, bb 4-2=2, cc 4-1=3, dd 4-1=3, OOV_A = 5
    //       B: aa 3-3=0, bb 3-0=3, cc 3-1=2, ee 3-1=2, OOV_B = 4
    // deltas: aa -1, bb +1, cc -1, dd 4-3=+1 (vanished), ee 2-5=-3 (new)
    assert(out == Seq(
      ("aa", 8L, 8L, 1L, 0L, -1L),
      ("bb", 4L, 1L, 2L, 3L, 1L),
      ("cc", 2L, 2L, 3L, 2L, -1L),
      ("dd", 2L, 0L, 3L, 4L, 1L),
      ("ee", 0L, 2L, 5L, 2L, -3L)))
    // identical corpora: nothing moves, the report is empty
    assert(LanguageModel.tokenDrift(a, a, "id", "text").count() == 0L)
  }
}
