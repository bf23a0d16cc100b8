package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{WebCuration, WebCurationSql}

class WebCurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("tokenLines chunks the token stream, ragged tail kept") {
    val r = Seq("a b c d e").toDF("text")
      .select(WebCuration.tokenLines(col("text"), 2).as("lines"))
      .as[Seq[String]].head()
    assert(r == Seq("a b", "c d", "e"))
    val one = Seq("solo").toDF("text")
      .select(WebCuration.tokenLines(col("text"), 8).as("lines"))
      .as[Seq[String]].head()
    assert(one == Seq("solo"))
  }

  test("stripBoilerplate removes cross-doc lines, keeps order, NULLs all-hot docs") {
    // chunk=2 lines: doc1 [shared nav, body one], doc2 [shared nav, body two],
    // doc3 [shared nav] (fully boilerplate), doc4 [body four] (untouched)
    val df = Seq(
      (1L, "shared nav body one"),
      (2L, "shared nav body two"),
      (3L, "shared nav"),
      (4L, "body four")).toDF("doc_id", "text")
    val out = WebCuration.stripBoilerplate(df, "doc_id", "text", chunk = 2, minDocs = 2)
      .orderBy("id")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq == Seq(
      (1L, 2L, 1L, "body one"),
      (2L, 2L, 1L, "body two"),
      (3L, 1L, 0L, null),
      (4L, 1L, 1L, "body four")))
  }

  test("stripBoilerplate keeps multi-line survivors joined by newline in index order") {
    val df = Seq(
      (1L, "aa bb k1 k1 aa bb k2 k2"),
      (2L, "aa bb")).toDF("doc_id", "text")
    val out = WebCuration.stripBoilerplate(df, "doc_id", "text", chunk = 2, minDocs = 2)
      .where($"id" === 1L).collect().head
    // "aa bb" occurs in both docs (and twice in doc 1) -> both copies struck
    assert(out.getLong(1) == 4L && out.getLong(2) == 2L)
    assert(out.getString(3) == "k1 k1\nk2 k2")
  }

  test("stripBoilerplate keeps a row for null-text docs (0 lines, null clean_text)") {
    val df = Seq((1L, Option("aa bb")), (2L, Option("aa bb")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = WebCuration.stripBoilerplate(df, "doc_id", "text", chunk = 2, minDocs = 2)
      .orderBy("id").collect()
    assert(out.length == 3)
    assert(out(2).getLong(1) == 0L && out(2).getLong(2) == 0L && out(2).isNullAt(3))
  }

  test("stripBoilerplate raise_errors on duplicate ids instead of silently collapsing") {
    val df = Seq((1L, "aa bb"), (1L, "cc dd"), (2L, "aa bb")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      WebCuration.stripBoilerplate(df, "doc_id", "text", chunk = 2, minDocs = 2).collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate input id")))
    // a consumer that selects only (id, clean_text), as Curate's boilerplate
    // stage does, must still run the guard
    val projected = intercept[Exception] {
      WebCuration.stripBoilerplate(df, "doc_id", "text", chunk = 2, minDocs = 2)
        .select("id", "clean_text").collect()
    }
    assert(SparkTestBase.causeMessages(projected).exists(_.contains("duplicate input id")))
  }

  test("keepFirstLines: first (id, idx) occurrence survives, later copies struck everywhere") {
    // chunk=2 lines. doc 1: [aa bb, cc dd]; doc 2: [aa bb, ee ff];
    // doc 3: [cc dd, cc dd] (in-doc repeat loses to doc 1 AND to itself)
    val df = Seq(
      (1L, "aa bb cc dd"),
      (2L, "aa bb ee ff"),
      (3L, "cc dd cc dd"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = WebCuration.keepFirstLines(df, "doc_id", "text", chunk = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(out == Seq(
      (1L, 2L, 2L, "aa bb\ncc dd"),  // first occurrences: keeps everything
      (2L, 2L, 1L, "ee ff"),          // "aa bb" lost to doc 1
      (3L, 2L, 0L, null),             // both copies of "cc dd" lost to doc 1
      (4L, 0L, 0L, null)))
    // duplicate ids are loud, same as the other per-doc operators
    val dup = Seq((1L, "aa bb"), (1L, "cc dd")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      WebCuration.keepFirstLines(dup, "doc_id", "text", chunk = 2).collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate input id")))
  }

  test("keepFirstUnits: paragraph-granularity keep-first over a literal separator") {
    // paragraphs on "\n\n". doc 1 owns P1, P2; doc 2 repeats P1 (struck)
    // and owns P3; doc 3 repeats P2 twice (both struck — cross-doc AND
    // within-doc); doc 4 null; doc 5 is only separators -> zero units;
    // doc 6 has empty units from consecutive separators (dropped) and a
    // leading separator (normalized away on rejoin)
    val df = Seq(
      (1L, "P one\n\nP two"),
      (2L, "P one\n\nP three"),
      (3L, "P two\n\nP two"),
      (4L, null.asInstanceOf[String]),
      (5L, "\n\n\n\n"),
      (6L, "\n\nP four\n\n\n\nP five")).toDF("doc_id", "text")
    val out = WebCuration.keepFirstUnits(df, "doc_id", "text", sep = "\n\n")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(out == Seq(
      (1L, 2L, 2L, "P one\n\nP two"),
      (2L, 2L, 1L, "P three"),
      (3L, 2L, 0L, null),
      (4L, 0L, 0L, null),
      (5L, 0L, 0L, null),
      (6L, 2L, 2L, "P four\n\nP five")))
    // duplicate ids are loud through the shared anchor
    val dup = Seq((1L, "a"), (1L, "b")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      WebCuration.keepFirstUnits(dup, "doc_id", "text", sep = "\n\n").collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate input id")))
  }

  test("keepFirstUnits with a sentence separator: '. '-delimited units dedup the same way") {
    val df = Seq(
      (10L, "alpha. beta. alpha"),
      (20L, "beta. gamma")).toDF("doc_id", "text")
    val out = WebCuration.keepFirstUnits(df, "doc_id", "text", sep = ". ")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // doc 10 units: [alpha, beta, alpha] -> second "alpha" struck in-doc;
    // doc 20: "beta" lost to doc 10, keeps "gamma"
    assert(out == Seq(
      (10L, 3L, 2L, "alpha. beta"),
      (20L, 2L, 1L, "gamma")))
  }

  test("keepFirstUnits SQL recipe + registered view reproduce the operator (paragraphs)") {
    val para = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        regexp_replace(col("text"), " the ", "\n\n").as("text"))
    para.createOrReplaceTempView("kfu_sql_docs")
    WebCurationSql.registerKeepFirstUnitsView(spark, "kfu_sql_view",
      "kfu_sql_docs", "doc_id", "text", sep = "\n\n")
    val viaSql = spark.sql("SELECT * FROM kfu_sql_view ORDER BY id")
      .collect().map(_.toString).toSeq
    val viaApi = WebCuration.keepFirstUnits(para, "doc_id", "text", sep = "\n\n")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
  }

  test("keepFirstSpans: global first (id, pos) per shingle survives; later copies excised") {
    // w=2 spans. doc 1 owns "aa bb", "bb cc", "cc dd"; doc 2 repeats
    // "aa bb" at pos 0 (cover 0,1) and introduces "ee ff"; doc 3 is a
    // verbatim copy of doc 1 -> every full-width span struck -> NULL;
    // doc 5 repeats its own span within-doc (global order still applies)
    val df = Seq(
      (1L, "aa bb cc dd"),
      (2L, "aa bb ee ff"),
      (3L, "aa bb cc dd"),
      (4L, null.asInstanceOf[String]),
      (5L, "zz yy zz yy")).toDF("doc_id", "text")
    val out = WebCuration.keepFirstSpans(df, "doc_id", "text", w = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4))).toSeq
    // doc 2: struck occurrence "aa bb"@0 covers tokens 0,1 -> "ee ff"
    // doc 3: struck at 0,1,2 -> covers 0..3 -> NULL
    // doc 5: shingles zz-yy@0 (winner), yy-zz@1 (winner), zz-yy@2 struck
    //        -> covers 2,3 -> "zz yy"
    assert(out == Seq(
      (1L, 4L, 0L, 4L, "aa bb cc dd"),
      (2L, 4L, 1L, 2L, "ee ff"),
      (3L, 4L, 3L, 0L, null),
      (4L, 0L, 0L, 0L, null),
      (5L, 4L, 1L, 2L, "zz yy")))
    // duplicate ids are loud, same as the other per-doc operators
    val dup = Seq((1L, "aa bb"), (1L, "cc dd")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      WebCuration.keepFirstSpans(dup, "doc_id", "text", w = 2).collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate input id")))
    // a (single) null-id doc participates fully: its within-doc repeat is
    // struck like any other id's (the hits join-back is null-safe)
    val withNull = Seq((Option(7L), "pp qq"), (None: Option[Long], "zz yy zz yy"))
      .toDF("doc_id", "text")
    val nOut = WebCuration.keepFirstSpans(withNull, "doc_id", "text", w = 2)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(2), if (r.isNullAt(4)) null else r.getString(4))).toSet
    assert(nOut == Set((7L, 0L, "pp qq"), (-1L, 1L, "zz yy")))
  }

  test("keepFirstSpans SQL recipe + registered view reproduce the operator on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("kfs_sql_docs")
    WebCurationSql.registerKeepFirstSpansView(spark, "kfs_sql_view",
      "kfs_sql_docs", "doc_id", "text", w = 5)
    val viaSql = spark.sql("SELECT * FROM kfs_sql_view ORDER BY id")
      .collect().map(_.toString).toSeq
    val viaApi = WebCuration.keepFirstSpans(docs, "doc_id", "text", w = 5)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
  }

  test("keepFirstLines SQL recipe + registered view reproduce the operator on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("kfl_sql_docs")
    WebCurationSql.registerKeepFirstLinesView(spark, "kfl_sql_view",
      "kfl_sql_docs", "doc_id", "text", chunk = 8)
    val viaSql = spark.sql("SELECT * FROM kfl_sql_view ORDER BY id")
      .collect().map(_.toString).toSeq
    val viaApi = WebCuration.keepFirstLines(docs, "doc_id", "text", chunk = 8)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
  }

  test("anchorTexts: per-target top-k by (cnt desc, h48 asc); empty/null drop; k bounds") {
    import spark.implicits._
    val an = Seq[(Option[Long], Option[String])](
      (Some(10L), Some("home")), (Some(10L), Some("home")), (Some(10L), Some("home")),
      (Some(10L), Some("start")), (Some(10L), Some("start")),
      (Some(10L), Some("hp")), (Some(10L), Some("main")), (Some(10L), Some("portal")),
      (Some(20L), Some("")), (Some(20L), None), (Some(20L), Some("solo")),
      (None, Some("dropped")))
      .toDF("dst", "anchor")
    val out = WebCuration.anchorTexts(an, "dst", "anchor", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    val d10 = out.filter(_._1 == 10L)
    assert(d10.length == 3)
    assert(d10(0) == ((10L, "home", 3L, 1L)))
    assert(d10(1) == ((10L, "start", 2L, 2L)))
    // the cnt=1 tie resolves by ascending 48-bit md5 prefix — replay it
    def h48(s: String) = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s).take(12), 16)
    val tieWinner = Seq("hp", "main", "portal").minBy(h48)
    assert(d10(2) == ((10L, tieWinner, 1L, 3L)))
    // empty/null anchors and null dsts say nothing
    assert(out.filter(_._1 == 20L).toSeq == Seq((20L, "solo", 1L, 1L)))
    assert(out.length == 4)
    assertThrows[IllegalArgumentException](
      WebCuration.anchorTexts(an, "dst", "anchor", k = 0))
  }

  test("capPerDomain: top-k per domain by (score desc, id asc); out-of-range ids loud") {
    val df = Seq(
      (1L, "https://a.com/x", 50L), (2L, "https://a.com/y", 70L),
      (3L, "https://a.com/z", 70L), (4L, "https://a.com/w", 10L),
      (5L, "https://B.com/q", 30L)).toDF("doc_id", "url", "s")
    val out = WebCuration.capPerDomain(df, "url", "doc_id", "s", k = 2)
      .orderBy("domain", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // a.com: 70@2, 70@3 beat 50@1 and 10@4; host lowercases
    assert(out == Seq(("a.com", 2L, 70L), ("a.com", 3L, 70L), ("b.com", 5L, 30L)))
    val bad = Seq((1L << 22, "https://a.com/x", 5L)).toDF("doc_id", "url", "s")
    val e = intercept[Exception] {
      WebCuration.capPerDomain(bad, "url", "doc_id", "s", 1).collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("capPerDomain")))
  }

  test("pii counts and redaction") {
    val df = Seq(
      "mail a.b+c@test.org and x9@y.co end",
      "call 555-123-4567 or visit 192.168.0.1 now",
      "clean text only").toDF("text")
    val out = df.select((WebCuration.piiCounts(col("text")) :+
      WebCuration.piiRedact(col("text")).as("red")): _*).collect()
    assert(out(0).getLong(0) == 2L && out(0).getLong(1) == 0L && out(0).getLong(2) == 0L)
    assert(out(0).getString(3) == "mail <EMAIL> and <EMAIL> end")
    assert(out(1).getLong(0) == 0L && out(1).getLong(1) == 1L && out(1).getLong(2) == 1L)
    assert(out(1).getString(3) == "call <PHONE> or visit <IP> now")
    assert(out(2).getString(3) == "clean text only")
  }

  test("pii redaction order: emails swallow their own digit runs first") {
    val out = Seq("reach 12.34.56.78x and user555-010-1234@host.io ok")
      .toDF("text")
      .select(WebCuration.piiRedact(col("text")).as("red"),
        WebCuration.piiCounts(col("text")).head)
      .collect().head
    // 12.34.56.78x: no \b between '8' and 'x', so NOT an IP (Java and RE2
    // agree); the email containing a phone-shaped run must redact as ONE
    // email, not leak a <PHONE>
    assert(out.getString(0) == "reach 12.34.56.78x and <EMAIL> ok")
  }

  test("repetitionSignals: dup lines and top-bigram concentration") {
    val df = Seq(
      (1L, "a b a b a b"), // chunk=2 lines: [a b, a b, a b] -> 2 dups; bigrams: a b (x3), b a (x2)
      (2L, "x y z w")      // no dups; bigrams all distinct
    ).toDF("doc_id", "text")
    val out = WebCuration.repetitionSignals(df, "doc_id", "text", chunk = 2)
      .orderBy("id").collect()
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 2L) // n_lines, n_dup_lines
    assert(out(0).getLong(3) == 3L && out(0).getLong(4) == 5L) // top bigram "a b" of 5
    assert(out(0).getLong(5) == 6000L)
    assert(out(1).getLong(2) == 0L && out(1).getLong(3) == 1L && out(1).getLong(4) == 3L)
  }

  test("canonicalUrl: case, default ports, fragments, trailing slash") {
    val cases = Seq(
      "HTTP://WWW.Example.COM:80/Path/" -> "http://www.example.com/Path",
      "https://a.com:443/x#frag" -> "https://a.com/x",
      "https://a.com:8443/x" -> "https://a.com:8443/x", // non-default port kept
      "http://a.com" -> "http://a.com",
      "http://a.com/" -> "http://a.com",
      "http://a.com/?q=1#f" -> "http://a.com?q=1",   // root path slash stripped, query kept
      "http://a.com/login?next=/" -> "http://a.com/login?next=/", // query slash untouched
      "HTTP://a.com:8080/y" -> "http://a.com:8080/y",   // :80$ must not eat :8080
      "ftp://Other.COM/Z" -> "ftp://Other.COM/Z")       // non-http passes through
    val out = cases.map(_._1).toDF("url")
      .select(WebCuration.canonicalUrl(col("url"))).as[String].collect().toSeq
    assert(out == cases.map(_._2), out.zip(cases).mkString("\n"))
  }

  test("domainOf + domainStats") {
    val df = Seq(
      (1L, "https://a.example.com/p/1", "en", 10L),
      (2L, "HTTP://A.Example.COM/q", "de", 20L), // scheme/host case-insensitive
      (3L, "https://b.example.com/", "en", 5L),
      (4L, "not a url", "en", 1L)).toDF("doc_id", "url", "lang", "n_chars")
    val out = WebCuration.domainStats(df, "url", "doc_id", "n_chars", "lang")
      .orderBy("domain").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq == Seq(
      ("", 1L, 1L, 1L, 4L),
      ("a.example.com", 2L, 30L, 2L, 1L),
      ("b.example.com", 1L, 5L, 1L, 3L)))
  }

  test("latestCapture: greatest (ts, id) wins; NULL ts loses; all-NULL group falls back to max id") {
    val df = Seq(
      (1L, "u1", Some(10L)),  // u1: ts 10 beats ts 5 despite smaller id
      (2L, "u1", Some(5L)),
      (3L, "u1", None),       // NULL ts loses to any timestamped capture
      (4L, "u2", Some(7L)),   // u2: ts tie -> greater id wins
      (5L, "u2", Some(7L)),
      (6L, "u3", None),       // u3: all NULL -> max id, ts reported NULL
      (7L, "u3", None))
      .toDF("doc_id", "url", "warc_ts")
    val out = WebCuration.latestCapture(df, "url", "warc_ts", "doc_id")
      .orderBy("url").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSeq == Seq(
      ("u1", 3L, 10L, 1L),
      ("u2", 2L, 7L, 5L),
      ("u3", 2L, -1L, 7L)))
  }

  test("keepFirstSpans duplicate-id guard survives column pruning (Filter, not a projected alias)") {
    val dup = Seq((1L, "aa bb"), (1L, "cc dd")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      // a consumer that never selects the count column must still trip the
      // guard — a projected raise_error alias would be pruned away
      WebCuration.keepFirstSpans(dup, "doc_id", "text", w = 2)
        .select("id", "clean_text").collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate input id")))
  }

  test("incrementalDelta classifies new/changed/unchanged; NULL urls and texts are null-safe") {
    val base = Seq(
      ("u1", Option("same")),
      ("u2", Option("old")),
      ("u3", Option.empty[String]),   // NULL base text
      (null.asInstanceOf[String], Option("ghost"))) // NULL base url: ignored
      .toDF("url", "text")
    val batch = Seq(
      (1L, "u1", Option("same")),            // unchanged
      (2L, "u2", Option("edited")),          // changed
      (3L, "u3", Option.empty[String]),      // both NULL texts -> unchanged
      (4L, "u4", Option("fresh")),           // url absent -> new
      (5L, null.asInstanceOf[String], Option("nowhere"))) // NULL batch url -> new
      .toDF("doc_id", "url", "text")
    val out = WebCuration.incrementalDelta(batch, base, "url", "doc_id", "text")
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq == Seq(
      (1L, "unchanged"), (2L, "changed"), (3L, "unchanged"),
      (4L, "new"), (5L, "new")))
  }

  test("incrementalDelta raises on duplicate base urls instead of comparing against one arbitrarily") {
    val base = Seq(("u1", "a"), ("u1", "b")).toDF("url", "text")
    val batch = Seq((1L, "u1", "a")).toDF("doc_id", "url", "text")
    val e = intercept[Exception] {
      WebCuration.incrementalDelta(batch, base, "url", "doc_id", "text").collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate base url")))
  }

  test("latestCapture SQL recipe + registered view reproduce the operator") {
    val caps = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        (col("doc_id") % 9).cast("string").as("url"),
        when(col("doc_id") % 13 === 9, lit(null).cast("long"))
          .otherwise((col("doc_id") * 31L) % 1000L).as("warc_ts"))
    caps.createOrReplaceTempView("lc_sql_caps")
    WebCurationSql.registerLatestCaptureView(spark, "lc_sql_view",
      "lc_sql_caps", "url", "warc_ts", "doc_id")
    val viaSql = spark.sql("SELECT * FROM lc_sql_view ORDER BY url")
      .collect().map(_.toString).toSeq
    val viaApi = WebCuration.latestCapture(caps, "url", "warc_ts", "doc_id")
      .orderBy("url").collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
  }

  test("incrementalDelta SQL recipe + registered view reproduce the operator") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.where(col("doc_id") % 3 =!= 0)
      .select(concat(lit("u"), col("doc_id").cast("string")).as("url"), col("text"))
    val batch = docs.select(col("doc_id"),
      concat(lit("u"), col("doc_id").cast("string")).as("url"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
        .otherwise(col("text")).as("text"))
    base.createOrReplaceTempView("id_sql_base")
    batch.createOrReplaceTempView("id_sql_batch")
    WebCurationSql.registerIncrementalDeltaView(spark, "id_sql_view",
      "id_sql_batch", "id_sql_base", "url", "doc_id", "text")
    val viaSql = spark.sql("SELECT * FROM id_sql_view ORDER BY id")
      .collect().map(_.toString).toSeq
    val viaApi = WebCuration.incrementalDelta(batch, base, "url", "doc_id", "text")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty && viaSql == viaApi)
    // the recipe's duplicate-base-url guard is as loud as the operator's
    Seq(("u1", "a"), ("u1", "b")).toDF("url", "text")
      .createOrReplaceTempView("id_sql_dup")
    val e = intercept[Exception] {
      spark.sql(WebCurationSql.incrementalDeltaSqlRecipe(
        "id_sql_batch", "id_sql_dup", "url", "doc_id", "text")).collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate base url")))
  }

  test("tokenBudgetPerDomain == naive per-domain cumulative window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("nt",
        coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)))
    val got = WebCuration.tokenBudgetPerDomain(
        docs, "source", "doc_id", "nt", budget = 700L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // driver-side brute force: same draw, naive prefix scan per domain
    def draw40(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(10), 16)
    val rows = docs.select("source", "doc_id", "nt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def brute(budget: Long): Set[(String, Long)] =
      rows.groupBy(_._1).toSeq.flatMap { case (dom, ds) =>
        var cum = 0L
        ds.toSeq.sortBy(d => (draw40(d._2), d._2)).flatMap { d =>
          val keep = cum < budget
          cum += d._3
          if (keep) Some((dom, d._2)) else None
        }
      }.toSet
    assert(got == brute(700L) && got.nonEmpty && got.size < rows.length)
    // every domain contributes at least one doc (crossing doc included)
    assert(got.map(_._1) == rows.map(_._1).toSet)
    // a budget below any single doc keeps each domain's first draw(s)
    val one = WebCuration.tokenBudgetPerDomain(
        docs, "source", "doc_id", "nt", budget = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(one == brute(1L))
  }

  test("tokenBudgetPerDomain: null domains group; guards are loud") {
    import spark.implicits._
    val d = Seq((1L, null.asInstanceOf[String], 5L), (2L, null, 5L),
      (4L, null, 5L), (3L, "a.com", 5L)).toDF("id", "dom", "nt")
    val kept = WebCuration.tokenBudgetPerDomain(d, "dom", "id", "nt", 6L)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    // null domain is ONE group of three: budget 6 keeps its first draw
    // (0 < 6) and the crossing second (5 < 6), drops the third (10 >= 6);
    // a.com keeps its single doc
    assert(kept.count(_._1.isEmpty) == 2 && kept.contains((Some("a.com"), 3L)))
    def boom(df: org.apache.spark.sql.DataFrame): String = {
      val e = intercept[Exception] {
        WebCuration.tokenBudgetPerDomain(df, "dom", "id", "nt", 6L).collect()
      }
      SparkTestBase.causeMessages(e).mkString("; ")
    }
    assert(boom(Seq((1L, "a", 5L), (1L, "a", 5L)).toDF("id", "dom", "nt"))
      .contains("duplicate input id"))
    assert(boom(Seq((Some(1L), "a", Some(-5L))).toDF("id", "dom", "nt"))
      .contains("non-negative tokens"))
    assert(boom(Seq((null.asInstanceOf[java.lang.Long], "a",
        java.lang.Long.valueOf(5L))).toDF("id", "dom", "nt"))
      .contains("non-null id"))
  }
}
