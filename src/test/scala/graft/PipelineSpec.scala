package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import graft.operators.ExtractPipeline
import graft.sources.{CrawlCorpus, ParquetManifestTable, Resume}

/** End-to-end Dataset tests for the extraction pipeline: per-url goldens,
  * determinism across partitionings, exact resume, and streaming ingestion.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  def corpus(n: Long) = CrawlCorpus.crawl(spark, n, seed = 42L)

  test("extractDocs: one row per url, per-fixture golden text") {
    import spark.implicits._
    val docs = ExtractPipeline.extractDocs(corpus(72)).cache()
    assert(docs.count() == 72)
    assert(docs.select("url").distinct().count() == 72)

    // xref_repair.pdf extracts exactly "Hello World\n" (pdf/page.go:66-70 +
    // the fixture's content stream)
    val repair = docs.filter(_.url.endsWith("xref_repair.pdf")).collect()
    assert(repair.nonEmpty)
    repair.foreach { d =>
      assert(d.kind == "pdf")
      assert(new String(d.contents, ISO_8859_1) == "Hello World\n", d.url)
      assert(d.ok)
    }

    // malformed fixtures produce their exact reference error strings
    val unclosed = docs.filter(_.url.endsWith("unclosed_array.pdf")).collect()
    unclosed.foreach(d => assert(d.errors.contains("unclosed array"), d.errors))

    // html rows extract non-empty boilerplate-stripped text
    val html = docs.filter(_.kind == "html").collect()
    assert(html.nonEmpty)
    html.foreach { d =>
      assert(d.ok)
      val t = new String(d.contents, UTF_8)
      assert(t.nonEmpty)
      assert(!t.contains("not content"), "script content leaked")
    }
    docs.unpersist()
  }

  test("extractDocs: deterministic across partitionings") {
    def fingerprint(parts: Int): Seq[(String, String)] = {
      val docs = ExtractPipeline.extractDocs(corpus(60).repartition(parts))
      docs.toDF()
        .select(col("url"), md5(col("contents")).as("m"))
        .orderBy("url")
        .collect()
        .map(r => (r.getString(0), r.getString(1)))
        .toSeq
    }
    assert(fingerprint(3) == fingerprint(13))
  }

  test("skew-aware extraction preserves the one-row-per-url contract") {
    val docs = ExtractPipeline.extractDocsSkewAware(corpus(40), numPartitions = 4)
    assert(docs.count() == 40)
    assert(docs.select("url").distinct().count() == 40)
  }

  test("TableIO: atomic commit + exact resume") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tbl").toString
    val table = new ParquetManifestTable(root)
    val all = corpus(30)

    // commit the first batch (urls with even row ids)
    val batch1 = ExtractPipeline.extractDocs(all.filter(r => (r.url.split("/")(3).toLong % 2) == 0))
    table.commit(batch1.toDF(), "batch-001")
    assert(table.committedBatches == Seq("batch-001"))

    // resume sees exactly the other half
    val pending = Resume.pending(all, table)
    assert(pending.count() == 15)
    assert(pending.collect().forall(r => r.url.split("/")(3).toLong % 2 == 1))

    // idempotent re-commit of the same batch id is a no-op
    table.commit(batch1.toDF(), "batch-001")
    assert(table.committedBatches == Seq("batch-001"))

    // a staged-but-uncommitted batch is invisible to readers
    val staged = new java.io.File(s"$root/_staging/broken")
    staged.mkdirs()
    assert(table.committedBatches == Seq("batch-001"))

    // commit the rest: resume drains to zero
    table.commit(ExtractPipeline.extractDocs(pending).toDF(), "batch-002")
    assert(Resume.pending(all, table).count() == 0)
    assert(table.read(spark).count() == 30)
    // exactly-once per url
    assert(table.read(spark).select("url").distinct().count() == 30)
  }

  test("TableIO.readLatest follows commit TIME, not batch-name order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tio_latest").toString
    val t = new ParquetManifestTable(dir)
    // content-hash batch ids sort arbitrarily: commit a LEXICOGRAPHICALLY
    // LARGER name first, then a smaller one — latest must be the second
    t.commit(Seq(("old", 1)).toDF("v", "n"), "batch-ffff")
    Thread.sleep(20) // distinct manifest mtimes
    t.commit(Seq(("new", 2)).toDF("v", "n"), "batch-0000")
    assert(t.readLatest(spark).select("v").head().getString(0) == "new")
    assert(t.readBatch(spark, "batch-ffff").select("v").head().getString(0) == "old")
    assert(t.read(spark).count() == 2) // append view unions both
  }

  /** Spark jobs started on this thread while `body` runs. The jobs carry a
    * job group of their own; a sentinel job in a second group follows, and
    * the listener bus delivers events in order, so once the listener has
    * seen the sentinel start it has seen every job `body` started. */
  def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = "jobs-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "under test")
      body
      sc.setJobGroup(group + "-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(group + "-sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(group + "-sentinel"), "listener never saw the sentinel job")
      seen.toArray.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Every row of `df` as JSON, sorted: binary and nested columns compare
    * by value. */
  def rowsAsJson(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq.sorted

  test("TableIO: a read with the recorded schema equals the inferred read (parquet, orc)") {
    import spark.implicits._
    val docs = ExtractPipeline.extractDocs(corpus(12)).toDF()
    // encoder-made non-nullable fields, nested ones included
    val nested = Seq((1L, Seq(1L, 2L), Map("a" -> 1), (1, "x")),
      (2L, Seq.empty[Long], Map.empty[String, Int], (2, null))).toDF("id", "xs", "m", "s")
    for (fmt <- Seq("parquet", "orc"); (name, df) <- Seq("docs" -> docs, "nested" -> nested)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_tio_schema_$fmt").toString
      val t = new ParquetManifestTable(dir, fmt)
      t.commit(df, "b1")
      t.commit(df, "b2")
      val inferred = spark.read.format(fmt).load(s"$dir/data/b1", s"$dir/data/b2")
      val recorded = t.read(spark)
      assert(recorded.schema == inferred.schema, s"$fmt/$name")
      assert(rowsAsJson(recorded) == rowsAsJson(inferred), s"$fmt/$name")
      val inferredOne = spark.read.format(fmt).load(s"$dir/data/b1")
      assert(t.readBatch(spark, "b1").schema == inferredOne.schema, s"$fmt/$name")
      assert(rowsAsJson(t.readLatest(spark)) == rowsAsJson(inferredOne), s"$fmt/$name")
      assert(t.committedCounts == Some(Map(ParquetManifestTable.Rows -> 2L * df.count())))
    }
  }

  test("TableIO: read and readBatch start no Spark job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tio_jobs").toString
    val t = new ParquetManifestTable(dir)
    t.commit(Seq(("a", 1), ("b", 2)).toDF("v", "n"), "b1")
    t.commit(Seq(("c", 3)).toDF("v", "n"), "b2")
    assert(jobsStartedBy(t.read(spark)) == 0)
    assert(jobsStartedBy(t.readBatch(spark, "b1")) == 0)
    assert(jobsStartedBy(t.readLatest(spark)) == 0)
    // the counter does see the inference job a read without a recorded
    // schema pays
    assert(jobsStartedBy(spark.read.parquet(s"$dir/data/b1")) > 0)
  }

  test("TableIO: commit records row and named counts; an empty frame records 0 without hanging") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = java.nio.file.Files.createTempDirectory("graft_tio_counts").toString
    val t = new ParquetManifestTable(dir)
    val df = Seq(("a", true), ("b", false), ("c", true)).toDF("v", "ok")
    t.commit(df, "b1", "ok_rows" -> count_if(col("ok")))
    assert(t.committedCounts == Some(Map("rows" -> 3L, "ok_rows" -> 2L)))
    // no rows in no partitions, and no rows in some partitions
    Await.result(Future(t.commit(Seq.empty[(String, Boolean)].toDF("v", "ok"), "b2",
      "ok_rows" -> count_if(col("ok")))), 120.seconds)
    Await.result(Future(t.commit(df.where(col("v") === "none").repartition(3), "b3",
      "ok_rows" -> count_if(col("ok")))), 120.seconds)
    // empty only at run time, behind a shuffle: adaptive execution sees the
    // empty stage and may rewrite what sits above it
    Await.result(Future(t.commit(spark.range(100).where(col("id") > 1000).repartition(3)
      .select(col("id").cast("string").as("v"), (col("id") > 0).as("ok")), "b3r",
      "ok_rows" -> count_if(col("ok")))), 120.seconds)
    assert(t.committedCounts == Some(Map("rows" -> 3L, "ok_rows" -> 2L)))
    assert(t.readBatch(spark, "b2").count() == 0 && t.readBatch(spark, "b3").count() == 0)
    assert(t.readBatch(spark, "b2").schema == t.readBatch(spark, "b1").schema)
    // only names every entry recorded are summed
    t.commit(df, "b4")
    assert(t.committedCounts == Some(Map("rows" -> 6L)))
    intercept[IllegalArgumentException] { t.commit(df, "b5", "rows" -> count(lit(1))) }
  }

  test("TableIO: entries without recorded metadata still read; mixed schemas infer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tio_old").toString
    val t = new ParquetManifestTable(dir)
    t.commit(Seq(("a", 1), ("b", 2)).toDF("v", "n"), "b1")
    // the entry format before commit-time metadata: just the batch id
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_manifest/b1.committed"), "b1")
    assert(t.committedCounts.isEmpty)
    assert(t.read(spark).orderBy("n").as[(String, Int)].collect().toSeq == Seq(("a", 1), ("b", 2)))
    assert(t.readBatch(spark, "b1").count() == 2)
    t.commit(Seq(("c", 3)).toDF("v", "n"), "b2")
    assert(t.committedCounts.isEmpty, "one entry without counts: the sum is unknown")
    assert(t.read(spark).count() == 3)
    // two recorded schemas that differ: the reader infers, as before
    val u = new ParquetManifestTable(java.nio.file.Files.createTempDirectory("graft_tio_mixed").toString)
    u.commit(Seq(("a", 1)).toDF("v", "n"), "b1")
    u.commit(Seq(("b", 2L)).toDF("v", "m"), "b2")
    assert(u.read(spark).count() == 2)
  }

  test("saltedRepartitionByUrl spreads urls over every partition") {
    val urls = corpus(4000)
    for (n <- Seq(4, 8, 16, 32)) {
      val sizes = ExtractPipeline.saltedRepartitionByUrl(urls, n).toDF()
        .groupBy(spark_partition_id().as("p")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val all = (0 until n).map(sizes.getOrElse(_, 0L))
      assert(all.sum == 4000)
      assert(all.min > 0, s"n=$n: empty partition in $all")
      assert(all.max / (4000.0 / n) <= 1.5, s"n=$n: max/mean over 1.5 in $all")
    }
  }

  test("extractDocs: a null-url HTML row extracts as one ok row") {
    import spark.implicits._
    val page = "<html><body><p>plain page text</p></body></html>".getBytes(UTF_8)
    val out = ExtractPipeline.extractDocs(Seq(
      graft.sources.CrawlRow(null, new java.sql.Timestamp(0L), page, "", "en")).toDS()).collect()
    assert(out.length == 1)
    assert(out.head.url == null && out.head.kind == "html" && out.head.ok, String.valueOf(out.head.failure))
    // with a null url the magic alone decides; the suffix match ignores case
    assert(ExtractPipeline.isPdf(null, "%PDF-1.4".getBytes(ISO_8859_1)))
    assert(!ExtractPipeline.isPdf(null, page))
    assert(ExtractPipeline.isPdf("test://a/X.PdF", page))
    assert(!ExtractPipeline.isPdf("pdf", page) && !ExtractPipeline.isPdf("test://a/x.pdfx", page))
  }

  test("includeRaw materializes the reference's raw sink; md5(raw) == raw_md5") {
    import spark.implicits._
    val docs = ExtractPipeline.extractDocs(corpus(20), includeRaw = true).collect()
    assert(docs.length == 20)
    docs.foreach { d =>
      assert(d.raw != null, d.url)
      val m = graft.pdf.Crypto.md5(d.raw).map(b => f"$b%02x").mkString
      assert(m == d.raw_md5, d.url)
      assert(d.raw.length.toLong == d.raw_size, d.url)
    }
    // default stays slim: no raw payload column materialized
    val slim = ExtractPipeline.extractDocs(corpus(4)).collect()
    slim.foreach(d => assert(d.raw == null, d.url))
  }

  test("includeEmbedded persists the reference's file-dump sink: md5(embedded_data[i]) == embedded_md5[i]") {
    import spark.implicits._
    // crafted EF fixture (same shape as ExtractWalkSpec's, via scan repair):
    // one embedded file "file1.txt" whose payload is "hello"
    val pdf = ("""1 0 obj
      |<</Names <</EmbeddedFiles <</Names [(file1.txt) 2 0 R]>> >> >>
      |endobj
      |2 0 obj
      |<</F (file1.txt) /EF <</F 3 0 R>> >>
      |endobj
      |3 0 obj
      |<</Length 5>>
      |stream
      |hello
      |endstream
      |endobj
      |""".stripMargin).getBytes(ISO_8859_1)
    val ts = new java.sql.Timestamp(0L)
    val rows = Seq(graft.sources.CrawlRow("test://a/ef.pdf", ts, pdf, "", "en"))

    val out = ExtractPipeline.extractDocs(rows.toDS(), includeEmbedded = true).collect()
    assert(out.length == 1)
    val d = out.head
    assert(d.embedded_md5 == Seq("5d41402abc4b2a76b9719d911017c592")) // md5("hello")
    assert(d.embedded_name == Seq("file1.txt"))
    assert(d.embedded_data != null && d.embedded_data.length == 1)
    assert(new String(d.embedded_data.head, ISO_8859_1) == "hello")
    d.embedded_data.zip(d.embedded_md5).foreach { case (data, m) =>
      assert(graft.pdf.Crypto.md5(data).map(b => f"$b%02x").mkString == m)
    }

    // per-doc budget: an entry over the byte budget is nulled, md5/name and
    // index alignment stay (detectable as md5 present, data null)
    val capped = ExtractPipeline.extractOne(rows.head, "", new graft.html.HtmlExtract.Scratch,
      includeEmbedded = true, maxEmbeddedBytes = 3L)
    assert(capped.embedded_md5 == Seq("5d41402abc4b2a76b9719d911017c592"))
    assert(capped.embedded_data.length == 1 && capped.embedded_data.head == null)

    // default stays slim: no payload column materialized
    val slim = ExtractPipeline.extractDocs(rows.toDS()).collect().head
    assert(slim.embedded_data == null)
    assert(slim.embedded_md5 == Seq("5d41402abc4b2a76b9719d911017c592"))

    // the sink_embedded blob table carries (url, md5, name, data)
    val sink = graft.operators.SinkTables.embedded(
      ExtractPipeline.extractDocs(rows.toDS(), includeEmbedded = true)).collect()
    assert(sink.length == 1)
    assert(sink.head.getString(1) == "5d41402abc4b2a76b9719d911017c592")
    assert(sink.head.getString(2) == "file1.txt")
    assert(new String(sink.head.getAs[Array[Byte]](3), ISO_8859_1) == "hello")
    // manifest-only mode: data column present but null
    val manifest = graft.operators.SinkTables.embedded(
      ExtractPipeline.extractDocs(rows.toDS())).collect()
    assert(manifest.length == 1 && manifest.head.isNullAt(3))
  }

  test("per-document passwords: each row decrypts (or fails) with its own password") {
    import spark.implicits._
    val enc = graft.pdf.Fixtures.bytes("encrypted.pdf")
    val ts = new java.sql.Timestamp(0L)
    val rows = Seq(
      (graft.sources.CrawlRow("test://a/encrypted.pdf", ts, enc, "", "en"), null.asInstanceOf[String]),
      (graft.sources.CrawlRow("test://b/encrypted.pdf", ts, enc, "", "en"), "wrong"))
    val ds = rows.toDS().select(col("_1.*"), col("_2").as("password")).as[graft.sources.CrawlRow]
    val out = ExtractPipeline.extractDocsSkewAware(ds, password = "", passwordColumn = "password")
      .collect().sortBy(_.url)
    assert(out(0).ok, String.valueOf(out(0).failure)) // null password -> corpus default "" decrypts
    assert(!out(1).ok && out(1).failure == "incorrect password")
  }

  test("skew-aware extraction keeps null-payload rows on the small path") {
    import spark.implicits._
    val withNull = corpus(10).map(r =>
      if (r.url.split("/")(3).toLong == 1L) r.copy(html = null) else r)
    val docs = ExtractPipeline.extractDocsSkewAware(withNull, numPartitions = 4)
    assert(docs.count() == 10) // the null-html row is extracted (as empty), not dropped
    assert(docs.select("url").distinct().count() == 10)
  }

  test("TableIO: a crash between data-dir move and manifest move is retryable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tbl2").toString
    val table = new ParquetManifestTable(root)
    val batch = ExtractPipeline.extractDocs(corpus(6)).toDF()

    // simulate the crash window: data dir present, manifest entry absent
    table.commit(batch, "batch-X")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_manifest/batch-X.committed"))
    assert(table.committedBatches.isEmpty) // uncommitted by contract

    // the retried commit must succeed (replace the orphaned data dir)
    table.commit(batch, "batch-X")
    assert(table.committedBatches == Seq("batch-X"))
    assert(table.read(spark).count() == 6)
  }

  test("manifest table formats: orc round-trips binary columns; text formats rejected") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl_orc").toString
    val t = new ParquetManifestTable(dir, "orc")
    val df = Seq((1L, "a", Array[Byte](1, 2, 3)), (2L, "b", Array[Byte](0, -1, 127)))
      .toDF("id", "s", "payload")
    t.commit(df, "b1")
    t.commit(df, "b1") // idempotent re-commit
    assert(t.committedBatches == Seq("b1"))
    val back = t.read(spark).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back(1).getAs[Array[Byte]]("payload").toSeq == Seq[Byte](0, -1, 127))
    t.commit(df.where(col("id") === 1), "b2")
    assert(t.read(spark).count() == 3)        // append union across batches
    assert(t.readLatest(spark).count() == 1)  // replace-style newest only
    // formats that cannot carry binary columns are rejected at construction
    for (bad <- Seq("csv", "json", "avro"))
      intercept[IllegalArgumentException] { new ParquetManifestTable(dir, bad) }
  }

  test("partitionMetrics: the per-partition fold equals the group-by reference, schema included") {
    import spark.implicits._
    import graft.operators.PartitionMetricsReference
    def check(docs: org.apache.spark.sql.Dataset[graft.operators.ExtractedDoc]): Seq[org.apache.spark.sql.Row] = {
      val fold = ExtractPipeline.partitionMetrics(docs)
      val ref = PartitionMetricsReference.partitionMetrics(docs)
      assert(fold.schema == ref.schema)
      val rows = fold.orderBy("partition_id").collect().toSeq
      assert(rows == ref.orderBy("partition_id").collect().toSeq)
      rows
    }
    // 12 urls over 8 salted partitions leave some empty (no row, as in a
    // group-by); the wrong password fails encrypted.pdf
    val salted = ExtractPipeline.extractDocs(
      ExtractPipeline.saltedRepartitionByUrl(corpus(12), 8), password = "wrong")
    val rows = check(salted)
    assert(rows.size < 8 && rows.map(_.getAs[Long]("n_docs")).sum == 12, rows)
    assert(rows.map(_.getAs[Long]("n_failed")).sum > 0, rows)
    // url bounds in Spark's string order (code points, not UTF-16 units)
    // and with null urls skipped
    val page = "<p>x</p>".getBytes(UTF_8)
    val urls = Seq("test://u/\uFF01", "test://u/\uD83D\uDE00", "test://u/a", null)
    check(ExtractPipeline.extractDocs(urls.map(u =>
      graft.sources.CrawlRow(u, null, page, "", "en")).toDS().repartition(1)))
    check(ExtractPipeline.extractDocs(Seq(graft.sources.CrawlRow(null, null, page, "", "en"))
      .toDS().repartition(1)))
  }

  test("metrics + error profile") {
    val docs = ExtractPipeline.extractDocs(
      ExtractPipeline.saltedRepartitionByUrl(corpus(72), 8))
    val m = ExtractPipeline.partitionMetrics(docs).collect()
    assert(m.map(_.getAs[Long]("n_docs")).sum == 72)
    val errs = ExtractPipeline.errorProfile(docs).collect()
    // the malformed fixtures guarantee a populated error channel
    assert(errs.nonEmpty)
    val messages = errs.map(_.getString(0)).toSet
    assert(messages.contains("unclosed array"))
  }
}
