package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase
import graft.operators.WebCuration

class StreamingCurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def cleanRows(stateRoot: String): Seq[(Long, Long, Long, String)] =
    StreamingCuration.readClean(spark, stateRoot)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq

  private def batchRows(docs: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, String)] =
    WebCuration.stripBoilerplate(docs, "doc_id", "text", chunk = 2, minDocs = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq

  test("streaming strip == batch stripBoilerplate over a two-batch delivery (retroactive strike)") {
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_scur_state").toString
    // delivery 1: "shared nav" appears in ONE doc only — not yet boilerplate
    val d1 = Seq(
      (1L, "shared nav body one"),
      (2L, "solo text here now")).toDF("id", "text")
    // delivery 2: doc 3 re-uses "shared nav" (now in 2 docs -> hot) and doc 4
    // is null-text; doc 1's stored version must retroactively lose the line
    val d2 = Seq(
      (3L, "shared nav body three"),
      (4L, null.asInstanceOf[String])).toDF("id", "text")

    StreamingCuration.processBatch(d1, stateRoot, chunk = 2, minDocs = 2L, "b00000000")
    // after batch 1 nothing is hot: doc 1 keeps both lines
    val after1 = cleanRows(stateRoot)
    assert(after1.find(_._1 == 1L).get == ((1L, 2L, 2L, "shared nav\nbody one")))

    StreamingCuration.processBatch(d2, stateRoot, chunk = 2, minDocs = 2L, "b00000001")
    val streaming = cleanRows(stateRoot)
    val all = d1.unionByName(d2).withColumnRenamed("id", "doc_id")
    assert(streaming == batchRows(all),
      s"streaming=$streaming\nbatch=${batchRows(all)}")
    // the retroactive strike actually happened
    assert(streaming.find(_._1 == 1L).get == ((1L, 2L, 1L, "body one")))
    assert(streaming.find(_._1 == 4L).get == ((4L, 0L, 0L, null)))
  }

  test("crash-retry of a committed batch id is a no-op (idempotent state)") {
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_scur_retry").toString
    val d1 = Seq((1L, "aa bb cc dd"), (2L, "aa bb")).toDF("id", "text")
    StreamingCuration.processBatch(d1, stateRoot, chunk = 2, minDocs = 2L, "b00000000")
    val before = cleanRows(stateRoot)
    // the retry replays the same batch id: every table commit must no-op
    // and counts must NOT double
    StreamingCuration.processBatch(d1, stateRoot, chunk = 2, minDocs = 2L, "b00000000")
    assert(cleanRows(stateRoot) == before)
    val d2 = Seq((3L, "aa bb zz yy")).toDF("id", "text")
    StreamingCuration.processBatch(d2, stateRoot, chunk = 2, minDocs = 2L, "b00000001")
    val all = d1.unionByName(d2).withColumnRenamed("id", "doc_id")
    assert(cleanRows(stateRoot) == batchRows(all))
  }

  test("reliable-checkpoint mode converges to batch (durability flag threads through)") {
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_scur_rel").toString
    SparkTestBase.withCheckpointDir {
      val d1 = Seq((1L, "shared nav body one"), (2L, "solo text here now")).toDF("id", "text")
      val d2 = Seq((3L, "shared nav body three")).toDF("id", "text")
      StreamingCuration.processBatch(d1, stateRoot, chunk = 2, minDocs = 2L, "b00000000")
      StreamingCuration.processBatch(d2, stateRoot, chunk = 2, minDocs = 2L, "b00000001")
      assert(SparkTestBase.checkpointFiles().nonEmpty, "reliable checkpoints wrote no files")
      val all = d1.unionByName(d2).withColumnRenamed("id", "doc_id")
      assert(cleanRows(stateRoot) == batchRows(all))
    }
  }

  test("re-delivered ids are dropped first-seen-wins, not double-counted") {
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_scur_redeliver").toString
    val d1 = Seq((1L, "aa bb cc dd")).toDF("id", "text")
    StreamingCuration.processBatch(d1, stateRoot, chunk = 2, minDocs = 2L, "b00000000")
    // id 1 re-arrives with different text + appears twice in-batch: ignored
    val d2 = Seq((1L, "xx yy"), (1L, "zz ww"), (2L, "aa bb")).toDF("id", "text")
    StreamingCuration.processBatch(d2, stateRoot, chunk = 2, minDocs = 2L, "b00000001")
    val all = Seq((1L, "aa bb cc dd"), (2L, "aa bb")).toDF("doc_id", "text")
    assert(cleanRows(stateRoot) == batchRows(all))
  }

  test("streaming decontaminate across two deliveries == batch flag over the union") {
    import graft.operators.Decontaminate
    val inDir = java.nio.file.Files.createTempDirectory("graft_sdc_in").toString
    val outRoot = java.nio.file.Files.createTempDirectory("graft_sdc_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_sdc_ck").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val bench = Seq((100L, "q w e r t y")).toDF("id", "text")
    // a benchmark this small takes the Bloom plan: every micro-batch runs
    // the map-side probe and the exact confirm join
    assert(Decontaminate.prepare(bench, "id", "text", w = 3).filter.isDefined)

    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamingCuration.startDecontaminate(stream, bench, outRoot, ckDir,
        w = 3, minOverlap = 2L)
      assert(q.awaitTermination(120000), "stream did not terminate in time")
    }
    val d1 = Seq((1L, "q w e r t y u i"), (2L, "clean words only here"))
    // delivery 2 re-delivers id 1 (with different text) and repeats id 3
    // in-batch: first-seen-wins must keep exactly one row per id
    val d2 = Seq((3L, "q w e zz q w e r"), (3L, "q w e zz q w e r"),
      (1L, "redelivered ignored"), (4L, null.asInstanceOf[String]))
    d1.toDF("id", "text").write.mode("append").parquet(inDir); run()
    d2.toDF("id", "text").write.mode("append").parquet(inDir); run()

    val streamed = new graft.sources.ParquetManifestTable(outRoot).read(spark)
      .orderBy("id").collect().map(_.toString).toSeq
    val firstSeen = Seq((1L, "q w e r t y u i"), (2L, "clean words only here"),
      (3L, "q w e zz q w e r"), (4L, null.asInstanceOf[String]))
    val batch = Decontaminate.flag(firstSeen.toDF("id", "text"), bench, "id", "text",
        w = 3, minOverlap = 2L)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.size == 4)
  }

  test("streaming surprisal scoring == batch surprisalStats over first-seen docs (frozen model)") {
    import graft.operators.LanguageModel
    val inDir = java.nio.file.Files.createTempDirectory("graft_slm_in").toString
    val outRoot = java.nio.file.Files.createTempDirectory("graft_slm_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_slm_ck").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    // frozen reference model — trained once, BEFORE the stream
    val model = LanguageModel.unigramModel(
      Seq((1L, "a a a a b b c"), (2L, "a b c d")).toDF("id", "text"), "id", "text")

    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamingCuration.startSurprisalScore(stream, model, outRoot, ckDir)
      assert(q.awaitTermination(120000), "stream did not terminate in time")
    }
    val d1 = Seq((10L, "a zz"), (11L, null.asInstanceOf[String]))
    // delivery 2 re-delivers id 10 (ignored) and adds an OOV-heavy doc
    val d2 = Seq((10L, "redelivered ignored"), (12L, "zz zz b"))
    d1.toDF("id", "text").write.mode("append").parquet(inDir); run()
    d2.toDF("id", "text").write.mode("append").parquet(inDir); run()

    val streamed = new graft.sources.ParquetManifestTable(outRoot).read(spark)
      .orderBy("id").collect().map(_.toString).toSeq
    val firstSeen = Seq((10L, "a zz"), (11L, null.asInstanceOf[String]),
      (12L, "zz zz b"))
    val batch = LanguageModel.surprisalStats(firstSeen.toDF("id", "text"),
        "id", "text", model)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(streamed == batch)
    assert(streamed.size == 3)
  }

  test("streaming span excision across two deliveries == batch excise over the first-seen union") {
    import graft.operators.Decontaminate
    val inDir = java.nio.file.Files.createTempDirectory("graft_sex_in").toString
    val outRoot = java.nio.file.Files.createTempDirectory("graft_sex_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_sex_ck").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val bench = Seq((100L, "q w e r t y")).toDF("id", "text")

    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamingCuration.startExcise(stream, bench, outRoot, ckDir, w = 3)
      assert(q.awaitTermination(120000), "stream did not terminate in time")
    }
    val d1 = Seq((1L, "q w e r t y u i"), (2L, "clean words only here"))
    val d2 = Seq((1L, "redelivered ignored"), (3L, "zz q w e r zz2"),
      (4L, null.asInstanceOf[String]))
    d1.toDF("id", "text").write.mode("append").parquet(inDir); run()
    d2.toDF("id", "text").write.mode("append").parquet(inDir); run()

    val streamed = new graft.sources.ParquetManifestTable(outRoot).read(spark)
      .orderBy("id").collect().map(_.toString).toSeq
    val firstSeen = Seq((1L, "q w e r t y u i"), (2L, "clean words only here"),
      (3L, "zz q w e r zz2"), (4L, null.asInstanceOf[String]))
    val batch = Decontaminate.excise(firstSeen.toDF("id", "text"), bench, "id", "text", w = 3)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(streamed == batch && streamed.size == 4)
  }

  test("streaming keep-first spans == batch operator under in-order delivery; retry no-op") {
    import graft.operators.WebCuration
    val inDir = java.nio.file.Files.createTempDirectory("graft_skfs_in").toString
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_skfs").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_skfs_ck").toString
    val outT = new graft.sources.ParquetManifestTable(s"$stateRoot/out")
    def outRows() = outT.read(spark).orderBy("id").collect().map(_.toString).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamingCuration.startKeepFirstSpans(stream, stateRoot, ckDir, w = 2)
      assert(q.awaitTermination(120000), "stream did not terminate in time")
    }
    // doc 3 re-delivers doc 1's exact text a batch later (fully excised);
    // doc 4 repeats a span within itself; doc 2 shares the "aa bb" span —
    // driven through the REAL file-source entry point across two runs
    val d1 = Seq((1L, "aa bb cc dd"), (2L, "aa bb ee ff"))
    val d2 = Seq((3L, "aa bb cc dd"), (4L, "zz yy zz yy"))
    d1.toDF("id", "text").write.mode("append").parquet(inDir); run()
    d2.toDF("id", "text").write.mode("append").parquet(inDir); run()
    val streamed = outRows()
    val all = (d1 ++ d2).toDF("doc_id", "text")
    val batch = WebCuration.keepFirstSpans(all, "doc_id", "text", w = 2)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(streamed == batch && streamed.size == 4)
    // the cross-batch full duplicate actually excised to NULL
    val doc3 = outT.read(spark).where(col("id") === 3L).collect().head
    assert(doc3.getLong(3) == 0L && doc3.isNullAt(4))
    // crash-retry of the committed second batch id changes nothing (the
    // stream's own f"b%08d" ids make the replay target explicit)
    StreamingCuration.processKeepFirstSpans(d2.toDF("id", "text"), stateRoot,
      w = 2, "b00000001")
    assert(outRows() == streamed)
  }

  test("end-to-end through a real file-source stream across two runs") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_scur_in").toString
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_scur_st").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_scur_ck").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))

    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamingCuration.start(stream, stateRoot, ckDir,
        chunk = 2, minDocs = 2L, trigger = Trigger.AvailableNow())
      assert(q.awaitTermination(120000), "stream did not terminate in time")
    }

    Seq((1L, "shared nav body one"), (2L, "plain text")).toDF("id", "text")
      .write.mode("append").parquet(inDir)
    run()
    Seq((3L, "shared nav body three")).toDF("id", "text")
      .write.mode("append").parquet(inDir)
    run()

    val all = Seq(
      (1L, "shared nav body one"), (2L, "plain text"), (3L, "shared nav body three"))
      .toDF("doc_id", "text")
    assert(cleanRows(stateRoot) == batchRows(all))
  }
}
