package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{ExtractPipeline, SinkTables}
import graft.sources.CrawlCorpus

/** The seven exploded sink tables reproduce the reference's per-document
  * output files at corpus scale. */
class SinkTablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("sink tables carry the per-fixture lines; errors match the abnormality channel") {
    val docs = ExtractPipeline.extractDocs(CrawlCorpus.crawl(spark, 72, 42L)).cache()

    val errs = SinkTables.errors(docs)
    val unclosed = errs.where(col("url").endsWith("unclosed_array.pdf")).collect()
    assert(unclosed.exists(_.getAs[String]("line") == "unclosed array"))

    val contents = SinkTables.contents(docs)
    val repair = contents.where(col("url").endsWith("xref_repair.pdf")).collect()
    assert(repair.forall(_.getAs[String]("text") == "Hello World\n"))

    // all seven build and are consistent with the doc table
    val all = SinkTables.all(docs)
    assert(all.keySet.size == 7)
    assert(all("sink_contents").count() == 72)
    assert(all("sink_errors").count() ==
      docs.toDF().select(sum(size(col("errors")))).collect()(0).getLong(0))
    docs.unpersist()
  }

  test("sink explode over a committed table prunes the scan to (url, one array)") {
    import spark.implicits._
    // the realistic flow: sinks are derived from the committed parquet table,
    // where Catalyst column pruning reaches the scan
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_tbl").toString
    ExtractPipeline.extractDocs(CrawlCorpus.crawl(spark, 20, 42L)).toDF()
      .write.mode("overwrite").parquet(dir)
    val committed = spark.read.parquet(dir)
    val urls = committed.select(col("url"), posexplode(col("urls")).as(Seq("line_no", "line")))
    val p = urls.queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("urls"), readSchema)
    assert(!readSchema.contains("contents"), readSchema)
    assert(urls.columns.toSeq == Seq("url", "line_no", "line"))
  }
}
