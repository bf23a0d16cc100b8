package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites (startup is ~8s). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `f` with the SparkContext checkpoint dir set to a fresh temp dir,
    * then restore the previous setting exactly — "no dir" included, so
    * every later suite keeps local checkpoints (`Exec.checkpoint`
    * turns reliable whenever a dir is set). */
  def withCheckpointDir[T](f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    sc.setCheckpointDir(dir.toString)
    try f
    finally {
      org.apache.spark.graftbridge.SparkContextBridge.setCheckpointDir(sc, prev)
      // the checkpointed RDD data is only needed while f runs — reclaim it
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Regular files under the session's current checkpoint dir (none when
    * no dir is set) — what a reliable checkpoint leaves behind. */
  def checkpointFiles(): Seq[java.nio.file.Path] =
    spark.sparkContext.getCheckpointDir.toSeq.flatMap { d =>
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(new java.net.URI(d).getPath)
      if (!java.nio.file.Files.exists(root)) Seq.empty
      else java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    }

  /** All messages down a throwable's cause chain — Spark wraps executor
    * raise_error failures several layers deep, so guard specs search the
    * whole chain for the operator's message. */
  def causeMessages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ causeMessages(x.getCause))
}
