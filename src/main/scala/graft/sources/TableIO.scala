package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{FileStatus, Path => FsPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max_by, md5, struct}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import scala.jdk.CollectionConverters._

/** Snapshot-committed table storage with exact resume.
  *
  * The production design is an Iceberg table (atomic snapshot commits); this
  * sandbox has no Iceberg runtime jar, so the same contract is provided by a
  * Parquet+manifest backend: a batch is written to a staging directory, then
  * atomically renamed into the data area, then recorded by an atomic
  * manifest-entry file. Readers only see manifest-listed batches, so a
  * killed writer leaves no partial state — `read` + `left_anti` resume is
  * exactly-once per url. This is the transaction-log-as-source-of-truth
  * scheme of Delta Lake (Armbrust et al., "Delta Lake: High-Performance
  * ACID Table Storage over Cloud Object Stores", VLDB 2020) reduced to the
  * append-only case. An Iceberg-backed implementation slots behind the same
  * trait unchanged.
  *
  * As in Delta Lake's log, each commit also records its batch's schema and
  * record counts, so readers never open data files to learn them: `counts`
  * names extra whole-number aggregates (e.g. `count_if(ok)`) recorded
  * next to the row count. A batch may also record the digest of the input
  * listing it was resumed from ([[Resume.InputListing]]), the per-commit
  * state that lets a re-run over the same input skip the resume scan.
  */
trait TableIO {
  def commit(df: DataFrame, batchId: String, counts: (String, Column)*): Unit
  def read(spark: SparkSession): DataFrame
  def committedBatches: Seq[String]
  def exists: Boolean
}

/** Manifest-committed table over a columnar file format. `format` picks the
  * batch file layout: `parquet` (default) or `orc` — the two binary-safe,
  * self-describing, splittable formats a 100 TB table can actually use
  * (CSV/JSON are rejected: they cannot round-trip the binary payload
  * columns or split compressed files, so they'd silently corrupt the
  * extracted tables). The commit protocol is format-agnostic. */
final class ParquetManifestTable(rootDir: String, format: String = "parquet") extends TableIO {
  require(ParquetManifestTable.Formats.contains(format),
    s"unsupported table format '$format' (supported: ${ParquetManifestTable.Formats.mkString(", ")})")
  private def root: Path = Paths.get(rootDir)
  private def stagingDir: Path = root.resolve("_staging")
  private def dataDir: Path = root.resolve("data")
  private def manifestDir: Path = root.resolve("_manifest")

  def exists: Boolean = Files.isDirectory(manifestDir)

  def committedBatches: Seq[String] =
    if (!exists) Seq.empty
    else {
      val listing = Files.list(manifestDir)
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".committed"))
        .map(_.stripSuffix(".committed"))
        .toSeq.sorted
      finally listing.close()
    }

  /** Write staging parquet, atomic-rename into data/, then atomic-create the
    * manifest entry. The manifest entry is the commit point; it holds the
    * batch's schema and its counts as one JSON object. The counts come from
    * an `Observation` that the write job itself fills, so recording them
    * costs no extra Spark job. */
  def commit(df: DataFrame, batchId: String, counts: (String, Column)*): Unit =
    commit(df, batchId, None, counts: _*)

  /** [[commit]] that also records `inputListing`, the digest of the input
    * listing the batch was resumed from ([[Resume.InputListing]]), in the
    * same manifest entry, for [[recordsInputListing]] to find. A batch
    * that is already committed keeps its entry as it is. */
  def commit(df: DataFrame, batchId: String, inputListing: Option[String],
      counts: (String, Column)*): Unit = {
    require(!batchId.contains('/') && batchId.nonEmpty, s"bad batchId: $batchId")
    require(!counts.exists(_._1 == ParquetManifestTable.Rows),
      s"count name '${ParquetManifestTable.Rows}' is reserved for the row count")
    Files.createDirectories(stagingDir)
    Files.createDirectories(dataDir)
    Files.createDirectories(manifestDir)
    val staged = stagingDir.resolve(batchId)
    val committed = dataDir.resolve(batchId)
    if (committedBatches.contains(batchId)) return // idempotent re-commit
    val observed = Observation()
    df.observe(observed, count(lit(1)).as(ParquetManifestTable.Rows),
        counts.map { case (name, agg) => agg.as(name) }: _*)
      .write.mode(SaveMode.Overwrite).format(format).save(staged.toString)
    val recorded = observed.get.collect { case (name, n: Number) => name -> JInt(n.longValue) }
    // a writer that died between the data-dir move and the manifest move
    // leaves an orphaned (uncommitted, invisible to readers) data dir; a
    // retried commit must be able to replace it, not fail forever
    if (Files.exists(committed)) deleteRecursively(committed)
    Files.move(staged, committed, StandardCopyOption.ATOMIC_MOVE)
    val tmp = manifestDir.resolve(batchId + ".tmp")
    Files.writeString(tmp, compact(render(JObject(
      List("schema" -> parse(df.schema.json), "counts" -> JObject(recorded.toList)) ++
        inputListing.map(ParquetManifestTable.InputListingField -> JString(_))))))
    Files.move(tmp, manifestDir.resolve(batchId + ".committed"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def deleteRecursively(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
    finally walk.close()
  }

  /** A manifest entry's JSON object; None for an entry written before
    * commit-time metadata, which holds only the batch id. */
  private def entry(batchId: String): Option[JValue] = {
    val text = Files.readString(manifestDir.resolve(batchId + ".committed"))
    if (text.startsWith("{")) Some(parse(text)) else None
  }

  /** Loads the given committed batches. When every one recorded the same
    * schema the reader gets it and infers nothing (schema inference is a
    * Spark job per read); otherwise it infers, as for old entries. */
  private def load(spark: SparkSession, batches: Seq[String]): DataFrame = {
    val schemas = batches.map(entry(_).map(json =>
      DataType.fromJson(compact(render(json \ "schema"))).asInstanceOf[StructType]))
    val reader = schemas.distinct match {
      case Seq(Some(schema)) => spark.read.format(format).schema(schema)
      case _ => spark.read.format(format)
    }
    reader.load(batches.map(b => dataDir.resolve(b).toString): _*)
  }

  def read(spark: SparkSession): DataFrame = {
    val batches = committedBatches
    require(batches.nonEmpty, s"no committed batches under $rootDir")
    load(spark, batches)
  }

  /** The row count (`rows`) and the named counts of every committed batch,
    * summed, from the manifest alone. Only names every entry recorded are
    * summed; None when some entry recorded no counts (written before
    * commit-time metadata), so the caller knows to scan instead. */
  def committedCounts: Option[Map[String, Long]] = {
    val perBatch = committedBatches.map(entry(_).toList.flatMap(_ \ "counts" match {
      case JObject(fields) => fields.collect { case (name, JInt(n)) => name -> n.toLong }
      case _ => Nil
    }).toMap)
    if (perBatch.exists(_.isEmpty)) None
    else Some(perBatch.map(_.keySet).reduceOption(_ intersect _).getOrElse(Set.empty)
      .map(name => name -> perBatch.map(_(name)).sum).toMap)
  }

  /** Whether some committed batch recorded `digest` as its input listing
    * ([[Resume.InputListing]]). Reads the manifest alone. */
  def recordsInputListing(digest: String): Boolean =
    committedBatches.exists(entry(_).exists(_ \ ParquetManifestTable.InputListingField == JString(digest)))

  /** The newest committed batch only — the read shape for REPLACE-style
    * tables (e.g. a curated snapshot recomputed per run), where `read`'s
    * union-of-batches semantics would duplicate rows. "Newest" is by
    * manifest-entry commit TIME at the filesystem's full resolution
    * (nanoseconds where supported — millisecond truncation made two
    * commits in the same tick resolve by NAME, which sorts arbitrarily
    * for content-hash batch ids), ties by name. */
  def readLatest(spark: SparkSession): DataFrame = {
    val batches = committedBatches
    require(batches.nonEmpty, s"no committed batches under $rootDir")
    val latest = batches.maxBy { b =>
      (Files.getLastModifiedTime(manifestDir.resolve(b + ".committed"))
        .to(java.util.concurrent.TimeUnit.NANOSECONDS), b)
    }
    load(spark, Seq(latest))
  }

  /** One specific committed batch. */
  def readBatch(spark: SparkSession, batchId: String): DataFrame = {
    require(committedBatches.contains(batchId), s"batch $batchId not committed under $rootDir")
    load(spark, Seq(batchId))
  }
}

object ParquetManifestTable {
  /** Binary-safe splittable columnar formats this sandbox's Spark build
    * carries natively. Iceberg remains the production target behind the
    * same trait (no runtime jar here). */
  val Formats: Set[String] = Set("parquet", "orc")

  /** The count every commit records: the batch's row count. */
  val Rows = "rows"

  /** The entry field that holds a batch's input-listing digest. */
  private val InputListingField = "input_listing"
}

object Resume {
  /** Exact resume: input rows whose url has not been committed yet. A plain
    * left_anti join — Catalyst broadcasts the committed-url side when small,
    * shuffles both sides on url otherwise. */
  def pending(input: Dataset[CrawlRow], table: TableIO): Dataset[CrawlRow] = {
    val spark = input.sparkSession
    import spark.implicits._
    if (!table.exists || table.committedBatches.isEmpty) input
    else {
      val committedUrls = table.read(spark).select("url")
      input.join(committedUrls, Seq("url"), "left_anti").as[CrawlRow]
    }
  }

  /** The files under an input `root` as the Hadoop `FileSystem` lists
    * them (recursively, hidden files included), and one `digest` of their
    * sorted (qualified path, length, modification time) triples. Any
    * added, removed, rewritten or touched file changes the digest. */
  final case class InputListing(digest: String, root: FsPath, files: Seq[FsPath]) {
    /** Whether `read`, a read of `root`, consumed exactly the listed files
      * that Spark's hidden-file rule keeps: a name below the root that
      * starts with `_` (and holds no `=`) or `.`, or ends with
      * `._COPYING_`, hides its file, except `_metadata` and
      * `_common_metadata`. A file added between the listing and the read
      * makes the two differ. */
    def readBy(read: DataFrame): Boolean = {
      def hidden(name: String): Boolean =
        ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
          name.endsWith("._COPYING_")) &&
          !name.startsWith("_metadata") && !name.startsWith("_common_metadata")
      // Spark names a file `file:///x` where the listing says `file:/x`
      def key(u: java.net.URI) = (u.getScheme, Option(u.getAuthority).getOrElse(""), u.getPath)
      val kept = files.filterNot(f => Iterator.iterate(f)(_.getParent)
        .takeWhile(p => p != null && p != root).exists(p => hidden(p.getName)))
      read.inputFiles.map(f => key(new java.net.URI(f))).toSet == kept.map(f => key(f.toUri)).toSet
    }
  }

  /** Lists `input` ([[InputListing]]) without starting a Spark job; None
    * when no file or directory has that name (e.g. a glob), which leaves
    * the read to report or expand it. */
  def listInput(spark: SparkSession, input: String): Option[InputListing] = {
    val path = new FsPath(input)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // listStatus, not listFiles: the LocatedFileStatus that listFiles
    // builds asks for each file's permissions, which the local FileSystem
    // reads by running a shell command per file
    def under(p: FsPath): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) under(s.getPath) else Seq(s))
    val statuses = try under(path) catch { case _: java.io.FileNotFoundException => return None }
    val listed = statuses.map(s => (fs.makeQualified(s.getPath), s.getLen, s.getModificationTime))
      .sortBy(_._1.toString)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val out = new java.io.DataOutputStream(
      new java.security.DigestOutputStream(java.io.OutputStream.nullOutputStream(), md))
    listed.foreach { case (p, len, mtime) =>
      val name = p.toString.getBytes("UTF-8")
      out.writeInt(name.length); out.write(name); out.writeLong(len); out.writeLong(mtime)
    }
    out.flush()
    Some(InputListing(java.util.HexFormat.of().formatHex(md.digest()),
      fs.makeQualified(path), listed.map(_._1)))
  }

  /** One row per url: the row with the greatest `key`, a struct that
    * compares lexicographically (null fields sort smallest). The caller's
    * key leaves ties only between identical copies, so the winner does not
    * depend on partitioning. A max_by AGGREGATE, not a row_number
    * window: a window would sort every copy of a hot url (with its
    * payload) inside one task, and a url recrawled millions of times OOMs
    * it; the partial aggregate keeps ONE winner payload per url per
    * partition map-side. Identity on a frame that is already one row per
    * url. */
  def winnerPerUrl(df: DataFrame, key: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(col("url"))
      .agg(max_by(struct(cols.map(col): _*), key).as("__r"))
      .select(cols.map(c => col("__r." + c).as(c)): _*)
  }

  /** The CURRENT row per url over an extracted-documents frame whose
    * append batches may hold several versions of a url (recrawl mode,
    * `Extract --recrawl`): newest `warc_ts` wins, `raw_md5` +
    * `md5(contents)` tiebreak — the extract job's input-dedup rule over
    * the extracted columns ([[winnerPerUrl]]). */
  def currentPerUrl(docs: DataFrame): DataFrame = {
    val cols = docs.columns.toSeq
    require(Seq("url", "warc_ts", "raw_md5", "contents").forall(cols.contains),
      s"currentPerUrl needs url/warc_ts/raw_md5/contents columns, got: $cols")
    winnerPerUrl(docs, struct(col("warc_ts"), col("raw_md5"), md5(col("contents"))))
  }
}
