package graft.operators

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.sql.Timestamp
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.util.CollectionAccumulator
import graft.pdf.{Crypto, PdfExtract}
import graft.html.HtmlExtract
import graft.sources.CrawlRow

/** One extracted document: the corpus-level row equivalent of the
  * reference's per-document output directory (7 sink files,
  * /root/reference/pdf/output.go:12-21). `contents` is the byte-identical
  * extracted-text gate; a string view is derived on read with
  * decode(contents, 'UTF-8') — storing it twice would double the output
  * volume of a 100 TB run for no information.
  */
final case class ExtractedDoc(
    url: String,
    warc_ts: Timestamp,
    lang: String,
    kind: String, // "pdf" | "html"
    contents: Array[Byte],
    javascript: Array[Byte],
    urls: Seq[String],
    files: Seq[String],
    commands: Seq[String],
    errors: Seq[String],
    embedded_md5: Seq[String],
    embedded_name: Seq[String],
    /** The embedded-file payload bytes themselves — the reference's file-dump
      * sink (it writes each embedded file's content to disk under its md5
      * name, pdf/output.go:93-104, and XFA to form.xml, pdf/object.go:62-72).
      * Index-aligned with `embedded_md5`/`embedded_name`. Opt-in (null under
      * the default `includeEmbedded = false`): embedded files are the one
      * column that can dwarf the document itself, and the md5 manifest
      * already pins their identity. Under `includeEmbedded = true` a per-doc
      * byte budget (`DefaultMaxEmbeddedBytes`; `extractOne` takes another)
      * nulls individual oversized entries
      * (alignment preserved) so one pathological attachment cannot blow the
      * row size — a nulled entry is detectable as md5 present, data null. */
    embedded_data: Seq[Array[Byte]],
    raw_md5: String,
    raw_size: Long,
    ok: Boolean,
    failure: String,
    n_objects: Long,
    n_streams: Long,
    n_filters: Long,
    n_errors: Long,
    /** The reference's seventh sink, raw.pdf (pdf/output.go:12-21): the
      * re-serialized object stream for PDFs, the original payload for HTML.
      * Opt-in (null under the default `includeRaw = false`) — carrying it
      * roughly doubles the output volume of a 100 TB run, and `raw_md5` /
      * `raw_size` already pin its identity. */
    raw: Array[Byte]
)

/** The corpus-level extraction pipeline: the reference's
  * `pdf.Parse(file, password, outdir)` lifted to a typed Dataset transform.
  *
  * Plan shape (see `.explain`): the whole extraction is a single map-local
  * `MapPartitionsExec` over the scan — zero shuffles. Column pruning happens
  * in the scan because the `select` runs BEFORE the opaque lambda. Shuffles
  * appear only where explicitly requested (salted repartition for skew,
  * resume anti-join).
  */
object ExtractPipeline {

  /** Payload router: the reference parses everything as PDF; the north rule
    * adds an HTML-boilerplate-strip fallback for non-PDF payloads. A row is
    * PDF if the payload carries the PDF magic or the url says .pdf (the
    * fixture corpus includes header-less PDFs, so magic alone is wrong). A
    * null url leaves the decision to the magic. */
  def isPdf(url: String, payload: Array[Byte]): Boolean = {
    val magic = payload.length >= 5 && payload(0) == '%' && payload(1) == 'P' &&
      payload(2) == 'D' && payload(3) == 'F' && payload(4) == '-'
    magic || (url != null && url.regionMatches(true, url.length - 4, ".pdf", 0, 4))
  }

  private def splitLines(b: Array[Byte]): Seq[String] =
    if (b.isEmpty) Seq.empty
    else {
      val s = new String(b, ISO_8859_1)
      // sinks are newline-terminated line files; drop the trailing empty cell
      val parts = s.split("\n", -1)
      (if (parts.nonEmpty && parts.last.isEmpty) parts.dropRight(1) else parts).toSeq
    }

  private def md5hex(b: Array[Byte]): String = Crypto.hex(Crypto.md5(b))

  /** Default per-document embedded-payload budget (bytes) under
    * `includeEmbedded = true`. */
  val DefaultMaxEmbeddedBytes: Long = 64L * 1024 * 1024

  /** Extract a single row; `scratch` is reused across the rows of one
    * thread. Pure; never throws. */
  def extractOne(row: CrawlRow, password: String, scratch: HtmlExtract.Scratch,
                 includeRaw: Boolean = false, objectStreams: Boolean = false,
                 includeEmbedded: Boolean = false,
                 maxEmbeddedBytes: Long = DefaultMaxEmbeddedBytes): ExtractedDoc = {
    val payload = if (row.html == null) Array.emptyByteArray else row.html
    if (isPdf(row.url, payload)) {
      val r = PdfExtract.parse(payload, password, objectStreams)
      val errors = splitLines(r.errors)
      // budget in extraction order: an entry that would push the running
      // total past the cap is nulled (md5/name stay), later small ones may
      // still fit — deterministic, index-aligned
      val embeddedData: Seq[Array[Byte]] =
        if (!includeEmbedded) null
        else {
          var budget = maxEmbeddedBytes
          r.embedded.map { e =>
            if (e.data.length <= budget) { budget -= e.data.length; e.data }
            else null
          }
        }
      ExtractedDoc(
        url = row.url, warc_ts = row.warc_ts, lang = row.lang, kind = "pdf",
        contents = r.contents,
        javascript = r.javascript,
        urls = splitLines(r.urls),
        files = splitLines(r.files),
        commands = splitLines(r.commands),
        errors = errors,
        embedded_md5 = r.embedded.map(_.md5),
        embedded_name = r.embedded.map(_.name),
        embedded_data = embeddedData,
        raw_md5 = md5hex(r.raw),
        raw_size = r.raw.length.toLong,
        ok = r.ok,
        failure = r.failure,
        n_objects = r.nObjects,
        n_streams = r.nStreams,
        n_filters = r.filtersApplied.valuesIterator.sum,
        n_errors = errors.size.toLong,
        raw = if (includeRaw) r.raw else null)
    } else {
      // per-document isolation, same contract as the pdf kernel: an
      // extractor exception costs one failure ROW, never the Spark task
      // (fuzz-clean today — FuzzSpec/HtmlExtractSpec — but at 10^12 docs
      // "never throws" must be enforced, not assumed)
      var contents = Array.emptyByteArray
      var ok = true
      var failure: String = null
      try contents = HtmlExtract.extractBytes(payload, scratch)
      catch {
        // NonFatal only: an OOM/VM error must kill the task (a corrupted
        // JVM retrying on another executor beats committing bad output)
        case scala.util.control.NonFatal(t) =>
          ok = false
          failure = "internal: " + t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)
      }
      ExtractedDoc(
        url = row.url, warc_ts = row.warc_ts, lang = row.lang, kind = "html",
        contents = contents,
        javascript = Array.emptyByteArray,
        urls = Seq.empty, files = Seq.empty, commands = Seq.empty,
        errors = Seq.empty, embedded_md5 = Seq.empty, embedded_name = Seq.empty,
        embedded_data = if (includeEmbedded) Seq.empty else null,
        raw_md5 = md5hex(payload), raw_size = payload.length.toLong,
        ok = ok, failure = failure,
        n_objects = 0L, n_streams = 0L, n_filters = 0L, n_errors = 0L,
        raw = if (includeRaw) payload else null)
    }
  }

  /** The per-partition body of every extraction transform: one HTML
    * scratch per task, one `extractOne` per row. `password` reads a row's
    * own password; null falls back to `defaultPassword`. With `metrics`,
    * the partition's lineage row goes there once the partition is
    * exhausted (see `PartitionMetricsFold`). */
  private def extractPartition[T](rows: Iterator[T], row: T => CrawlRow, password: T => String,
                                  defaultPassword: String, includeRaw: Boolean,
                                  objectStreams: Boolean, includeEmbedded: Boolean,
                                  metrics: CollectionAccumulator[Row]): Iterator[ExtractedDoc] = {
    val scratch = new HtmlExtract.Scratch
    val docs = rows.map { t =>
      val pw = password(t)
      extractOne(row(t), if (pw == null) defaultPassword else pw, scratch, includeRaw,
        objectStreams, includeEmbedded)
    }
    if (metrics == null) docs
    else new Iterator[ExtractedDoc] {
      private val fold = new PartitionMetricsFold(TaskContext.getPartitionId())
      private var open = true
      def hasNext: Boolean = docs.hasNext || {
        if (open) { open = false; fold.row.foreach(metrics.add) }
        false
      }
      def next(): ExtractedDoc = { val d = docs.next(); fold.add(d); d }
    }
  }

  /** The flagship transform: one ExtractedDoc per CrawlRow, shuffle-free.
    * Equivalent of one `pdf.Parse` call per document (pdf/pdf.go:8).
    * `includeRaw = true` materializes the reference's raw.pdf sink as a
    * binary column (off by default — see ExtractedDoc.raw);
    * `objectStreams = true` opts into /ObjStm (type-2) expansion (off by
    * default: the reference resolves compressed objects to null and the
    * byte-identity gate holds to that). `metrics` collects each
    * partition's lineage row as the extraction runs (see
    * `extractDocsSkewAware`). */
  def extractDocs(ds: Dataset[CrawlRow], password: String = "",
                  includeRaw: Boolean = false,
                  objectStreams: Boolean = false,
                  includeEmbedded: Boolean = false,
                  metrics: CollectionAccumulator[Row] = null): Dataset[ExtractedDoc] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(extractPartition(_, identity[CrawlRow], (_: CrawlRow) => password, password,
      includeRaw, objectStreams, includeEmbedded, metrics))
  }

  /** Salted url-hash repartition (north rule): spreads url-clustered inputs
    * evenly before the map-local extraction. `salt` rotates the hash per
    * round so retries land on different executors. The salted hash is the
    * partitioning key itself: hash partitioning hashes its key again, so a
    * key already reduced mod n would have only n values to spread, and
    * they collide (half the partitions empty at n = 8). */
  def saltedRepartitionByUrl(ds: Dataset[CrawlRow], numPartitions: Int, salt: Int = 0): Dataset[CrawlRow] =
    ds.repartition(numPartitions, xxhash64(col("url"), lit(salt)))

  /** Salted-repartition extraction, the production entry `graft.Extract`
    * runs for every flag combination: `saltedRepartitionByUrl` into
    * `numPartitions` (0 = default parallelism), then one extraction pass.
    * `passwordColumn` names a column of `ds` beyond the CrawlRow fields
    * that carries each row's own password: the reference takes `-p` per
    * invocation (main.go:30-36); at corpus scale the password rides with
    * the row, and a null one falls back to `password`.
    *
    * `metrics` (a fresh accumulator per run) receives one
    * `PartitionMetricsSchema` row per non-empty extraction partition, as
    * its task exhausts the partition. Spark applies a result task's
    * accumulator update once per partition and drops failed attempts', so
    * when the extraction runs in the result stage of one action (the
    * documents write) every partition is counted exactly once. */
  def extractDocsSkewAware(ds: Dataset[CrawlRow], password: String = "",
                           numPartitions: Int = 0,
                           includeRaw: Boolean = false,
                           objectStreams: Boolean = false,
                           includeEmbedded: Boolean = false,
                           passwordColumn: String = null,
                           metrics: CollectionAccumulator[Row] = null): Dataset[ExtractedDoc] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    val salted = saltedRepartitionByUrl(ds, parts)
    if (passwordColumn == null)
      extractDocs(salted, password, includeRaw, objectStreams, includeEmbedded, metrics = metrics)
    else salted.select(
        struct(col("url"), col("warc_ts"), col("html"), col("text"), col("lang")).as("_1"),
        col(passwordColumn).as("_2"))
      .as[(CrawlRow, String)]
      .mapPartitions(extractPartition(_, (_: (CrawlRow, String))._1, (_: (CrawlRow, String))._2,
        password, includeRaw, objectStreams, includeEmbedded, metrics))
  }

  /** Schema of the per-partition lineage rows: the names, types and
    * nullability a `groupBy(spark_partition_id())` aggregate gives them
    * (`count` non-null; `sum`, `min` and `max` nullable), which is what
    * metrics batches were written with before the extraction tasks folded
    * them. A table mixing both kinds of batch then reads with its recorded
    * schema. */
  val PartitionMetricsSchema: StructType = StructType(
    Seq(StructField("partition_id", IntegerType, nullable = false),
      StructField("n_docs", LongType, nullable = false)) ++
      Seq("n_ok", "n_failed", "n_objects", "n_streams", "n_filters", "n_errors")
        .map(StructField(_, LongType)) ++
      Seq("url_min", "url_max").map(StructField(_, StringType)))

  /** One partition's lineage row, folded one document at a time. `row` is
    * None for a partition that held no document, which a group-by never
    * reports either. The url bounds skip null urls and compare in
    * code-point order, as Spark's `min`/`max` do over UTF-8 bytes. */
  private final class PartitionMetricsFold(partitionId: Int) {
    private var nDocs, nOk, nObjects, nStreams, nFilters, nErrors = 0L
    private var urlMin, urlMax: String = null

    def add(d: ExtractedDoc): Unit = {
      nDocs += 1
      if (d.ok) nOk += 1
      nObjects += d.n_objects
      nStreams += d.n_streams
      nFilters += d.n_filters
      nErrors += d.n_errors
      if (d.url != null) {
        if (urlMin == null || codePointCompare(d.url, urlMin) < 0) urlMin = d.url
        if (urlMax == null || codePointCompare(d.url, urlMax) > 0) urlMax = d.url
      }
    }

    def row: Option[Row] =
      if (nDocs == 0) None
      else Some(Row(partitionId, nDocs, nOk, nDocs - nOk, nObjects, nStreams, nFilters, nErrors,
        urlMin, urlMax))
  }

  /** `String.compareTo` in code-point order: UTF-16 order differs only
    * where a surrogate meets U+E000..U+FFFF, so at the first differing unit
    * surrogates are moved above that range. */
  private[graft] def codePointCompare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    def key(c: Char): Int = if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
    if (i == n) a.length - b.length else key(a.charAt(i)) - key(b.charAt(i))
  }

  /** Per-partition extraction metrics + lineage rows (objects decoded,
    * streams, filters, failures, url range) — the corpus analogue of the
    * reference's error channel — in `PartitionMetricsSchema`. The fold
    * `extractDocsSkewAware` runs inside the extraction tasks, here run over
    * `docs` as a map-only pass: `partition_id` is the partition of `docs`
    * that held the rows, and no exchange is added. `graft.Extract` takes its
    * metrics from the extraction tasks themselves, so there `partition_id`
    * is the extraction task's partition, not a split of the committed
    * batch read back. */
  def partitionMetrics(docs: Dataset[ExtractedDoc]): DataFrame =
    docs.mapPartitions { it =>
      val fold = new PartitionMetricsFold(TaskContext.getPartitionId())
      it.foreach(fold.add)
      fold.row.iterator
    }(Encoders.row(PartitionMetricsSchema))

  /** Corpus-level abnormality profile: exploded error-channel lines with
    * counts (the 14 exact reference message strings become group keys). */
  def errorProfile(docs: Dataset[ExtractedDoc]): DataFrame =
    docs.select(explode(col("errors")).as("error"))
      .groupBy(col("error")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("error"))
}
