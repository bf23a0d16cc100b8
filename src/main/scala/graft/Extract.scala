package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{ExtractPipeline, SinkTables}
import graft.sources.{CrawlCorpus, CrawlRow, ParquetManifestTable, Resume}
import graft.exec.Exec

/** The production job — the corpus-scale equivalent of the reference CLI's
  * `pdf extract <file> -o <outdir>` (main.go:44-55), run via spark-submit:
  *
  * {{{
  * spark-submit --class graft.Extract app.jar \
  *   <input: crawl parquet dir | synth:N> <output root> \
  *   [--batch-id ID] [--password PW] [--include-raw] [--include-embedded] \
  *   [--object-streams] [--sinks] [--curate] [--partitions N] \
  *   [--password-column COL] [--strip-boilerplate] [--decontaminate DIR] \
  *   [--dedup-spans W] [--keep-first-spans W] [--max-mean-bits B100] \
  *   [--quality-reps] [--table-format parquet|orc] [--recrawl BASEDIR] \
  *   [--link-graph]
  * }}}
  *
  * Per run: resume-filter the input against the committed output (exactly
  * once per url, crash-safe — see TableIO), salted-repartition extraction,
  * one atomic snapshot commit of the documents batch, a metrics-table
  * append of the per-partition lineage rows the extraction tasks fold
  * while that commit writes (the batch is not read back for them), and
  * (with `--sinks`) the seven per-sink tables, derived from the committed
  * batch read back; with `--curate` the whole training-data
  * curation stage runs over everything committed so far and lands as a
  * replace-style `curated` snapshot (quality/langid gates, exact +
  * near-dup dedup, token packing). A re-run over the same input is a
  * no-op. With `--recrawl <previous crawl parquet>` the job extracts
  * only urls whose content changed vs that snapshot plus anything never
  * committed — changed urls append a NEWER version row, and per-url
  * consumers read through `Resume.currentPerUrl`.
  * Prints one JSON summary line on stdout.
  *
  * At scale, run with `--conf spark.checkpoint.dir=<durable path>`: the
  * checkpoints of `--recrawl`, `--link-graph` and `--curate` then land
  * there and survive executor loss (`Exec.checkpoint`); the job
  * deletes the `rdd-*` directories it wrote there when it ends.
  */
object Extract {

  private case class Args(
      input: String = null, outRoot: String = null,
      batchId: String = null, password: String = "",
      includeRaw: Boolean = false, includeEmbedded: Boolean = false,
      objectStreams: Boolean = false, sinks: Boolean = false,
      curate: Boolean = false, partitions: Int = 0,
      passwordColumn: String = null, stripBoilerplate: Boolean = false,
      decontaminate: String = null,
      dedupSpansW: Int = 0, keepFirstSpansW: Int = 0,
      maxMeanBitsX100: Long = 0L,
      qualityReps: Boolean = false, tableFormat: String = "parquet",
      recrawl: String = null, linkGraph: Boolean = false)

  private def parse(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    def value(flag: String): String = {
      require(i + 1 < argv.length, s"missing value for $flag")
      argv(i + 1)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--batch-id"         => a = a.copy(batchId = value("--batch-id")); i += 2
        case "--password"         => a = a.copy(password = value("--password")); i += 2
        case "--partitions"       =>
          val n = value("--partitions").toInt
          require(n >= 0, s"--partitions must be >= 0 (0 uses the default parallelism), got $n")
          a = a.copy(partitions = n); i += 2
        case "--password-column"  => a = a.copy(passwordColumn = value("--password-column")); i += 2
        case "--include-raw"      => a = a.copy(includeRaw = true); i += 1
        case "--include-embedded" => a = a.copy(includeEmbedded = true); i += 1
        case "--object-streams"   => a = a.copy(objectStreams = true); i += 1
        case "--sinks"            => a = a.copy(sinks = true); i += 1
        case "--curate"           => a = a.copy(curate = true); i += 1
        case "--strip-boilerplate" => a = a.copy(stripBoilerplate = true); i += 1
        case "--decontaminate"    => a = a.copy(decontaminate = value("--decontaminate")); i += 2
        case "--dedup-spans"      =>
          val w = value("--dedup-spans").toInt
          require(w >= 0, s"--dedup-spans width must be >= 0 (0 disables the stage), got $w")
          a = a.copy(dedupSpansW = w); i += 2
        case "--keep-first-spans" =>
          val w = value("--keep-first-spans").toInt
          require(w >= 0, s"--keep-first-spans width must be >= 0 (0 disables the stage), got $w")
          a = a.copy(keepFirstSpansW = w); i += 2
        case "--max-mean-bits"    =>
          // the cap is mean bits x100 (centibits): 700 = 7.00 bits/token
          val b = value("--max-mean-bits").toLong
          require(b >= 0, s"--max-mean-bits cap is mean bits x100 (700 = 7.00 bits) " +
            s"and must be >= 0 (0 disables the gate), got $b")
          a = a.copy(maxMeanBitsX100 = b); i += 2
        case "--quality-reps"     => a = a.copy(qualityReps = true); i += 1
        case "--table-format"     => a = a.copy(tableFormat = value("--table-format")); i += 2
        case "--recrawl"          => a = a.copy(recrawl = value("--recrawl")); i += 2
        case "--link-graph"       => a = a.copy(linkGraph = true); i += 1
        case other =>
          if (a.input == null) a = a.copy(input = other)
          else if (a.outRoot == null) a = a.copy(outRoot = other)
          else sys.error(s"unexpected argument: $other")
          i += 1
      }
    }
    require(a.input != null && a.outRoot != null,
      "usage: graft.Extract <input parquet dir | synth:N> <output root> [flags]")
    require(a.passwordColumn == null || !a.input.startsWith("synth:"),
      "--password-column requires a parquet input")
    require(!a.stripBoilerplate || a.curate,
      "--strip-boilerplate only affects the curated snapshot: pass --curate too")
    require(a.decontaminate == null || a.curate,
      "--decontaminate only affects the curated snapshot: pass --curate too")
    require(a.dedupSpansW == 0 || a.curate,
      "--dedup-spans only affects the curated snapshot: pass --curate too")
    require(a.keepFirstSpansW == 0 || a.curate,
      "--keep-first-spans only affects the curated snapshot: pass --curate too")
    require(a.maxMeanBitsX100 == 0L || a.curate,
      "--max-mean-bits only affects the curated snapshot: pass --curate too")
    require(!a.qualityReps || a.curate,
      "--quality-reps only affects the curated snapshot: pass --curate too")
    a
  }

  private val crawlCols = Seq("url", "warc_ts", "html", "text", "lang")

  /** One row per url, deterministic winner: lexicographic max of
    * (warc_ts, md5(html), md5(text), lang, then any other column, e.g.
    * the row's password) — null fields sort smallest, full-key ties are
    * identical copies (md5-as-identity, as everywhere). A max_by
    * AGGREGATE, not a row_number window: a window would sort every copy
    * of a hot url (WITH its html payload) inside one task — a url
    * recrawled millions of times OOMs it; the partial aggregate keeps ONE
    * winner payload per url per partition map-side. Shared by the
    * duplicate-input dedup and the recrawl base collapse. */
  private def dedupCrawlByUrl(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val extra = df.columns.toSeq.filterNot(crawlCols.contains).map(col)
    df.groupBy(col("url"))
      .agg(max_by(struct(df.columns.map(col): _*),
        struct(Seq(col("warc_ts"), md5(col("html")), md5(col("text")), col("lang")) ++ extra: _*))
        .as("r"))
      .select(df.columns.map(c => col("r." + c).as(c)): _*)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // spark-submit owns master/executor config; default for bare local runs
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.session.timeZone", "UTC")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    Exec.withRunCheckpoints(spark)(run(a, spark))
  }

  private def run(a: Args, spark: SparkSession): Unit = {
    import spark.implicits._

    val raw = if (a.input.startsWith("synth:")) null else spark.read.parquet(a.input)
    val input =
      if (raw == null)
        CrawlCorpus.crawl(spark, a.input.stripPrefix("synth:").toLong, seed = 42L)
      // a per-row password rides with its row through resume, the recrawl
      // semi-join and the duplicate-url dedup into the extraction
      else raw.select((crawlCols ++ Option(a.passwordColumn)).map(col): _*).as[CrawlRow]

    val docsTable = new ParquetManifestTable(s"${a.outRoot}/documents", a.tableFormat)
    val metricsTable = new ParquetManifestTable(s"${a.outRoot}/metrics", a.tableFormat)

    val pending0 =
      if (a.recrawl == null) Resume.pending(input, docsTable)
      else {
        // RECRAWL MODE (--recrawl <previous crawl parquet>): work = urls
        // whose content CHANGED vs the base crawl snapshot, plus anything
        // never committed (new urls, and unchanged urls whose extraction
        // never ran). Changed urls are deliberately RE-extracted — the
        // commit appends a second row for them, and per-url consumers
        // (curation below, any reader) go through Resume.currentPerUrl.
        // Content identity hashes html AND text (the two payload fields);
        // re-running the same recrawl input is still a no-op via the
        // deterministic batch id (commit is idempotent per batch).
        // the base snapshot gets the SAME duplicate-url collapse the job
        // applies to its own input — real crawl parquets carry duplicate
        // urls, and the diff's one-row-per-url guard must not kill the
        // documented usage (--recrawl <the previous run's input dir>)
        val base = dedupCrawlByUrl(spark.read.parquet(a.recrawl).select(crawlCols.map(col): _*))
        val contentKey = md5(concat_ws("|",
          coalesce(md5(col("html")), lit("")), coalesce(md5(col("text")), lit(""))))
        val delta = graft.operators.WebCuration.incrementalDeltaBy(
          input.toDF(), base, "url", "url", contentKey)
        val decision0 =
          if (!docsTable.exists || docsTable.committedBatches.isEmpty)
            // nothing committed: every url is work
            delta.select(col("url")).distinct()
              .select(col("url"), lit(true).as("__work"), lit(false).as("__nullts"))
          else {
            // "changed" re-extracts only when this capture is NEWER than
            // the committed version (warc_ts compare) — otherwise a
            // re-run of the same recrawl re-extracts its changed urls
            // forever; "new"/"unchanged" extract only if never committed.
            // Every frame here is url-keyed and compact (url, flag, ts).
            val urlStatus = delta
              .select(col("url"), (col("status") === "changed").cast("int").as("__ch"))
              .groupBy(col("url")).agg(max(col("__ch")).as("__ch"))
            val inputTs = input.toDF().groupBy(col("url"))
              .agg(max(col("warc_ts")).as("__its"))
            val committedTs = docsTable.read(spark).groupBy(col("url"))
              .agg(max(col("warc_ts")).as("__cts"))
            // null-safe joins (r6, ADVICE fix): the null-url group must
            // survive into `decision` (with __work=true — no committed ts
            // can match it) so those rows reach pending0 and the loud
            // null-url accounting below, exactly as the empty-table branch
            // and the inline comment promise; equality keys silently
            // dropped the group and lost the warning
            urlStatus.alias("__u")
              .join(inputTs.alias("__i"), col("__u.url") <=> col("__i.url"))
              .join(committedTs.alias("__c"), col("__u.url") <=> col("__c.url"), "left")
              .select(col("__u.url").as("url"),
                (col("__cts").isNull ||
                  (col("__ch") === 1 && col("__its") > col("__cts"))).as("__work"),
                // changed content but a NULL input ts cannot beat any
                // committed ts — surfaced loudly below, never dropped mute
                (col("__ch") === 1 && col("__cts").isNotNull &&
                  col("__its").isNull).as("__nullts"))
          }
        // ONE materialization of the compact (url, flags) frame: the delta
        // diff is a full payload scan of input AND base — without this it
        // would re-run for the null-ts count, the pstat action, and the
        // extraction action
        val decision = Exec.checkpoint(decision0)
        val nNullTs = decision.where(col("__nullts")).count()
        if (nNullTs > 0)
          println(s"""{"job":"graft-extract","warn":"recrawl: $nNullTs changed urls have null warc_ts and cannot supersede their committed version; skipped"}""")
        // null-safe semi join: null-url input rows match the decision\'s
        // null-url group and flow into the loud null-url accounting below
        // (an equality join would silently vanish them)
        val work = decision.where(col("__work")).select(col("url").as("__wurl"))
        input.toDF().join(work, col("url") <=> col("__wurl"), "left_semi")
          .as[CrawlRow]
      }
    // one input scan answers the pending count, batch identity, the
    // url-uniqueness check the once-per-url commit contract needs, AND
    // the null-url count (the distinct count shuffles urls only, never
    // payloads). The batch identity folds in an order-independent digest
    // of every pending (url, warc_ts): a recrawl that re-delivers exactly
    // an earlier batch's urls, newer, must not reuse that batch's id (the
    // commit would skip it as already committed). Null urls have no
    // identity in a url-keyed pipeline — they can never resume-match
    // (left_anti on null keeps them pending forever = re-extracted every
    // run) — so they are dropped LOUDLY, and all duplicate/"nothing to do"
    // accounting uses non-null counts.
    val pstat = pending0.agg(count(lit(1)), min(col("url")), max(col("url")),
      countDistinct(col("url")), count(col("url")),
      bit_xor(xxhash64(col("url"), col("warc_ts")))).head()
    val nRaw = pstat.getLong(0)
    val nNonNull = if (nRaw == 0) 0L else pstat.getLong(4)
    val nNull = nRaw - nNonNull
    val nPending = if (nRaw == 0) 0L else pstat.getLong(3)
    if (nNull > 0)
      println(s"""{"job":"graft-extract","warn":"input has $nNull null-url rows; dropped (urls are the pipeline key)"}""")
    if (nPending == 0) {
      println(s"""{"job":"graft-extract","pending":0,"committed":${docsTable.committedBatches.size},"note":"nothing to do: all input urls already committed"}""")
      return
    }
    // commit skips a known batch id (the idempotent retry), so reusing a
    // committed --batch-id for new documents would drop them silently
    require(a.batchId == null || !docsTable.committedBatches.contains(a.batchId),
      s"--batch-id ${a.batchId} is already committed; its $nPending pending " +
        "documents would be dropped. Pass a new --batch-id or omit it.")
    val pendingNonNull =
      if (nNull == 0) pending0 else pending0.where(col("url").isNotNull)
    // duplicate urls in the input would commit (and extract) a document
    // once per copy. Dedup DETERMINISTICALLY (latest crawl wins; md5
    // tiebreaks make the pick stable under any partitioning, and the
    // winner keeps its own password) — but only when dups exist, so the
    // clean path pays nothing beyond the distinct count above
    val pending =
      if (nPending == nNonNull) pendingNonNull
      else {
        println(s"""{"job":"graft-extract","warn":"input has ${nNonNull - nPending} duplicate-url rows; keeping latest warc_ts per url"}""")
        dedupCrawlByUrl(pendingNonNull.toDF()).as[CrawlRow]
      }

    // deterministic batch id (stable across retries of the same pending
    // set) unless the caller names one
    val batchId =
      if (a.batchId != null) a.batchId
      else "batch-" + graft.pdf.Crypto.hex(graft.pdf.Crypto.md5(
        s"${pstat.getString(1)}|${pstat.getString(2)}|$nPending|${pstat.getLong(5)}"
          .getBytes("UTF-8"))).take(16)

    // the extraction tasks fold their partitions' lineage rows into this
    // run's accumulator while the documents commit writes them
    val partitionRows = spark.sparkContext.collectionAccumulator[Row]
    val docs = ExtractPipeline.extractDocsSkewAware(pending, a.password,
      numPartitions = a.partitions, includeRaw = a.includeRaw, objectStreams = a.objectStreams,
      includeEmbedded = a.includeEmbedded, passwordColumn = a.passwordColumn,
      metrics = partitionRows)

    docsTable.commit(docs.toDF(), batchId, "ok_rows" -> count_if(col("ok")))
    metricsTable.commit(
      spark.createDataFrame(partitionRows.value.asScala.sortBy(_.getInt(0)).asJava,
          ExtractPipeline.PartitionMetricsSchema)
        .coalesce(1).withColumn("batch_id", lit(batchId)),
      batchId)

    if (a.linkGraph) {
      // --link-graph: the crawl's REAL hyperlink structure. Per batch, the
      // pending pages' resolved out-links (native html_links over the raw
      // payload — one map-local pass, PDF rows yield none) append to a
      // `links` table under the same deterministic batch id; then domain
      // authority recomputes over EVERYTHING committed (links whose target
      // is outside the corpus are dropped — PageRank's id universe is the
      // committed url set) and lands as a replace-style `authority`
      // snapshot: (url, domain, domain_rank), the crawl-prioritization /
      // mixture-weight signal per page.
      val linksTable = new ParquetManifestTable(s"${a.outRoot}/links", a.tableFormat)
      // rows carry the source capture's warc_ts: under --recrawl a url's
      // links exist once PER VERSION, and authority must read only the
      // CURRENT version's rows (the stale version's edges are history,
      // and an unchanged re-delivered link must not double-count)
      linksTable.commit(
        pending.toDF().select(col("url"), col("warc_ts"),
          explode(graft.functions.ExtractFunctions.htmlAnchors(col("url"), col("html")))
            .as("a"))
          .select(col("url"), col("warc_ts"),
            col("a.dst").as("dst_url"), col("a.anchor").as("anchor")),
        batchId)
      // extraction coverage guard: batches committed to docs WITHOUT a
      // links batch mean pages whose out-links were never extracted — they
      // would silently rank as dangling nodes, so say so loudly
      val unlinked = docsTable.committedBatches.toSet -- linksTable.committedBatches.toSet
      if (unlinked.nonEmpty)
        println(s"""{"job":"graft-extract","warn":"authority: ${unlinked.size} committed doc batches predate --link-graph and contribute no out-links (dangling pages); re-extract them with --link-graph for a complete graph"}""")
      // ONE materialization: the current-per-url collapse is a full
      // payload-table aggregate and feeds the edge semi-join, the
      // domain-authority input AND the rank join-back
      val docMap = Exec.checkpoint(
        Resume.currentPerUrl(docsTable.read(spark))
          .select(col("url"), col("warc_ts"),
            xxhash64(col("url")).as("id"),
            graft.operators.WebCuration.domainOf(col("url")).as("domain")))
      // current-version links only (url + warc_ts match, null-safe), then
      // drop edges whose target is outside the corpus
      val currentLinks = linksTable.read(spark).alias("l")
        .join(docMap.select(col("url"), col("warc_ts")).alias("c"),
          col("l.url") === col("c.url") && col("l.warc_ts") <=> col("c.warc_ts"),
          "left_semi")
      val edges = currentLinks
        .join(docMap.select(col("url").as("dst_url")), Seq("dst_url"), "left_semi")
        .select(xxhash64(col("url")).as("src"), xxhash64(col("dst_url")).as("dst"))
      val authority = graft.operators.LinkGraph
        .domainAuthority(docMap.select(col("id"), col("domain")), edges, iters = 3)
        .join(docMap.select(col("url"), col("id")), Seq("id"))
        .select(col("url"), col("domain"), col("domain_rank"))
      new ParquetManifestTable(s"${a.outRoot}/authority", a.tableFormat)
        .commit(authority, batchId)
      // what the web SAYS each corpus page is: top-5 anchor texts per
      // in-corpus target, from the current-version links (bounded
      // aggregate — a page linked by millions of sites costs 5 slots)
      val anchorTexts = graft.operators.WebCuration.anchorTexts(
        currentLinks.join(docMap.select(col("url").as("dst_url")),
          Seq("dst_url"), "left_semi"),
        "dst_url", "anchor", k = 5)
      new ParquetManifestTable(s"${a.outRoot}/anchor_texts", a.tableFormat)
        .commit(anchorTexts
          .select(col("dst").as("url"), col("anchor"), col("cnt"), col("rnk")),
          batchId)
    }

    if (a.curate) {
      // the full training-data stage over everything committed so far:
      // quality gate -> langid -> exact dedup -> near-dup clusters -> token
      // packing. A REPLACE-style snapshot per run (read with readLatest).
      // currentPerUrl collapses recrawl-superseded versions to the newest
      // row per url — identity when the table never saw --recrawl, and the
      // guard duplicate doc_ids would otherwise trip downstream
      val committed = Resume.currentPerUrl(docsTable.read(spark))
      // --decontaminate <parquet dir>: a benchmark/eval table with a
      // `text` column; curated survivors overlapping it by >= 3 distinct
      // 5-token shingles are dropped (ids are synthesized — the benchmark
      // side of the overlap only needs its shingle set)
      val benchmark =
        if (a.decontaminate == null) null
        else spark.read.parquet(a.decontaminate)
          .select(xxhash64(col("text")).as("doc_id"), col("text"))
      val curated = graft.operators.Curate.curate(
        committed.select(
          xxhash64(col("url")).as("doc_id"),
          decode(col("contents"), "UTF-8").as("text")),
        stripBoilerplate = a.stripBoilerplate,
        decontaminateAgainst = benchmark,
        dedupSpansW = a.dedupSpansW,
        keepFirstSpansW = a.keepFirstSpansW,
        maxMeanBitsX100 = a.maxMeanBitsX100,
        qualityReps = a.qualityReps)
      new ParquetManifestTable(s"${a.outRoot}/curated", a.tableFormat).commit(curated, batchId)
      // persist the CC convergence profile of THIS curate run (per-round
      // frontier size + rounds-to-convergence) — the monitoring signal a
      // 100 TB operator watches to catch degenerate duplicate graphs; the
      // curate commit above forced the pipeline, so the eager CC rounds
      // have already run and their stats are final
      val cc = graft.operators.Dedup.lastCcRounds
      import spark.implicits._
      new ParquetManifestTable(s"${a.outRoot}/metrics_cc", a.tableFormat).commit(
        cc.map(r => (batchId, r.round, r.frontier, cc.length - 1))
          .toDF("batch_id", "round", "frontier", "rounds_to_convergence"),
        batchId)
    }

    if (a.sinks) {
      // sink tables are APPEND tables: derive them from THIS batch only,
      // so read()'s union-of-batches never duplicates earlier batches. They
      // read the COMMITTED batch back instead of re-running the extraction
      // plan (the dominant cost) per sink
      val committedBatch = docsTable.readBatch(spark, batchId)
      SinkTables.all(committedBatch.as[graft.operators.ExtractedDoc]).foreach {
        case (name, sinkDf) =>
          new ParquetManifestTable(s"${a.outRoot}/$name", a.tableFormat).commit(sinkDf, batchId)
      }
    }

    // the summary counts are the manifest's commit-time counts; a table
    // with an entry that recorded none (an older commit) is scanned instead
    val counts = docsTable.committedCounts.getOrElse(Map.empty)
    val (committedRows, okRows) =
      (counts.get(ParquetManifestTable.Rows), counts.get("ok_rows")) match {
        case (Some(rows), Some(ok)) => (rows, ok)
        case _ =>
          val stats = docsTable.read(spark)
            .agg(count(lit(1)), sum(when(col("ok"), 1L).otherwise(0L))).head()
          (stats.getLong(0), stats.getLong(1))
      }
    println(s"""{"job":"graft-extract","batch_id":"$batchId","pending":$nPending,"committed_rows":$committedRows,"ok_rows":$okRows,"batches":${docsTable.committedBatches.size}}""")
  }
}
