package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.exec.Exec

/** Web-corpus curation operators beyond the per-document kernel: cross-doc
  * boilerplate line removal, PII detection/redaction, intra-doc repetition
  * signals (Gopher-style quality heuristics), and URL/domain rollups.
  *
  * All formulations are ANSI-SQL-portable (md5-keyed, integer-scaled
  * ratios) so every operator is oracle-checked against DuckDB, and every
  * cross-doc shuffle carries compact keys (16-byte md5 + counters), never
  * document text — the same discipline as the sketch miners in [[Dedup]].
  */
object WebCuration {

  /** Fixed-size token chunks standing in for "lines" on corpora whose text
    * carries no newlines (the synthetic tables here); web text with real
    * newlines would pass `split(text, "\n")` to the line operators
    * directly. Exactly [[TextAnalysis.tokenChunks]] with stride == size
    * (ONE copy of the split/sequence/slice arithmetic), chunk strings
    * projected out. */
  def tokenLines(textCol: Column, chunk: Int): Column =
    transform(TextAnalysis.tokenChunks(textCol, chunk, chunk),
      s => s.getField("chunk"))

  /** Cross-document boilerplate line removal (the CCNet / RefinedWeb
    * pattern): a line occurring in >= `minDocs` DISTINCT documents is
    * boilerplate (navigation, cookie banners, template footers) and is
    * struck from every document; surviving lines are re-joined in original
    * order.
    *
    * Output: (id, n_lines, n_kept, clean_text) — clean_text is NULL when
    * every line was boilerplate.
    *
    * Scale shape: the frequency pass groups by md5(line) and shuffles ONLY
    * (line_md5, id) pairs; the hot-line list is bounded above by
    * totalLines / minDocs and in practice tiny, so AQE broadcasts the
    * join-back; reassembly shuffles each document's own surviving lines
    * exactly once (that is the output itself, not overhead). No stage ever
    * carries a line across the wire to be COUNTED — only to be returned. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       chunk: Int = 8, minDocs: Long = 2L): DataFrame = {
    // the exploded frame feeds BOTH the hot-line aggregate and the
    // reassembly join — checkpoint it once so the tokenize+hash pass over
    // the full text does not run twice (the Dedup sketch-frame rule)
    val exploded = Exec.checkpoint(df
      .select(col(idCol).as("id"), posexplode(tokenLines(col(textCol), chunk)).as(Seq("idx", "line")))
      .withColumn("line_md5", md5(col("line"))))
    val hot = exploded
      .select(col("line_md5"), col("id"))
      .groupBy(col("line_md5"))
      .agg(countDistinct(col("id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("line_md5"), lit(true).as("hot"))
    val agg = reassembleKept(exploded.join(hot, Seq("line_md5"), "left")
      .withColumn("keep", col("hot").isNull))
    // one row per input doc even when text is NULL (posexplode of a null
    // array emits nothing): re-anchor on the id set. Ids MUST be unique —
    // with duplicates the per-copy texts are lost and line counts mix the
    // copies — so the anchor raise_errors loudly instead of silently
    // collapsing rows, whichever output columns the consumer selects
    Exec.checkedIdAnchor(df, idCol, "WebCuration.stripBoilerplate")
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("n_kept") > 0, col("joined")).as("clean_text"))
  }

  /** ONE copy of the collect/sort-by-key/strip-key/rejoin idiom shared by
    * [[reassembleKept]] and `TextAnalysis.materializePacks`: `entries` is
    * a per-row (possibly null) struct whose FIRST field is the sort key
    * and whose `field` field carries the payload; null entries and null
    * payloads are skipped by both collect_list and array_join — exactly
    * `string_agg ... ORDER BY` semantics on the oracle side. */
  private[operators] def sortedJoin(entries: Column, field: String, sep: String): Column =
    array_join(
      transform(array_sort(collect_list(entries)), s => s.getField(field)),
      sep)

  /** Row-level form of the reassembly: `flagged` = (id, idx, line, keep)
    * rows; surviving lines rejoin in index order with `sep`. One row per
    * id present in `flagged`: (id, n_lines, n_kept, joined). */
  private[graft] def reassembleKept(flagged: DataFrame, sep: String = "\n"): DataFrame =
    flagged
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sortedJoin(when(col("keep"), struct(col("idx"), col("line"))), "line", sep)
          .as("joined"))

  /** Cross-document KEEP-FIRST line dedup (the C4/"Deduplicating Training
    * Data" exact-span discipline at line granularity): every distinct
    * line keeps exactly its FIRST occurrence — lexicographically smallest
    * (id, idx) — and every later copy (in other documents OR later in the
    * same document) is struck. Contrast with [[stripBoilerplate]], which
    * strikes recurring lines from EVERY document including the first.
    *
    * Output: (id, n_lines, n_kept, clean_text), clean_text NULL when a
    * document's every line occurred earlier elsewhere. Ids must be
    * unique (checked anchor raise_errors on duplicates).
    *
    * Scale shape: the winner aggregate is a map-side-combined min of a
    * compact (id, idx) struct per line md5 — no window over the md5
    * keyspace, so a line recurring in millions of documents costs a
    * partial-agg cell, not a hot partition; every md5-keyed exchange
    * carries (id, idx, md5) triples only, and line TEXT rides a shuffle
    * solely on the (id, idx)-keyed flag join-back feeding the reassembly
    * that IS the output (PlanSpec-asserted). */
  def keepFirstLines(df: DataFrame, idCol: String, textCol: String,
                     chunk: Int = 8): DataFrame =
    keepFirstExploded(df, idCol,
      posexplode(tokenLines(col(textCol), chunk)).as(Seq("idx", "line")),
      sep = "\n", op = "WebCuration.keepFirstLines")

  /** Non-empty units of a LITERAL separator split, in order — the unit
    * extractor for corpora with real structure markers: paragraphs on
    * "\n\n", lines on "\n", sentences on ". ". Empty units (consecutive
    * separators, leading/trailing) are dropped, like C4 drops empty
    * lines; rejoining the survivors with the same separator therefore
    * NORMALIZES separator runs — documented, deliberate. */
  def sepUnits(textCol: Column, sep: String): Column = {
    require(sep.nonEmpty, "sepUnits needs a non-empty separator")
    array_remove(split(textCol, java.util.regex.Pattern.quote(sep)), "")
  }

  /** Cross-document KEEP-FIRST dedup at arbitrary UNIT granularity — the
    * [[keepFirstLines]] discipline generalized to any literal separator.
    * With sep = "\n\n" this is PARAGRAPH dedup (the C4/CCNet unit for
    * real web text, where boilerplate repeats as whole paragraphs);
    * "\n" gives true line dedup on newline-bearing corpora. Every
    * distinct unit keeps exactly its lexicographically first (id, idx)
    * occurrence; later copies (other documents or later in the same
    * document) are struck, and survivors rejoin in original order with
    * the same separator.
    *
    * Output: (id, n_units, n_kept, clean_text) — clean_text NULL when
    * the text was null, had no non-empty units, or every unit occurred
    * earlier elsewhere. Ids must be unique (checked anchor raise_errors).
    * Scale shape identical to [[keepFirstLines]]: min-struct winner
    * AGGREGATE per unit md5 (never a window over the md5 keyspace),
    * compact (id, idx, md5) exchanges, unit text shuffling only on the
    * (id, idx)-keyed join-back that feeds the output itself. */
  def keepFirstUnits(df: DataFrame, idCol: String, textCol: String,
                     sep: String): DataFrame =
    keepFirstExploded(df, idCol,
      posexplode(sepUnits(col(textCol), sep)).as(Seq("idx", "line")),
      sep = sep, op = "WebCuration.keepFirstUnits")
      .withColumnRenamed("n_lines", "n_units")

  /** ONE copy of the keep-first machinery shared by [[keepFirstLines]]
    * and [[keepFirstUnits]]: explode per `unitsExpr` (must produce
    * (idx, line) columns), pick the lexicographically first (id, idx)
    * occurrence per unit md5 with a map-side-combined min-struct
    * aggregate, strike the rest, reassemble survivors with `sep`. The
    * exploded frame feeds the winner aggregate and the text join-back, so
    * it is checkpointed once. */
  private def keepFirstExploded(df: DataFrame, idCol: String,
                                unitsExpr: Column, sep: String, op: String): DataFrame = {
    val exploded = Exec.checkpoint(df
      .select(col(idCol).as("id"), unitsExpr)
      .withColumn("line_md5", md5(col("line"))))
    // winner selection runs entirely in compact (id, idx, md5) space —
    // joining the full exploded frame by md5 would drag every copy of a
    // hot template line's TEXT into one join partition
    val compact = exploded.select(col("id"), col("idx"), col("line_md5"))
    val winners = compact
      .groupBy(col("line_md5"))
      .agg(min(struct(col("id"), col("idx"))).as("w"))
    val flags = compact.join(winners, Seq("line_md5"))
      .select(col("id"), col("idx"),
        (struct(col("id"), col("idx")) === col("w")).as("keep"))
    // the (id, idx) flag join-back tolerates equality keys — a null-id
    // doc's rows all carry idx ints and rejoin below — but the ANCHOR
    // join must be null-safe or that doc's reassembly is silently lost
    val flagged = exploded.join(flags, Seq("id", "idx"))
    Exec.anchorLeftJoin(
        Exec.checkedIdAnchor(df, idCol, op), reassembleKept(flagged, sep))
      .select(col("id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(col("n_kept") > 0, col("joined")).as("clean_text"))
  }

  /** Cross-document KEEP-FIRST SPAN dedup — the "Deduplicating Training
    * Data" (Lee et al.) exact-substring discipline at w-token span
    * granularity, completing the exact-dup family: [[keepFirstLines]]
    * strikes later copies of whole LINES; this strikes later copies of
    * every repeated w-token SPAN, across documents and within them (the
    * within-doc case is `dedup_spans`' coverage rule with a global
    * first-occurrence order).
    *
    * Every distinct w-token shingle keeps exactly its lexicographically
    * first (id, pos) occurrence; all other occurrences are struck and the
    * union of their token positions excised ([[graft.functions.SketchKernel.exciseSpans]]).
    * Output: (id, n_tokens, n_spans_struck, n_kept, clean_text) —
    * clean_text NULL when every token was covered (a fully-duplicated
    * document) or the text was null. Ids must be unique (checked anchor).
    *
    * Scale shape, same discipline as [[keepFirstLines]]: the winner per
    * shingle md5 is a map-side-combined min-struct AGGREGATE (never a
    * window over the md5 keyspace — a boilerplate span recurring in
    * millions of documents costs a partial-agg cell, not a hot
    * partition); every md5-keyed exchange carries (id, pos-int, md5)
    * triples only; struck positions collapse to ONE int-array row per
    * affected document; document text rides exactly one id-keyed
    * exchange, into the map-side excision that is the output. */
  def keepFirstSpans(df: DataFrame, idCol: String, textCol: String,
                     w: Int = 13): DataFrame = {
    // the shingle identity rides every winner exchange as unhex(md5) —
    // 16 raw bytes instead of the 32-char hex string (same md5 identity,
    // injective re-encoding; the key never reaches the output) — halving
    // the two sh-keyed shuffles' key bytes (r6, guide §2.3 narrower types);
    // the occurrence frame feeds the winner aggregate and the struck join,
    // so it is checkpointed once
    val occ = Exec.checkpoint(Decontaminate.shingleOccurrences(df, idCol, textCol, w)
      .withColumn("sh", unhex(col("sh"))))
    val winners = occ.groupBy(col("sh"))
      .agg(min(struct(col("id"), col("pos"))).as("w"))
    val struck = occ.join(winners, Seq("sh"))
      .where(struct(col("id"), col("pos")) =!= col("w"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans_struck"),
        sort_array(collect_list(col("pos"))).as("hits"))
    // the shared null-safe excision tail: a (single) null-id document
    // participates fully — its struct sorts FIRST in the winner min, and
    // its struck spans excise like any other id's
    Decontaminate.exciseJoinBack(df, idCol, textCol, struck, w,
      "n_spans_struck", "WebCuration.keepFirstSpans")
  }

  // ---------- PII ----------

  /** Conservative ASCII PII patterns, deliberately restricted to syntax
    * valid AND equivalent in both java.util.regex and RE2 (no backrefs, no
    * lookaround) so the DuckDB oracle replays them verbatim. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Per-document PII hit counts: (n_emails, n_phones, n_ips). */
  def piiCounts(textCol: Column): Seq[Column] = Seq(
    regexp_count(textCol, lit(EmailRe)).cast("long").as("n_emails"),
    regexp_count(textCol, lit(PhoneRe)).cast("long").as("n_phones"),
    regexp_count(textCol, lit(Ipv4Re)).cast("long").as("n_ips"))

  /** Redacted text: emails first (so their digit runs can't half-match the
    * narrower patterns), then IPv4s (dotted quads), then phone numbers.
    * Pure codegen'd regexp_replace chain — map-local, no shuffle. */
  def piiRedact(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(textCol, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  // ---------- repetition signals ----------

  /** Intra-document repetition signals (the Gopher quality-filter family):
    * duplicate-line count and top-bigram concentration. Emits one row per
    * document: (id, n_lines, n_dup_lines, top_bigram_n, n_bigrams,
    * top_bigram_frac_i4).
    *
    * Scale shape: line duplication is computed doc-locally from the chunk
    * array (no shuffle); bigram concentration explodes to (id, md5(bigram))
    * pairs and runs two map-side-combined aggregations keyed on compact
    * hashes — bigram STRINGS never leave the executor that read the row. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        chunk: Int = 8): DataFrame = {
    val tokens = split(col(textCol), " ")
    val lines = tokenLines(col(textCol), chunk)
    val lineStats = df.select(
      col(idCol).as("id"),
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(array_distinct(lines))).cast("long").as("n_dup_lines"))
    val bigramHashes = when(size(tokens) >= 2,
      transform(sequence(lit(0), size(tokens) - 2),
        i => md5(concat(element_at(tokens, i + 1), lit(" "), element_at(tokens, i + 2)))))
      .otherwise(array().cast("array<string>"))
    val bigramStats = df
      .select(col(idCol).as("id"), explode(bigramHashes).as("h"))
      .groupBy(col("id"), col("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("id"))
      .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
    lineStats
      .join(bigramStats, Seq("id"), "left")
      .select(col("id"), col("n_lines"), col("n_dup_lines"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        floor(coalesce(col("top_bigram_n"), lit(0L)) * lit(10000.0d) /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L))).cast("long")
          .as("top_bigram_frac_i4"))
  }

  // ---------- URL / domain ----------

  /** Host component of an http(s) URL, lowercased (empty string when
    * absent). Scheme and host are case-insensitive per RFC 3986, hence the
    * (?i) flag (valid in both java.util.regex and RE2) and the lower() —
    * otherwise 'HTTPS://Host/x' silently lands in the ""-domain bucket. A
    * plain anchored regex rather than parse_url so the DuckDB oracle
    * replays the identical expression. */
  def domainOf(urlCol: Column): Column =
    lower(regexp_extract(urlCol, "(?i)^https?://([^/]+)", 1))

  /** Per-DOMAIN document cap — the anti-spam source-balancing pass (one
    * link-farm domain must not dominate a pack): keep the `k`
    * highest-scoring documents per domain, ties to the SMALLEST id.
    * Output (domain, id, score).
    *
    * Scale shape: the bounded `TopKByScore` aggregate keeps k rows per
    * domain per partition MAP-side, so only domains x k x partitions rows
    * cross the exchange — a per-domain `row_number` window would shuffle
    * every hot domain's full row set into one partition's sort (the q04
    * contrast). (score, id) ride ONE exactly-representable double:
    * score * 2^21 + (2^21 - 1 - id) — max 2^52 < 2^53 — so the aggregate's
    * scalar ordering IS the (score desc, id asc) collation; the domains
    * guard raise_errors loudly on ids or scores outside the encodable
    * range instead of silently mis-ranking. */
  def capPerDomain(df: DataFrame, urlCol: String, idCol: String,
                   scoreCol: String, k: Int): DataFrame = {
    require(k >= 1, s"capPerDomain needs k >= 1, got $k")
    val base = df
      .select(domainOf(col(urlCol)).as("domain"),
        col(idCol).cast("long").as("id"), col(scoreCol).cast("long").as("score"))
      .where(ScorePack.guarded(col("id"), col("score"), "WebCuration.capPerDomain"))
      // loud on duplicate ids like every sibling per-document operator —
      // a repeated id would silently occupy several of its domain's k
      // slots and emit duplicate rows (no null ids here: the range guard
      // already raise_errors on them, so a plain semi join suffices)
      .join(Exec.checkedIdAnchor(df, idCol, "WebCuration.capPerDomain"),
        Seq("id"), "left_semi")
    base.groupBy(col("domain"))
      .agg(graft.functions.TopKFunctions.topKByScore(
        ScorePack.pack(col("score"), col("id")).cast("double"),
        col("id"), k).as("picks"))
      .select(col("domain"), explode(col("picks")).as("p"))
      .select(col("domain"), col("p.id").as("id"),
        ScorePack.unpackScore(col("p.score")).as("score"))
  }

  /** Per-TARGET anchor-text aggregation — what the web says each page IS:
    * the k most frequent anchor texts pointing at every target url (the
    * classic relevance signal, and a caption-like (target, description)
    * training pair). Input: one row per (dst, anchor-text) LINK occurrence
    * (e.g. the `html_anchors` explode); output: (dst, anchor, cnt, rnk)
    * with rnk in 1..k by (cnt desc, h48(anchor) asc) — the md5-prefix
    * tiebreak, so the order has no string-collation dependence and a
    * DuckDB replay ranks identically.
    *
    * Scale shape: one map-side-combined groupBy on (dst, md5(anchor)) —
    * one representative string rides each distinct pair; then the per-dst
    * top-k is the BOUNDED `TopKByScore` aggregate (k slots per dst per
    * partition map-side), never a row_number window over the dst keyspace
    * — a page linked by millions of sites costs k slots, not a
    * single-partition sort. The (score, id) slot carries (cnt, 48-bit
    * md5 prefix); the text joins back by (dst, h48). Null/empty texts
    * drop (they say nothing); null dsts drop (no target). */
  def anchorTexts(df: DataFrame, dstCol: String, textCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, s"anchorTexts needs k >= 1, got $k")
    val base = df
      .select(col(dstCol).as("dst"), col(textCol).as("anchor"))
      .where(col("dst").isNotNull && col("anchor").isNotNull && col("anchor") =!= "")
    // group by the FULL md5 for identity (r6, ADVICE fix): two distinct
    // anchors colliding on the 48-bit prefix must not merge their counts
    // under min(anchor) — the 128-bit key matches the oracle's full-anchor
    // groups; h48 derives from the same md5 and serves ONLY as the
    // ranking/top-k slot (both engines rank by (cnt desc, h48 asc), so a
    // prefix collision AT EQUAL COUNTS leaves the same ~2^-48 rank
    // ambiguity in each — documented trade-off of the 48-bit slot).
    val counts = base
      .groupBy(col("dst"), md5(col("anchor")).as("am"))
      .agg(count(lit(1)).as("cnt"), min(col("anchor")).as("anchor"))
      .withColumn("h48", conv(substring(col("am"), 1, 12), 16, 10).cast("long"))
    // TopKByScore ties break id ASC, and rank wants h48 ASC among equal
    // counts — the id slot carries h48 directly (48 bits < 2^53: exact in
    // the double score packing is not even needed; cnt rides the score)
    val picks = counts
      .groupBy(col("dst"))
      .agg(graft.functions.TopKFunctions.topKByScore(
        col("cnt"), col("h48"), k).as("picks"))
      .select(col("dst"), posexplode(col("picks")).as(Seq("pos", "p")))
      .select(col("dst"), col("p.id").as("h48"),
        (col("pos") + 1L).cast("long").as("rnk"))
    picks.join(counts, Seq("dst", "h48"))
      .select(col("dst"), col("anchor"), col("cnt"), col("rnk"))
  }

  /** Deterministic per-domain TOKEN-BUDGET selection — the data-mixing
    * primitive: each domain contributes documents in a frozen random order
    * (its docs' 40-bit md5 draws, ties broken by id) until the domain's
    * token budget is crossed; the crossing document is included, so every
    * domain with any document contributes at least one. A document is kept
    * iff the token sum of the docs BEFORE it (in (draw, id) order within
    * its domain) is `< budget` — exactly the greedy cumulative-window
    * rule, which the q80 oracle replays naively.
    *
    * Output: (domain, id, n_tokens, draw) — kept rows only, the draw kept
    * for auditability (the [[TextAnalysis.weightedSample]] convention).
    * Ids must be unique and non-null, token counts non-negative, and the
    * hash key non-null (all raise_error — a null draw would order
    * differently across engines, a negative count would corrupt every
    * prefix after it).
    *
    * Scale shape: the naive formulation is ONE cumulative window per
    * domain — a hot domain's full document list serializes into a single
    * partition's sort. Here the prefix sum is decomposed into two bounded
    * levels instead: docs group into 4,096 buckets by their draw's top 12
    * bits, per-(domain, bucket) token sums are a map-side-combined
    * aggregate, the bucket-level running total is a window over AT MOST
    * 4,096 rows per domain, and only the ONE boundary bucket per domain
    * (where the running total crosses the budget) needs a per-document
    * window — over ~1/4096th of the domain (draws are md5-uniform).
    * Fully-kept buckets pass through as a filter, fully-dropped buckets
    * never leave the bucket stats. Every exchange carries (domain, longs)
    * — no text. The decomposition is EXACT: bucket = draw's top bits, so
    * (bucket, draw, id) order == (draw, id) order and the two-level
    * prefix equals the global prefix; the oracle's hash-equality is the
    * proof. The compact joined frame is checkpointed (two consumers: the
    * filter branch and the boundary window). */
  def tokenBudgetPerDomain(df: DataFrame, domainCol: String, idCol: String,
                           tokensCol: String, budget: Long,
                           hashCol: String = null): DataFrame = {
    require(budget > 0, s"tokenBudgetPerDomain needs budget > 0, got $budget")
    val op = "WebCuration.tokenBudgetPerDomain"
    val hc = if (hashCol == null) idCol else hashCol
    val base = df
      .select(col(domainCol).as("domain"),
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("tok"),
        TextAnalysis.md5PrefixLong(col(hc).cast("string"), 10).as("draw"))
      .where(when(col("id").isNotNull && col("tok").isNotNull &&
            col("tok") >= 0 && col("draw").isNotNull, lit(true))
        .otherwise(raise_error(concat(
          lit(s"$op: needs non-null id and hash key and non-negative tokens, got id="),
          coalesce(col("id").cast("string"), lit("null")), lit(" tok="),
          coalesce(col("tok").cast("string"), lit("null")), lit(" draw="),
          coalesce(col("draw").cast("string"), lit("null")))).cast("boolean")))
      .join(Exec.checkedIdAnchor(df, idCol, op), Seq("id"), "left_semi")
      .withColumn("bucket", shiftright(col("draw"), 28))
    val bstats = base.groupBy(col("domain"), col("bucket"))
      .agg(sum(col("tok")).as("bt"))
    val wBucket = Window.partitionBy(col("domain")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val marked = bstats
      .withColumn("before_b", coalesce(sum(col("bt")).over(wBucket), lit(0L)))
      // buckets whose whole span lies at or past the budget can never
      // keep a document (every member's prefix >= before_b >= budget)
      .where(col("before_b") < budget)
    // one null-safe join-back (null domains are legitimate groups), then
    // split: compact longs only, so the checkpoint is cheap
    val joined = Exec.checkpoint(base.alias("__b")
      .join(marked.alias("__m"),
        col("__b.domain") <=> col("__m.domain") &&
          col("__b.bucket") === col("__m.bucket"))
      .select(col("__b.domain").as("domain"), col("__b.id").as("id"),
        col("__b.tok").as("tok"), col("__b.draw").as("draw"),
        col("__b.bucket").as("bucket"),
        col("__m.bt").as("bt"), col("__m.before_b").as("before_b")))
    val full = joined.where(col("before_b") + col("bt") < budget)
      .select(col("domain"), col("id"), col("tok"), col("draw"))
    val wDoc = Window.partitionBy(col("domain"), col("bucket"))
      .orderBy(col("draw"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = joined.where(col("before_b") + col("bt") >= budget)
      .withColumn("wb", coalesce(sum(col("tok")).over(wDoc), lit(0L)))
      .where(col("before_b") + col("wb") < budget)
      .select(col("domain"), col("id"), col("tok"), col("draw"))
    full.unionByName(boundary)
      .select(col("domain"), col("id"), col("tok").as("n_tokens"), col("draw"))
  }

  /** Canonical URL for crawl-level dedup keys: lowercase scheme and host
    * (case-insensitive per RFC 3986), strip the fragment, strip explicit
    * default ports (http:80 / https:443), and strip one trailing slash
    * (so `http://a.com/` == `http://a.com`). Pure codegen'd string/regex
    * ops, every pattern
    * valid and equivalent in java.util.regex and RE2 — the q49 oracle
    * replays the identical chain. Non-http(s) inputs pass through
    * unchanged (no host to normalize). */
  def canonicalUrl(urlCol: Column): Column = {
    val isHttp = urlCol.rlike("(?i)^https?://")
    val scheme = lower(regexp_extract(urlCol, "(?i)^(https?)://", 1))
    val host = lower(regexp_extract(urlCol, "(?i)^https?://([^/?#]+)", 1))
    // path and query captured SEPARATELY: the trailing-slash strip must
    // only touch the path — '?next=/' is query data, not a path slash
    val path = regexp_extract(urlCol, "(?i)^https?://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(urlCol, "(?i)^https?://[^/?#]+[^?#]*(\\?[^#]*)", 1)
    val hostNoPort = when(scheme === "http", regexp_replace(host, ":80$", ""))
      .otherwise(regexp_replace(host, ":443$", ""))
    val pathNoSlash = regexp_replace(path, "/$", "")
    when(isHttp, concat(scheme, lit("://"), hostNoPort, pathNoSlash, query))
      .otherwise(urlCol)
  }

  /** Per-domain corpus rollup: document count, char volume, distinct
    * languages, min id (a stable representative). One map-side-combined
    * groupBy on the extracted host — the standard pre-aggregation for
    * domain-level filtering/sampling decisions at crawl scale. */
  def domainStats(df: DataFrame, urlCol: String, idCol: String,
                  charsCol: String, langCol: String): DataFrame =
    df.select(domainOf(col(urlCol)).as("domain"), col(idCol).as("id"),
        col(charsCol).as("n_chars"), col(langCol).as("lang"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("id")).as("min_id"))

  /** Keep-newest capture per url (recrawl collapse): a Common-Crawl-style
    * corpus holds MANY captures of the same url across snapshots; training
    * data wants exactly one. Winner per url = greatest (ts, id) — NULL ts
    * loses to any timestamped capture, all-NULL groups fall back to the
    * greatest id (ts reported NULL). Output one row per distinct url:
    * (url, n_captures, ts, id).
    *
    * Scale shape: winner selection is a map-side-combined
    * `max(struct(ts, id))` AGGREGATE on the url key — NEVER a
    * `row_number` window, which would sort every hot url's full capture
    * history inside one partition (the q04 contrast; same choice as
    * [[keepFirstLines]]' winner pass). Only (url, ts, id) triples cross
    * the exchange — capture payloads never ride the winner shuffle. */
  def latestCapture(df: DataFrame, urlCol: String, tsCol: String,
                    idCol: String): DataFrame =
    df.groupBy(col(urlCol).as("url"))
      .agg(count(lit(1)).as("n_captures"),
        max(struct(col(tsCol).as("ts"), col(idCol).as("id"))).as("w"))
      .select(col("url"), col("n_captures"),
        col("w.ts").as("ts"), col("w.id").as("id"))

  /** Incremental recrawl ingest (snapshot diff / CDC): classify each batch
    * row against the base corpus as `new` (url absent), `unchanged` (url
    * present with byte-identical content), or `changed`. The primitive
    * behind "only re-extract what moved" at recrawl scale — re-running the
    * kernel over 10^12 unchanged pages is the bill to avoid. Output
    * (id, url, status) per batch row.
    *
    * Scale shape: ONE equality join on url; the base side is reduced to
    * (url, md5) pairs BEFORE the exchange — base text never ships. Base
    * urls must be unique (one current row per url — [[latestCapture]]
    * upstream guarantees it); duplicates raise_error loudly. NULL-url
    * batch rows never match and classify as `new`; NULL-url base rows can
    * match nothing and are ignored. NULL-text comparisons are null-safe
    * (both NULL == unchanged). */
  def incrementalDelta(batch: DataFrame, base: DataFrame, urlCol: String,
                       idCol: String, textCol: String): DataFrame =
    incrementalDeltaBy(batch, base, urlCol, idCol, md5(col(textCol)))

  /** [[incrementalDelta]] under an arbitrary derived content-identity
    * expression, evaluated against BOTH frames' columns — e.g. a combined
    * md5 over several payload columns when content is more than one text
    * field (the extract job's recrawl mode hashes html AND text). */
  def incrementalDeltaBy(batch: DataFrame, base: DataFrame, urlCol: String,
                         idCol: String, keyCol: Column): DataFrame = {
    val b = base
      .select(col(urlCol).as("url"), keyCol.as("base_md5"))
      .where(col("url").isNotNull)
      .groupBy(col("url"))
      .agg(count(lit(1)).as("__copies"), max(col("base_md5")).as("base_md5"))
      .select(col("url"),
        when(col("__copies") === 1, col("base_md5"))
          .otherwise(raise_error(concat(
            lit("incrementalDelta: duplicate base url (base must hold one current row per url): "),
            col("url")))).as("base_md5"),
        lit(true).as("__in_base"))
    batch
      .select(col(idCol).as("id"), col(urlCol).as("url"),
        keyCol.as("batch_md5"))
      .join(b, Seq("url"), "left")
      .select(col("id"), col("url"),
        when(col("__in_base").isNull, lit("new"))
          .when(col("batch_md5") <=> col("base_md5"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
