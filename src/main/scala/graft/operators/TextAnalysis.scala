package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Natives

/** Text-analysis operators for training-data curation: language id (marker
  * heuristic), quality features, token counting, packing and sampling.
  * All pure Catalyst expressions (portable semantics, ANSI-SQL expressible
  * where used as oracle-checked queries); the per-document kernels they
  * build on (quality score, BPE estimate, fingerprint, token chunks) are
  * [[Natives]] entries.
  */
object TextAnalysis {

  /** Marker words per language; deterministic argmax with fixed tie-break
    * order (the declaration order below). Deliberately simple and 100%
    * SQL-portable so the DuckDB oracle can replicate it verbatim. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "es" -> Seq(" el ", " que ", " los "),
    "fr" -> Seq(" le ", " et ", " les "),
    "ru" -> Seq(" и ", " не ", " что "))

  private def langScore(textCol: Column, markers: Seq[String]): Column =
    markers.map(m => when(textCol.contains(m), 1).otherwise(0)).reduce(_ + _)

  /** Detected language: highest marker score wins, declaration-order
    * tie-break (array_position returns the first match); score 0 => "und".
    * Built as one scores array so each marker is evaluated exactly once —
    * a WHEN-chain over `greatest(...)` duplicates every contains() into
    * every branch and blows up the generated code. */
  def langId(textCol: Column): Column = {
    val padded = concat(lit(" "), lower(textCol), lit(" "))
    val scores = array(LangMarkers.map { case (_, ms) => langScore(padded, ms) }: _*)
    val langs = array(LangMarkers.map { case (l, _) => lit(l) }: _*)
    val best = array_max(scores)
    when(best > 0, element_at(langs, array_position(scores, best).cast("int")))
      .otherwise(lit("und"))
  }

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column = size(split(textCol, " "))

  /** Aggressive ASCII normalization for dedup keys (the CCNet-style
    * canonical form): lowercase, map every whitespace char to a space
    * FIRST (a newline is a word separator — stripping it would weld
    * "hello\nworld" into "helloworld", so re-wrapped mirror pages would
    * get a different key), strip every remaining char outside [a-z0-9 ],
    * collapse space runs, trim — so case, punctuation and
    * spacing/wrapping variants of the same content collapse to one key.
    * Pure codegen'd string/regex ops; all three patterns are character
    * classes valid and equivalent in java.util.regex and RE2, so the
    * oracle replays the chain verbatim (DuckDB needs the 'g' flag — its
    * regexp_replace defaults to first-match-only, Spark's to all).
    * Map-local, no shuffle. */
  def normalizeText(textCol: Column): Column =
    trim(regexp_replace(regexp_replace(
      regexp_replace(lower(textCol), "\\s", " "), "[^a-z0-9 ]", ""), " +", " "))

  private[operators] def nonAlnumRatioCol(textCol: Column): Column =
    length(regexp_replace(textCol, "[a-zA-Z0-9 ]", "")).cast("double") /
      greatest(length(textCol), lit(1)).cast("double")

  private[operators] def stopRatioCol(textCol: Column): Column = {
    val tokens = split(textCol, " ")
    val stopHits = aggregate(
      transform(tokens, t => when(lower(t).isin("the", "and", "of", "a", "to", "in", "is"), 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    stopHits.cast("double") / greatest(size(tokens), lit(1)).cast("double")
  }

  /** Integer-scaled (1e4) quality score: floor of a double is bit-portable
    * and integer sums are order-independent — the aggregation/oracle-safe
    * variant. */
  def qualityScoreI4(textCol: Column): Column =
    floor(Natives.qualityScore(Seq(textCol)) * 10000).cast("long")

  /** Quality features: length, tokens, mean token length, uppercase ratio,
    * non-alphanumeric ratio, stopword ratio, and a composite [0,1] score. */
  def qualityColumns(textCol: Column): Seq[Column] = {
    val nChars = length(textCol)
    val nTokens = size(split(textCol, " "))
    val meanTokLen = (nChars.cast("double") / greatest(nTokens, lit(1)).cast("double"))
    val nonAlnumRatio = nonAlnumRatioCol(textCol)
    val stopRatio = stopRatioCol(textCol)
    val score = Natives.qualityScore(Seq(textCol))
    Seq(
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      round(meanTokLen, 4).as("mean_token_len"),
      round(nonAlnumRatio, 4).as("non_alnum_ratio"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(score, 4).as("quality_score"),
      qualityScoreI4(textCol).as("quality_score_i4"))
  }

  /** Greedy token-budget packing, two-level, over a frame that already
    * carries an `n_tokens` column (Curate's stage 4 and q35/q63 share this
    * one copy of the shard/window/pack_id formula): each language is
    * salted into `shards` deterministic sub-shards packed independently,
    * and local pack ids are interleaved (pack_id = local * shards + shard)
    * so they stay globally unique. A single per-language window serializes
    * a giant language into ONE partition's window sort at corpus scale;
    * here the sort parallelism is langs x shards while packing quality is
    * unchanged (any greedy sequential packing is equally valid — at most
    * `shards` extra partially-filled tail packs per language). With
    * `shards = 1` every id lands in shard 0 (xxhash64 is never null), so
    * it is the single per-language window: pack_id = floor((cum - 1) / budget). */
  def packShardedOn(df: DataFrame, langCol: String, idCol: String,
                    budget: Int, shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = pmod(xxhash64(col(idCol)), lit(shards))
    val w = Window.partitionBy(col(langCol), col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("shard", shard)
      .withColumn("cum_tokens", sum(col("n_tokens").cast("long")).over(w))
      .withColumn("pack_id",
        floor((col("cum_tokens") - lit(1)) / lit(budget)).cast("long") * shards + col("shard"))
      .drop("shard")
  }

  /** First `hexChars`*4 bits of md5(c) as a non-negative long — the
    * engine-portable deterministic "random" draw (DuckDB:
    * CAST('0x' || substring(md5(c), 1, hexChars) AS BIGINT)). */
  private[graft] def md5PrefixLong(c: Column, hexChars: Int): Column =
    conv(substring(md5(c), 1, hexChars), 16, 10).cast("long")

  /** Deterministic train/val/test SPLIT assignment by hashed key — the
    * dataset-freeze primitive: every row gets exactly one split label,
    * decided by where its 40-bit md5 draw falls among cumulative ppm
    * thresholds. Disjoint and exhaustive by construction (the last
    * threshold is exactly 2^40), reproducible under any partitioning and
    * any corpus growth (a row's label depends only on its own key — new
    * data never reshuffles old assignments, the property a frozen eval
    * split requires). PURE INTEGER thresholds: cumPpm * 2^40 div 1e6
    * fits a signed long and truncates identically in every engine, so
    * the q71 oracle replays the arithmetic bit-for-bit. Map-local, no
    * shuffle. Rows with a NULL key get a NULL label (surfaced, not
    * silently bucketed).
    *
    * `splits` = (label, ppm) in priority order; ppm weights must be
    * positive and sum to exactly 1,000,000. */
  def hashSplit(df: DataFrame, hashCol: String,
                splits: Seq[(String, Long)],
                splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "hashSplit needs at least one split")
    require(splits.forall(_._2 > 0), s"split ppm weights must be positive: $splits")
    require(splits.map(_._2).sum == 1000000L,
      s"split ppm weights must sum to exactly 1e6, got ${splits.map(_._2).sum}")
    require(splits.map(_._1).distinct.size == splits.size,
      s"split labels must be distinct: ${splits.map(_._1)}")
    require(!df.columns.contains(splitCol),
      s"input already has a '$splitCol' column; pass a different splitCol")
    val h = md5PrefixLong(col(hashCol), 10) // 40 bits: max ppm * 2^40 < 2^63
    val thresholds = splits.scanLeft(0L)(_ + _._2).tail
      .map(c => c * (1L << 40) / 1000000L)
    val first = when(h < lit(thresholds.head), lit(splits.head._1))
    val chain = splits.tail.zip(thresholds.tail).foldLeft(first) {
      case (acc, ((label, _), thr)) => acc.when(h < lit(thr), lit(label))
    }
    df.withColumn(splitCol, chain)
  }

  /** CLUSTER-consistent train/val/test split — [[hashSplit]]'s freeze
    * property extended to near-duplicate closure: every document is
    * assigned the split its whole near-dup CLUSTER draws, so two
    * near-identical pages can never straddle train and test (the
    * contamination a per-document split silently allows: the model
    * "memorizes" the train copy and aces its test twin). `pairs`/`ids`
    * follow the [[Dedup.connectedComponents]] contract ((id_a, id_b)
    * candidate pairs + the full id universe); the draw key is the
    * cluster's min-id label, so membership growth within a cluster never
    * moves its split, and singleton documents degrade to exactly
    * [[hashSplit]] on their own id.
    *
    * Scale shape: the clustering is the existing CC machinery (compact
    * long frames, per-round checkpoints); the split assignment itself is
    * MAP-LOCAL on the CC output (the cluster label is already a column of
    * every member row — no representative join-back).
    * Output: (id, cluster_id, split). */
  def clusterConsistentSplit(pairs: DataFrame, ids: DataFrame,
                             splits: Seq[(String, Long)]): DataFrame =
    hashSplit(
        Dedup.connectedComponents(pairs, ids)
          .select(col("id"), col("cluster_id"), col("cluster_id").cast("string").as("__ck")),
        "__ck", splits)
      .drop("__ck")

  /** Deterministic WEIGHTED Bernoulli sampling: row kept iff its 48-bit
    * md5 hash is below weight * 2^48 — inclusion probability equals the
    * row's weight (in integer 1e4 scale, e.g. `qualityScoreI4`), with no
    * RNG state, reproducible under any partitioning, and PURE INTEGER
    * arithmetic end to end (48 bits so weightI4 * 2^48 fits a signed
    * long; no float threshold an engine could round differently). The
    * quality-biased draw real curation mixes use (keep good docs with
    * high probability, junk with low) — map-local, no shuffle. Output
    * carries the draw (`h48`) and threshold weight (`w_i4`) columns so
    * callers/oracles can audit the decision; those names are reserved
    * (require-guarded) on the input. */
  def weightedSample(df: DataFrame, hashCol: String,
                     weightI4Col: Column): DataFrame = {
    // same reserved-name discipline as AsofJoin/RangeJoin: the working
    // columns would silently overwrite (and leak) caller columns
    val reserved = Set("h48", "w_i4")
    val taken = df.columns.toSet.intersect(reserved)
    require(taken.isEmpty, s"input uses weightedSample-reserved column names: $taken")
    df.withColumn("h48", md5PrefixLong(col(hashCol), 12))
      .withColumn("w_i4", weightI4Col.cast("long"))
      // `div`, not `/`: Spark's / is fractional (double) even on longs,
      // and w_i4 * 2^48 exceeds 2^53 — a double threshold could round
      // differently from the oracle's integer //
      .where(col("h48") < expr(s"w_i4 * ${1L << 48} div 10000"))
  }

  /** EXACT corpus-level frequent tokens via a two-pass Misra-Gries sketch:
    * every token with exact frequency >= minFreq, with its exact count —
    * deterministic and oracle-checkable even though the sketch itself is
    * partition-order-dependent.
    *
    *  1. one map-only count of the token stream (n);
    *  2. one Misra-Gries pass with capacity k = n/minFreq + 1, which
    *     GUARANTEES (any merge order) that every token with frequency
    *     > n/(k+1) — hence every token with frequency >= minFreq — is in
    *     the candidate summary; only k-bounded summaries cross the
    *     exchange, never the token keyspace;
    *  3. an exact count restricted to the candidates (broadcast semi
    *     join) prunes the sketch's false positives.
    *
    * Scale shape vs a naive groupBy-count: the naive plan shuffles one
    * partial count PER DISTINCT TOKEN per partition (web-scale corpora
    * have billions of distinct tokens, nearly all singletons); here the
    * sketch pass shuffles k counters per partition and the exact pass
    * shuffles only candidate tokens (<= k of them). Guard: k must fit the
    * driver, so minFreq must be a meaningful fraction of n (require'd). */
  def heavyHitterTokens(df: DataFrame, textCol: String, minFreq: Long): DataFrame = {
    require(minFreq > 0, "minFreq must be positive")
    // three consumers (count, sketch, exact re-count) RE-STREAM the three
    // map-only tokenization passes: checkpointing the exploded token
    // stream is O(total corpus tokens) rows of storage — a multi-TB cliff
    // at the web scale this operator targets
    val tokens = df.select(explode(split(col(textCol), " ")).as("token"))
    val n = tokens.count()
    // guard BEFORE the Int truncation: a wrapped k would silently
    // undersize the sketch and break the superset guarantee
    val kL = n / minFreq + 1L
    require(kL <= (1L << 22),
      s"minFreq=$minFreq over n=$n tokens needs a k=$kL summary — raise minFreq")
    val k = kL.toInt
    val summary = tokens
      .agg(Natives.misraGries(Seq(col("token")), k).as("mg"))
      .select(explode(col("mg").getField("items")).as("it"))
      .select(col("it").getField("item").as("token"))
    tokens
      .join(broadcast(summary), Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minFreq)
  }

  /** Deterministic stratified sample: per stratum, exactly min(k, n) rows —
    * the ones with the SMALLEST 52-bit md5 hash of `hashCol` (52 bits = 13
    * hex chars, exactly representable in a double, so the hash order is
    * bit-identical across engines). Reproducible, partitioning-independent,
    * no RNG state — and unlike a per-stratum `row_number` window (which
    * shuffles the whole stratum into one sort), the bounded `topk_by_score`
    * aggregate keeps k rows per stratum per partition map-side, so only
    * strata x k x partitions rows cross the exchange. The fixed-quota
    * complement to q34's fixed-RATE md5-prefix sampling.
    *
    * Output: (stratum, id, h) — h is the sampling hash, exposed so a
    * downstream rerun can verify the draw. Rows with a null id or null
    * hash source are EXPLICITLY excluded (they cannot be ordered in the
    * draw; without the filter the bounded aggregate would drop them while
    * a window formulation would rank them — engine-divergent). Duplicate
    * (stratum, id, hash) rows collapse inside the top-k buffer (a sorted
    * SET over (hash, id)) — set semantics by construction, with NO extra
    * distinct pass: a distinct would plan a full row-space shuffle,
    * exactly the cost the bounded aggregate exists to avoid. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       hashCol: String, k: Int): DataFrame = {
    df.select(col(strataCol).as("stratum"), col(idCol).as("id"),
        md5PrefixLong(col(hashCol), 13).as("h"))
      .where(col("id").isNotNull && col("h").isNotNull)
      .groupBy(col("stratum"))
      .agg(Natives.topKByScore(Seq(-col("h").cast("double"), col("id").cast("long")), k)
        .as("picks"))
      .select(col("stratum"), explode(col("picks")).as("p"))
      .select(col("stratum"), col("p").getField("id").as("id"),
        (-col("p").getField("score")).cast("long").as("h"))
  }

  /** Materialize packed training sequences — the writer half of the token
    * packing story: [[packShardedOn]] / the q35 window ASSIGN pack ids,
    * this turns each pack into its actual concatenated sequence
    * (documents joined by `sep` in ascending id order) plus bookkeeping.
    * Output: (groupCols..., n_docs, n_tokens, packed_text).
    *
    * Scale shape: one shuffle keyed by the pack identity — unavoidable
    * and SAFE, because a pack is budget-bounded by construction (~the
    * token budget), so the per-group collect is O(budget) however large
    * the corpus; the sort inside each pack is array_sort over that
    * bounded list, not a partition sort. Null texts contribute their row
    * to n_docs but no bytes or separator, and a pack whose EVERY text is
    * null gets packed_text NULL (not "") — the library's
    * nothing-survived convention and string_agg's exact behavior, so the
    * q63 oracle stays hash-exact even on all-null groups. */
  def materializePacks(assignments: DataFrame, groupCols: Seq[String],
                       idCol: String, textCol: String, tokensCol: String,
                       sep: String = "\n\n"): DataFrame = {
    require(groupCols.nonEmpty, "materializePacks needs at least one group column")
    assignments
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).cast("long").as("n_tokens"),
        sum(when(col(textCol).isNotNull, 1L).otherwise(0L)).as("__nn"),
        WebCuration.sortedJoin(
          struct(col(idCol).as("id"), col(textCol).as("t")), "t", sep).as("__joined"))
      .select((groupCols.map(col) ++ Seq(col("n_docs"), col("n_tokens"),
        when(col("__nn") > 0, col("__joined")).as("packed_text"))): _*)
  }
}
