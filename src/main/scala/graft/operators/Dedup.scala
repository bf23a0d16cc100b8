package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.exec.Exec
import graft.functions.Natives

/** Deduplication operators for large-scale training-data pipelines.
  * Everything below is built from native Catalyst expressions
  * (transform/aggregate/zip_with/xxhash64) — no UDFs, no Python workers.
  * (Higher-order functions evaluate on the interpreted expression path, not
  * whole-stage codegen, but they read from the columnar batch directly and
  * add zero (de)serialization.) The only shuffles are the final groupBy /
  * self-join on compact keys (band hashes, simhash chunks, id pairs) —
  * never on document text.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup: one row per distinct text, keeping the smallest id.
    * Shuffle key is md5(text) (32 bytes), not the text itself. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDedupBy(df, idCol, md5(col(textCol)), "text_md5")

  /** Exact dedup under an arbitrary derived KEY expression — the shared
    * kernel behind [[exactDedup]] (raw text md5) and [[normalizedDedup]]
    * (canonicalized text md5). One map-side-combined groupBy on the key;
    * only (key, id) pairs cross the exchange. */
  def exactDedupBy(df: DataFrame, idCol: String, keyCol: Column,
                   keyName: String): DataFrame =
    df.select(keyCol.as(keyName), col(idCol))
      .groupBy(col(keyName))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup on the NORMALIZED text ([[TextAnalysis.normalizeText]]):
    * case, punctuation and whitespace variants of the same content count
    * as one group — the standard first-pass web dedup key (raw-byte exact
    * dedup misses trivially re-styled mirror pages). Rows whose text is
    * NULL normalize to a NULL key and group together (surfaced as one
    * group, not dropped). */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDedupBy(df, idCol, md5(TextAnalysis.normalizeText(col(textCol))), "norm_md5")

  // ---------- MinHash + LSH ----------

  /** LSH band keys: the signature split into `bands` bands of k/bands rows,
    * each hashed to one bigint. Docs sharing any (band_idx, band_hash) are
    * candidate near-duplicates. */
  def lshBands(sigCol: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)), b => xxhash64(slice(sigCol, b * r + 1, lit(r))))
  }

  /** Default blocking-key frequency cap for the pair miners: one popular
    * block contributes ~maxBlock^2/2 candidate pairs, so 4096 bounds any
    * single block at ~8.4M pairs — generous enough that no honest near-dup
    * cluster at the defaults ever trips it, small enough that a
    * boilerplate band shared by 10^7 template pages cannot detonate the
    * pair count at 100x scale. */
  val DefaultMaxBlock: Long = 4096L

  /** Blocking-key frequency handling shared by every pair miner, as a
    * split: blocks (grouped by `keys`) with at most `maxBlock` member rows
    * go through the normal all-pairs self-join; OVER-popular blocks degrade
    * to STAR candidates — every member paired with the block's minimum id —
    * which is LINEAR in block size. The candidate-pair COUNT of a block is
    * quadratic in its population and no join strategy can bound it (AQE's
    * skew split only rebalances partitions, it does not shrink the pair
    * volume); the star keeps the volume linear while the boilerplate group
    * STILL collapses: every member is exactly-verified against the
    * representative and connected components closes the cluster
    * transitively. (Dropping over-popular blocks outright — the obvious
    * cap — silently exempts exactly the template pages the cap exists for.)
    *
    * Shape: the stats aggregate is one map-side-partial groupBy on compact
    * keys; the under-cap filter is an ANTI join against the over-popular
    * list (bounded by rows/maxBlock, so AQE's runtime stats broadcast it);
    * the star side is an inner join against the same tiny list.
    *
    * Observability: the stats aggregate emits observed metrics
    * (`over_blocks`, `max_block_n`) via a uniquely-named CollectMetrics
    * node — visible to any QueryExecutionListener / `Observation` without
    * forcing an extra job.
    *
    * Returns (under-cap rows, over-popular rows annotated with the block's
    * minimum `id` as `rep_id`). */
  private[operators] def splitBlocks(rows: DataFrame, keys: Seq[String],
                                     maxBlock: Long, metric: String): (DataFrame, DataFrame) = {
    val keyCols = keys.map(col)
    val stats = rows.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("block_n"), min(col("id")).as("rep_id"))
      .observe(Exec.metricName(metric),
        sum(when(col("block_n") > maxBlock, 1L).otherwise(0L)).as("over_blocks"),
        max(col("block_n")).as("max_block_n"))
      .where(col("block_n") > maxBlock)
    val over = stats.select((keyCols :+ col("rep_id")): _*)
    val under = rows.join(over.select(keyCols: _*), keys, "left_anti")
    val starred = rows.join(over, keys).where(col("id") =!= col("rep_id"))
    (under, starred)
  }

  /** Distinct candidate pairs (id_a < id_b) of the rows sharing a block:
    * `rows` carries `id` plus the block `keys`, and only those columns
    * cross the self-join exchange. Over-popular blocks degrade to LINEAR
    * star candidates against the block's min id ([[splitBlocks]], observed
    * under `metric`; `maxBlock = 0` disables). The one candidate join
    * behind the banded-minhash and the embedding-LSH pair miners. */
  private[operators] def blockPairs(rows: DataFrame, keys: Seq[String],
                                    maxBlock: Long, metric: String): DataFrame = {
    def selfJoinPairs(r: DataFrame): DataFrame = {
      val a = r.select(keys.map(col) :+ col("id").as("id_a"): _*)
      val b = r.select(keys.map(col) :+ col("id").as("id_b"): _*)
      a.join(b, keys)
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
    }
    val pairs =
      if (maxBlock <= 0) selfJoinPairs(rows)
      else {
        val (under, starred) = splitBlocks(rows, keys, maxBlock, metric)
        selfJoinPairs(under).unionByName(
          starred.select(least(col("rep_id"), col("id")).as("id_a"),
            greatest(col("rep_id"), col("id")).as("id_b")))
      }
    pairs.dropDuplicates("id_a", "id_b")
  }

  /** Banded-LSH candidate pairs (id_a < id_b) over an (id, sig) minhash
    * table — the shared candidate generator for the exact-verified dedup
    * operators: [[blockPairs]] over (band_idx, band_hash) blocks, so 3
    * bigints per (row, band) cross the exchange, never signatures,
    * shingles, or text. */
  private[operators] def candidatesFromSigs(sigs: DataFrame, k: Int, bands: Int,
                                            maxBlock: Long): DataFrame =
    blockPairs(bandRows(sigs, k, bands), BandKeys, maxBlock, "minhash_lsh_blocks")

  private val BandKeys = Seq("band_idx", "band_hash")

  /** One (id, band_idx, band_hash) row per band of each (id, sig) row. */
  private def bandRows(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.select(col("id"), posexplode(lshBands(col("sig"), k, bands)).as(BandKeys))

  /** The n-gram miners' verify tail: the (id_a, id_b, jaccard) of `pairs`
    * whose shingle hashes `sh_a`, `sh_b` reach `minJaccard`, by the native
    * sorted-merge jaccard (value-identical to
    * size(array_intersect)/size(array_union), SketchExpressionsSpec). */
  private def jaccardAtLeast(pairs: DataFrame, minJaccard: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        Natives.jaccardSim(Seq(col("sh_a"), col("sh_b"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)

  // ---------- SimHash ----------

  /** SimHash near-duplicate pairs within a hamming radius over the
    * oracle-portable md5 simhash (60 bits), using 15-bit chunk blocking
    * (any pair at distance <= 3 shares one of 4 chunks — pigeonhole) and
    * bit_count verification. Hot path is the native
    * `SketchKernel.simhashMd5` kernel, bit-identical to the declarative
    * reference in `DedupReference` (SketchExpressionsSpec). Only
    * (chunk_idx, chunk, id, sh) rows cross the self-join exchange. The
    * compact (id, sh) sketch frame is checkpointed once — both self-join
    * sides otherwise re-run the simhash pass over the full corpus text (the
    * `Exec.checkpoint` rationale; r6). */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame = {
    val hashed = Exec.checkpoint(df.select(col(idCol).as("id"),
      Natives.simhashMd5(Seq(col(textCol))).as("sh")))
    val chunkBits = 15
    val mask = (1L << chunkBits) - 1
    val chunked = hashed.select(col("id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(3)),
        c => call_function("shiftrightunsigned", col("sh"), c * chunkBits).bitwiseAND(lit(mask)))).as(Seq("chunk_idx", "chunk")))
    val keys = Seq("chunk_idx", "chunk")
    val a = chunked.select(col("chunk_idx"), col("chunk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, keys).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // ---------- duplicate clusters ----------

  /** One convergence round of a [[connectedComponents]] run: `frontier`
    * is the changed-label node count entering the next round. */
  final case class CcRound(round: Int, frontier: Long)

  // Per-process observability for the MOST RECENT min-label CC run (it is
  // EAGER — it drives its rounds as jobs before returning — so the stats
  // are complete the moment the call returns). A monitoring hook, not a
  // correctness channel: concurrent CC runs in one driver overwrite each
  // other's entry, last-writer-wins.
  private val lastCcRoundsRef =
    new java.util.concurrent.atomic.AtomicReference[Seq[CcRound]](Seq.empty)

  /** Per-round frontier sizes + rounds-to-convergence of the most recent
    * [[connectedComponents]] run — what a 100 TB operator persists to
    * watch CC behavior (Extract --curate lands these in the metrics_cc
    * table). Only the min-label variant records here;
    * [[connectedComponentsStars]] leaves the ledger untouched. */
  def lastCcRounds: Seq[CcRound] = lastCcRoundsRef.get()

  /** Connected components over a near-duplicate pair set: every document
    * gets the minimum doc id of its component as `cluster_id` (`is_kept`
    * marks the representative). This is the step that turns pairwise
    * near-dup evidence into an actual dedup decision — transitive closure,
    * so A~B, B~C dedups C even when A!~C directly.
    *
    * Algorithm: FRONTIER min-label propagation (delta iteration) — each
    * round only nodes whose label CHANGED last round push it; a neighbor
    * whose label is stable already delivered that value in an earlier
    * round, and labels only decrease, so the fixpoint is identical to full
    * propagation (asserted against the brute-force recursive-CTE oracle in
    * q36 and the stars variant in DedupSpec). Converges in O(component
    * diameter) rounds (near-dup clusters are dense, so 2-4 in practice),
    * but per-round work shrinks with the frontier: once a component
    * stabilizes, its edges stop flowing through the message join — at
    * corpus scale the late rounds touch only the few still-active chain
    * tails instead of re-aggregating every edge.
    *
    * Each round is one frontier-filtered shuffle join + partial-agg min;
    * labels are checkpointed (`Exec.checkpoint`) so the plan stays O(1)
    * deep, and convergence is the exact changed-node COUNT hitting zero
    * (an observed metric riding the checkpoint materialization — one
    * driver-blocking job per round, no sum-wrap hazards). For adversarial
    * long-chain graphs the published alternating large-star/small-star
    * scheme (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) drops the round count to O(log^2 n); dedup graphs
    * do not need it. */
  def connectedComponents(pairs: DataFrame, ids: DataFrame, maxIter: Int = 50): DataFrame = {
    // both edge directions via ONE explode over the pair frame (r6): the
    // union-of-two-selects form executed the entire upstream pair-miner
    // subtree twice inside the first materializing job — the miner is the
    // expensive part of every CC caller, so this halves that job's work
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    val rounds = Seq.newBuilder[CcRound]
    try {
      // Each round checkpoints the (id, label, changed) state and reads
      // the changed count (and row count, for the round-0 ledger entry)
      // off that job; empty frames observe null -> 0 (an empty id set must
      // yield an empty result, not an NPE)
      val counted = Seq(sum(when(col("changed"), 1L).otherwise(0L)).as("n"),
        count(lit(1)).as("rows"))
      def changedOf(row: Row): Long = if (row.isNullAt(0)) 0L else row.getLong(0)

      // Round 1 FUSED with initialization (r6 optimization): labels start
      // at label(x) = x, so the first propagation's neighbor minimum is
      // simply min(dst) per src — no init-labels materialization, no
      // labels join. Only edge ENDPOINTS ever enter the propagation frame:
      // a node with no edges keeps label = id through every round by
      // construction, so it is re-attached once at the end instead of
      // riding (and being re-checkpointed with) every round's state. The
      // first round's aggregate also materializes the persisted edge frame
      // as a side effect — the separate edges.count() job is gone.
      var (labels, row0) = Exec.checkpointCounted(
        edges.groupBy(col("src")).agg(min(col("dst")).as("nbr_min"))
          .select(col("src").cast("long").as("id"),
            least(col("src").cast("long"), col("nbr_min").cast("long")).as("label"),
            (col("nbr_min").cast("long") < col("src").cast("long")).as("changed")),
        "cc_changed", counted: _*)
      var frontierN = changedOf(row0)
      rounds += CcRound(0, row0.getLong(1)) // nodes entering propagation
      var iter = 1
      rounds += CcRound(iter, frontierN)
      while (frontierN > 0 && iter < maxIter) {
        val nbrMin = edges
          .join(labels.where(col("changed")).select(col("id").as("dst"), col("label")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
        val (next, row) = Exec.checkpointCounted(labels
          .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"),
            (coalesce(col("nbr_min"), col("label")) < col("label")).as("changed")),
          "cc_changed", counted: _*)
        labels = next
        frontierN = changedOf(row)
        iter += 1
        rounds += CcRound(iter, frontierN)
      }
      lastCcRoundsRef.set(rounds.result())
      // an unconverged result is silently-wrong dedup — fail loudly instead.
      // maxIter bounds the component DIAMETER; graphs deeper than that want
      // the large-star/small-star scheme cited above.
      if (frontierN > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds (component diameter > $maxIter)")
      // singletons (ids with no edges) never entered propagation: label = id
      ids.select(col("id"))
        .join(labels.select(col("id"), col("label")), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id").cast("long")).as("cluster_id"))
        .withColumn("is_kept", col("id").cast("long") === col("cluster_id"))
    } finally edges.unpersist()
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii: "Connected
    * Components in MapReduce and Beyond", SoCC 2014): each round rewires
    * every node toward its neighborhood minimum, collapsing components into
    * min-rooted stars in O(log^2 n) rounds REGARDLESS of diameter — the
    * path for adversarial long-chain graphs where `connectedComponents`'
    * min-label propagation (O(diameter) rounds) hits its maxIter bound.
    * Same output contract: (id, cluster_id, is_kept).
    *
    * Per round: two grouped minimums + join-backs over the current edge
    * set (compact long pairs only) and one exact set-equality convergence
    * probe — no label sums, no hash fingerprints. */
  def connectedComponentsStars(pairs: DataFrame, ids: DataFrame, maxIter: Int = 50): DataFrame = {
    // canonical directed edges child u -> parent v with u > v
    def canon(e: DataFrame): DataFrame =
      e.where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()

    // large-star(u): every strictly-larger neighbor of u rewires to
    // min(N(u) + {u}) — operates on the undirected neighbor view
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      canon(nbrs.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    // small-star(u): u and all its smaller neighbors rewire to their min —
    // operates on the canonical child->parent view directly
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      canon(e.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v"))))
    }

    // exact set equality: equal distinct counts + empty difference
    def same(a: DataFrame, b: DataFrame, aCount: Long, bCount: Long): Boolean =
      aCount == bCount && a.except(b).head(1).isEmpty

    // each round's edge count rides its checkpoint materialization as an
    // observed metric (r6): one job per round instead of checkpoint+count
    val rows = count(lit(1)).as("rows")
    var (edges, row0) = Exec.checkpointCounted(
      canon(pairs.select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))),
      "cc_stars", rows)
    var cnt = row0.getLong(0)
    var iter = 0
    var converged = cnt == 0L
    while (!converged && iter < maxIter) {
      val (next, row) = Exec.checkpointCounted(smallStar(largeStar(edges)), "cc_stars", rows)
      converged = same(next, edges, row.getLong(0), cnt)
      edges = next
      cnt = row.getLong(0)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStars did not converge in $maxIter alternating rounds")

    // star state: every non-root points directly at its component minimum
    ids.select(col("id"))
      .join(edges.select(col("u").as("id"), col("v").as("cluster_id")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id").cast("long")).as("cluster_id"))
      .withColumn("is_kept", col("id").cast("long") === col("cluster_id"))
  }

  // ---------- n-gram Jaccard ----------

  /** Exact n-gram Jaccard similarity over banded-LSH candidates.
    *
    * The set algebra runs on 64-bit shingle hashes, not shingle strings —
    * identical jaccard up to hash collisions (~2^-64 per pair) at a
    * fraction of the compare and shuffle cost.
    *
    * Scale shape (replaces the old single-min-shingle blocking, which put
    * every document sharing one popular min-shingle into one quadratic
    * block and shuffled full shingle arrays with the rows):
    *  1. candidates from `candidatesFromSigs` — the self-join exchange
    *     carries only (band_idx, band_hash, id) triples;
    *  2. the (small) candidate pair set joins back to the per-id distinct
    *     shingle-hash arrays (broadcast when candidates fit, one O(N) hash
    *     join otherwise) and is verified with exact intersect/union.
    *
    * Recall for a pair at jaccard j is 1 - (1 - j^(k/bands))^bands
    * (identical docs are always candidates); with the defaults k=64,
    * bands=16 a j=0.9 pair is missed with probability 3.9e-8. For low
    * thresholds raise `bands` or lower `k/bands`. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleWords: Int = 3, minJaccard: Double = 0.5,
                        k: Int = 64, bands: Int = 16,
                        maxBlock: Long = DefaultMaxBlock): DataFrame = {
    // ONE materialized (id, hashes) frame feeds candidate generation AND
    // both verify join-backs (r6 optimization; was two materializations —
    // sigs AND hashes — i.e. two checkpoint jobs and two tokenize passes):
    // the minhash signature derives map-side from the stored distinct
    // shingle hashes (min over occurrences == min over distinct values;
    // the per-shingle h1/h2 come from exactly the stored base hash —
    // parity-asserted), so the corpus text is tokenized once, one
    // checkpoint job runs, and the checkpoint stores only the hash
    // arrays (an RDD scan cannot column-prune, so a combined sig+hashes
    // row would be fully decoded by every consumer).
    val hashes = Exec.checkpoint(
      df.select(col(idCol).as("id"),
        Natives.shingleHashes(Seq(col(textCol)), shingleWords).as("hashes")))
    val cand = candidatesFromSigs(
      hashes.select(col("id"),
        Natives.minhashSigFromHashes(Seq(col("hashes")), k).as("sig")),
      k, bands, maxBlock)
    jaccardAtLeast(cand
      .join(hashes.select(col("id").as("id_a"), col("hashes").as("sh_a")), Seq("id_a"))
      .join(hashes.select(col("id").as("id_b"), col("hashes").as("sh_b")), Seq("id_b")),
      minJaccard)
  }

  /** BIPARTITE n-gram Jaccard near-dup pairs between a (large) left
    * corpus and a (small) right set — the miner behind fuzzy
    * decontamination (`Decontaminate.flagNearDup`): which corpus
    * documents NEAR-duplicate a benchmark document? Same
    * candidates-then-exact-verify discipline as [[ngramJaccardPairs]],
    * but the band join is left x right instead of a self-join (no
    * id_a < id_b — the two sides are different id spaces), so candidate
    * count scales with genuine cross-matches, not corpus^2.
    * Output: (id_a from left, id_b from right, jaccard), exact-verified.
    *
    * Block cap: unlike the self-join miners, the LEFT side needs NO cap —
    * bipartite fan-out per band is |left block| x |right block|, LINEAR
    * in the corpus (the quadratic self-pairing the star degradation
    * guards against cannot occur), and a left band only fans out at all
    * when some RIGHT document shares its 64-bit band hash. Capping the
    * left would silently exempt exactly the mass-leak case (10^5 corpus
    * copies of one benchmark doc occupy over-cap blocks in EVERY band
    * and would vanish from the candidate set). The cap therefore applies
    * to RIGHT blocks: a band shared by > maxBlock BENCHMARK documents is
    * benchmark-internal template noise whose exclusion is surfaced in
    * the `bipartite_lsh_blocks_N` observed metric; right blocks are
    * bounded by the benchmark's size, so total candidates stay
    * <= bands x |left| x maxBlock with tiny constants in practice.
    * Exchanges carry (band_idx, band_hash, id) triples and id-keyed
    * shingle arrays for the verify join-backs only — never text. */
  def ngramJaccardPairsBipartite(left: DataFrame, right: DataFrame,
                                 idCol: String, textCol: String,
                                 shingleWords: Int = 3, minJaccard: Double = 0.5,
                                 k: Int = 64, bands: Int = 16,
                                 maxBlock: Long = DefaultMaxBlock): DataFrame = {
    // the LEFT (corpus) side materializes NOTHING (r6): its banded frame
    // feeds exactly ONE join (unlike the self-join miner, where the sig
    // table feeds both sides), so a checkpoint only adds a corpus-scale
    // write — bands are computed map-side straight off the text, and the
    // verify shingle pass stays map-side too (the documented no-corpus-
    // checkpoint discipline of this miner).
    val bandedL = bandRows(
      left.select(col(idCol).as("id"),
        Natives.minhashSig(Seq(col(textCol)), shingleWords, k).as("sig")),
      k, bands)
    // the RIGHT (benchmark) side materializes ONE (id, hashes) frame: its
    // band signatures derive map-side from the stored distinct hashes
    // (parity-asserted idempotence argument in ngramJaccardPairs), so the
    // benchmark text is tokenized once and one checkpoint job runs
    // instead of two.
    val skR = Exec.checkpoint(
      right.select(col(idCol).as("id"),
        Natives.shingleHashes(Seq(col(textCol)), shingleWords).as("hashes")))
    val bandedR = bandRows(skR.select(col("id"),
      Natives.minhashSigFromHashes(Seq(col("hashes")), k).as("sig")), k, bands)
    val rightRows =
      if (maxBlock <= 0) bandedR
      else splitBlocks(bandedR, BandKeys, maxBlock, "bipartite_lsh_blocks")._1
    val cand = bandedL
      .select(col("band_idx"), col("band_hash"), col("id").as("id_a"))
      .join(rightRows.select(col("band_idx"), col("band_hash"), col("id").as("id_b")), BandKeys)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // the LEFT hash table feeds exactly ONE join-back (contrast the
    // self-join miner, where it feeds both sides), and the candidate set
    // is contamination-sized — AQE broadcasts it, so the corpus-side
    // shingle pass runs map-side and dies at the join without a
    // corpus-scale checkpoint write; only the small right side
    // materializes
    // null-safe join-backs: a (single) null-id document on either side
    // participates fully — flagNearDup's anchor would otherwise report
    // its matches as clean (hash-join keys support <=>, so AQE still
    // broadcasts the candidate set)
    val shA = left.select(col(idCol).as("__ida"),
      Natives.shingleHashes(Seq(col(textCol)), shingleWords).as("sh_a"))
    val shB = skR.select(col("id").as("__idb"), col("hashes").as("sh_b"))
    jaccardAtLeast(cand
      .join(shA, col("id_a") <=> col("__ida")).drop("__ida")
      .join(shB, col("id_b") <=> col("__idb")).drop("__idb"), minJaccard)
  }

  /** QUALITY-AWARE cluster representative selection — the FineWeb upgrade
    * over [[connectedComponents]]' min-id `is_kept`: per near-dup cluster
    * keep the HIGHEST-quality member (ties to the smallest id), so dedup
    * discards the boilerplate-laden copies instead of whichever crawled
    * first.
    *
    * Input: one row per document with its cluster label and integral
    * score (join the CC output with a score frame upstream); ids must be
    * unique (checked anchor) and (id, cluster, score) all non-null (loud
    * guard). Any long id/score/cluster is legal — the winner collation is
    * a lexicographic struct max, not a bit packing, so there are NO range
    * caps (trillion-doc id spaces fit; contrast [[ScorePack]], whose
    * 2^21/2^31 bounds exist only because the top-k sketch orders by one
    * exact double). Output: (id, cluster_id, score, is_rep) with exactly
    * one is_rep=1 row per cluster.
    *
    * Scale shape: the winner per cluster is ONE map-side-combinable
    * max(struct(score, ~id)) aggregate cell — bitwise NOT is the
    * overflow-free order reversal (~x = -x-1, total and strictly
    * decreasing on longs), so "highest score, ties to the SMALLEST id"
    * is a plain max; never a per-cluster window, so a pathological
    * million-member cluster costs a partial-agg cell, not a hot sort
    * partition; the join back is cluster-keyed longs only, and AQE
    * broadcasts the (clusters-sized) winner frame when small. */
  def clusterRepresentatives(df: DataFrame, idCol: String, clusterCol: String,
                             scoreCol: String): DataFrame = {
    val base = df
      .select(col(idCol).cast("long").as("id"),
        col(clusterCol).cast("long").as("cluster_id"),
        col(scoreCol).cast("long").as("score"))
      // a null id/cluster/score would silently vanish in (or
      // nondeterministically lose) the winner join below — fail loudly
      .where(Exec.check(col("id").isNotNull && col("cluster_id").isNotNull &&
          col("score").isNotNull,
        lit("Dedup.clusterRepresentatives: id, cluster and score must be non-null, got id="),
        Exec.shown(col("id")), lit(" cluster="), Exec.shown(col("cluster_id")),
        lit(" score="), Exec.shown(col("score"))))
      .join(Exec.checkedIdAnchor(df, idCol, "Dedup.clusterRepresentatives"),
        Seq("id"), "left_semi")
    val winners = base.groupBy(col("cluster_id"))
      .agg(max(struct(col("score"), bitwise_not(col("id")).as("nid"))).as("w"))
      .select(col("cluster_id"), bitwise_not(col("w.nid")).as("rep_id"))
    base.join(winners, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("score"),
        (col("id") === col("rep_id")).cast("long").as("is_rep"))
  }
}
