package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exec.Exec

/** Link-graph centrality over the crawl's hyperlink structure — the
  * crawl-prioritization / source-weighting signal a web-scale pipeline
  * computes next to its content operators (which pages are worth
  * re-crawling first, which hosts deserve mixture weight).
  *
  * No reference counterpart (the reference is a single-document parser);
  * this is corpus-level pipeline surface like the dedup/curation family.
  */
object LinkGraph {

  /** Fixed-iteration PageRank in PURE NON-NEGATIVE INTEGER arithmetic —
    * bit-for-bit reproducible under any partitioning and identical across
    * engines (every division has non-negative operands, where floor ==
    * truncate in all engine versions; no doubles anywhere, so no
    * summation-order drift).
    *
    * Formulation: each SEED node starts with `totalMass div nSeeds`
    * (without `teleportSeeds` every node is a seed, so this is the classic
    * `totalMass div n`); per iteration each node sends `rank div outdeg`
    * along every out-edge and the next rank is
    * `base_i + (dampingPpm * inbound_sum) div 1e6` with
    * `base_i = ((1e6 - dampingPpm) * (totalMass div nSeeds)) div 1e6` for
    * seeds and 0 otherwise (the TrustRank teleport vector). Dangling
    * nodes (no out-edges) simply retire their mass — the standard
    * simplification; total mass is monotonically non-increasing, which
    * also caps every intermediate: inbound sums never exceed `totalMass`,
    * so `dampingPpm * sum` fits a signed long by the `totalMass` guard.
    *
    * Contract mirrors [[Dedup.connectedComponents]]: `edges` has (src,
    * dst) with both endpoints drawn from `ids`' `id` universe (null
    * endpoints raise loudly; ids must be unique), `iters` is fixed —
    * centrality ranking stabilizes in a few rounds and a FIXED count is
    * what makes the result a frozen, replayable dataset artifact rather
    * than a convergence race. `weightCol` names an optional positive
    * integer edge-weight column (a DOMAIN-level graph aggregates doc-level
    * links into multiplicity weights — the 100 TB shape: ~1e7 domain nodes
    * instead of ~1e11 page nodes); each edge then carries
    * `(rank * w) div out_weight`. Weights must satisfy
    * `w <= Long.MaxValue / totalMass` (checked per row, loudly) so the
    * product can never overflow; unweighted is the `w = 1` special case of
    * the same single code path.
    *
    * Scale shape: out-degree is one map-side-combined groupBy; the
    * per-iteration work is an (src, dst, od)-by-(id, rank) long-frame
    * join + a map-side-combined inbound sum + the node-anchored rebase —
    * compact longs on every exchange, no windows, no driver loops over
    * data (the only driver-side values are the node COUNT and the two
    * derived constants). The degree-annotated edge frame is persisted
    * once and reused by every iteration, and each iteration's rank frame
    * is checkpointed so lineage stays O(1)-deep exactly like the CC
    * rounds. Output: (id, rank_mass). */
  def pageRank(edges: DataFrame, ids: DataFrame, iters: Int,
               dampingPpm: Long = 850000L,
               totalMass: Long = 1000000000000L,
               weightCol: Option[String] = None,
               teleportSeeds: Option[DataFrame] = None): DataFrame = {
    val op = "LinkGraph.pageRank"
    require(iters >= 1 && iters <= 1000, s"$op: iters must be in [1, 1000], got $iters")
    require(dampingPpm >= 0L && dampingPpm <= 1000000L,
      s"$op: dampingPpm must be in [0, 1e6], got $dampingPpm")
    // dampingPpm * inbound_sum <= 1e6 * totalMass must fit a signed long
    require(totalMass > 0L && totalMass <= Long.MaxValue / 1000000L,
      s"$op: totalMass must be in (0, ${Long.MaxValue / 1000000L}], got $totalMass")
    val anchor0 = Exec.checkedIdAnchor(ids, "id", op)
    // teleportSeeds: the PERSONALIZED / TrustRank variant — mass teleports
    // only to the seed set (hand-curated trusted domains), so spam farms
    // far from any seed decay toward ZERO instead of holding a uniform
    // base. None = every node is a seed = exactly classic PageRank (one
    // code path, one arithmetic). Seeds must be unique and drawn from
    // `ids` (both raise loudly — a silently-dropped seed would skew the
    // teleport vector).
    // The anchor frame is consumed by the seed-count action, the rank
    // initialization AND every iteration's rebase join — materialize it
    // ONCE (r6 optimization): without the checkpoint the whole anchor
    // subtree (duplicate-id check aggregates plus, for TrustRank, the
    // two seed-membership joins) re-executed per consumer — measured as
    // the q90-vs-q83 bench gap, ~(2 + iters) full anchor recomputations.
    val anchorPlan = teleportSeeds match {
      case None => anchor0.select(col("id"), lit(true).as("seed"))
      case Some(s) =>
        val sd = Exec.checkedIdAnchor(s, "id", s"$op teleport seeds")
        // null-safe membership end to end (r6, ADVICE fix): a legitimate
        // null-id node named in the seed set must match — both the
        // membership check and the flag join use <=>, and matched-ness
        // rides an explicit marker column (a null seed id can't carry it)
        val marked = sd.alias("s")
          .join(anchor0.select(col("id"), lit(true).as("__in")).alias("n"),
            col("s.id") <=> col("n.id"), "left")
          .select(when(col("n.__in"), col("s.id"))
            .otherwise(raise_error(concat(
              lit(s"$op: teleport seed not in ids: "),
              coalesce(col("s.id").cast("string"), lit("null")))).cast("long"))
            .as("sid"), lit(true).as("__seed"))
        anchor0.join(marked, col("id") <=> col("sid"), "left")
          .select(col("id"), col("__seed").isNotNull.as("seed"))
    }
    // the node/seed counts ride the checkpoint materialization as observed
    // metrics (r6): one action materializes the anchor AND yields both
    // counts — the separate counting head() job is gone
    val (anchor, counts) = Exec.checkpointCounted(anchorPlan, "pr_counts",
      count(lit(1)).as("n"), count(when(col("seed"), 1)).as("nSeeds"))
    val (n, nSeeds) = (counts.getLong(0), counts.getLong(1))
    require(n > 0L, s"$op: needs at least one node")
    require(nSeeds > 0L, s"$op: needs at least one teleport seed")
    val init = totalMass / nSeeds
    val base = (1000000L - dampingPpm) * init / 1000000L
    val maxW = Long.MaxValue / totalMass
    val wExpr = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        wExpr.as("w"))
      .where(when(col("src").isNotNull && col("dst").isNotNull, lit(true))
        .otherwise(raise_error(concat(
          lit(s"$op: edge endpoints must be non-null, got src="),
          coalesce(col("src").cast("string"), lit("null")), lit(" dst="),
          coalesce(col("dst").cast("string"), lit("null")))).cast("boolean")))
      .where(when(col("w").isNotNull && col("w") >= 1L && col("w") <= maxW, lit(true))
        .otherwise(raise_error(concat(
          lit(s"$op: edge weights must be in [1, $maxW], got "),
          coalesce(col("w").cast("string"), lit("null")))).cast("boolean")))
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("od"))
    // persisted lazily: iteration 1's contrib join materializes the cache
    // as part of its own job — the separate count() job is gone (r6)
    val edgesOd = e.join(deg, Seq("src")).persist()
    try {
      val baseCol = when(col("seed"), lit(base)).otherwise(lit(0L))
      var r = Exec.checkpoint(
        anchor.select(col("id"),
          when(col("seed"), lit(init)).otherwise(lit(0L)).as("r")))
      var i = 0
      while (i < iters) {
        val contrib = edgesOd
          .join(r.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst"), expr("(r * w) div od").as("c"))
        val inbound = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
        r = Exec.checkpoint(
          anchor.join(inbound.withColumnRenamed("dst", "id"), Seq("id"), "left")
            .select(col("id"),
              (baseCol +
                expr(s"coalesce(s, 0L) * ${dampingPpm}L div 1000000L")).as("r")))
        i += 1
      }
      r.select(col("id"), col("r").as("rank_mass"))
    } finally edgesOd.unpersist()
  }

  /** DOMAIN-level authority from page-level links, joined back per page —
    * the shape that actually runs at 100 TB: the page graph (~1e11 nodes)
    * never feeds PageRank; it is aggregated to the domain graph (~1e7
    * nodes, fits comfortably) and each page inherits its domain's rank as
    * a crawl-prioritization / mixture weight.
    *
    * `docDomains` is (id, domain) with unique ids (null domains are
    * legitimate — unparseable urls — and form their own node); `edges` is
    * (src, dst) page-level links whose endpoints must all appear in
    * `docDomains` (missing endpoints raise loudly rather than silently
    * retiring their mass). The domain node id is the domain's MIN page id
    * — deterministic and collision-free with no global counter.
    *
    * Scale shape: the only doc-cardinality exchanges are the two
    * endpoint→node-id translation joins, compact longs end to end; the
    * multiplicity aggregation, PageRank itself, and the rank join-back all
    * run on domain-cardinality frames (the node-id and rank frames
    * broadcast). Output: (id, domain, domain_rank). */
  def domainAuthority(docDomains: DataFrame, edges: DataFrame, iters: Int,
                      dampingPpm: Long = 850000L,
                      totalMass: Long = 1000000000000L): DataFrame = {
    val op = "LinkGraph.domainAuthority"
    val dd = docDomains.select(col("id").cast("long").as("id"), col("domain"))
    val nid = dd.groupBy(col("domain")).agg(min(col("id")).as("nid"))
    // the duplicate-id check rides the anchor join, so BOTH the edge
    // translation and the final per-page output raise on copies
    // materialized ONCE (r6): docNode feeds both endpoint-translation
    // joins AND the final per-page output join — without the checkpoint
    // the id-check aggregate + domain-broadcast join re-executed per
    // consumer (three doc-cardinality recomputations per call)
    val docNode = Exec.checkpoint(
      Exec.checkedIdAnchor(dd, "id", op)
        .join(dd.alias("d")
          .join(broadcast(nid.alias("n")), col("d.domain") <=> col("n.domain"))
          .select(col("d.id").as("id"), col("d.domain").as("domain"), col("nid")),
          Seq("id")))
    val idNode = docNode.select(col("id"), col("nid"))
    // translate both endpoints in ONE pass over the edge list
    val de = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .join(idNode.withColumnRenamed("id", "src").withColumnRenamed("nid", "snid"),
        Seq("src"), "left")
      .join(idNode.withColumnRenamed("id", "dst").withColumnRenamed("nid", "dnid"),
        Seq("dst"), "left")
      .select(
        when(col("snid").isNotNull, col("snid")).otherwise(raise_error(concat(
          lit(s"$op: edge src endpoint not in docDomains: "),
          coalesce(col("src").cast("string"), lit("null")))).cast("long")).as("src"),
        when(col("dnid").isNotNull, col("dnid")).otherwise(raise_error(concat(
          lit(s"$op: edge dst endpoint not in docDomains: "),
          coalesce(col("dst").cast("string"), lit("null")))).cast("long")).as("dst"))
      // clamp the multiplicity at pageRank's overflow bound: a mega-domain
      // self-edge can exceed Long.MaxValue/totalMass (~9.2M links at the
      // default mass) and must not abort the job — past the cap the
      // weight's rank effect is negligible (it already dominates its
      // source's out-weight), so saturating is the correct degradation
      .groupBy(col("src"), col("dst"))
      .agg(least(count(lit(1)), lit(Long.MaxValue / totalMass)).as("w"))
    val ranks = pageRank(de, nid.select(col("nid").as("id")), iters,
      dampingPpm, totalMass, weightCol = Some("w"))
    docNode
      .join(broadcast(ranks.withColumnRenamed("id", "nid")), Seq("nid"))
      .select(col("id"), col("domain"), col("rank_mass").as("domain_rank"))
  }
}
