package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Natives
import graft.exec.Exec

/** Similarity search over an embedding column (array<float>): brute-force
  * cosine top-k as the exact baseline, plus multi-table random-hyperplane
  * LSH as the 100 TB scale path. All scoring is native Catalyst expressions
  * (zip_with/aggregate — no UDFs, zero extra serialization); the query side
  * is broadcast so the corpus is scanned exactly once with no shuffle of
  * the embedding vectors; per-query top-k is the bounded `topk_by_score`
  * aggregate with map-side partial aggregation, so only
  * queries x k x partitions rows ever cross an exchange — never the full
  * scored set.
  *
  * Scoring arithmetic is pinned to an ordered double-precision fold over
  * the double-cast vectors: bit-identical to DuckDB's
  * `list_dot_product(CAST(v AS DOUBLE[]), ...)`, which is what makes the
  * cosine queries oracle-checkable hash-exact.
  */
object Similarity {

  private def asDouble(a: Column): Column = a.cast("array<double>")

  /** Bucket-occupancy sizing: nBits = ceil(log2(n / targetOccupancy)), so
    * the expected bucket population stays ~constant as the corpus grows
    * (10^9 rows / 2^20 buckets ~ 10^3 — in-bucket work stays linear). */
  def occupancySizedBits(n: Long, targetOccupancy: Long = 1024L): Int =
    math.max(1, math.ceil(math.log(math.max(n, 2L).toDouble / targetOccupancy) / math.log(2.0)).toInt)

  /** The k best (cos desc, id asc) `scored` rows per query as
    * (query_id, id, rank, cos): one bounded `topk_by_score` aggregate. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(Natives.topKByScore(Seq(col("cos"), col("id").cast("long")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("query_id"), col("entry.id").as("id"),
        (col("pos") + 1).cast("int").as("rank"), col("entry.score").as("cos"))

  /** Exact brute-force top-k neighbors for each query id.
    * queries is expected to be small: it is broadcast, so the plan is one
    * corpus scan -> broadcast nested loop -> bounded per-query top-k
    * aggregate (no window over the N x Q scored set). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        Natives.cosineSim(Seq(col("vec"), col("query_vec"))).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Symmetric int8 quantization of an embedding at a POWER-OF-TWO scale:
    * q_i = clamp(floor(x_i * 2^scaleBits), -127, 127). The power-of-two
    * scale is the determinism trick — multiplying a binary double by 2^s
    * only shifts its exponent (EXACT, never rounds), so the floor is
    * taken of an exact value and every engine agrees bit-for-bit; a
    * decimal scale like 100 would round first and floor second,
    * differently per engine at representation boundaries.
    *
    * Why quantize at 100 TB: the embedding table dominates ANN storage
    * and scan bandwidth; int8 is 4x smaller than float32 (16x vs the
    * cast-to-double scoring path), and the quantized scores are EXACT
    * integers — reproducible ranking with no FP accumulation order
    * hazards. scaleBits = 7 maps unit-normalized components (|x| <= 1)
    * onto the full +-127 range. */
  def quantizeI8(vec: Column, scaleBits: Int = 7): Column = {
    require(scaleBits >= 1 && scaleBits <= 20,
      s"quantizeI8 needs 1 <= scaleBits <= 20, got $scaleBits")
    transform(asDouble(vec),
      x => greatest(lit(-127L), least(lit(127L), floor(x * (1L << scaleBits)))).cast("int"))
  }

  /** Exact brute-force top-k over int8-QUANTIZED vectors — [[bruteForceTopK]]
    * with the quantized representation end to end: both sides quantize
    * map-side (one pass), scoring is the native `dot_int` integer kernel
    * (exact — cos = dot / sqrt(n2_a * n2_b) where every operand is an
    * integer below 2^53, so the one IEEE divide+sqrt is bit-identical in
    * any engine), ranking is the bounded top-k aggregate with (score
    * desc, id asc) ties — quantization makes exact ties common, and the
    * integer scores keep them deterministic. Vectors whose every
    * component quantizes to zero have no direction at this resolution
    * and are EXCLUDED (documented; a float cosine against them is
    * equally meaningless noise). */
  def bruteForceTopKI8(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       scaleBits: Int = 7): DataFrame = {
    def quantized(df: DataFrame, idName: String, vecName: String, n2Name: String): DataFrame =
      df.select(col(idCol).as(idName), quantizeI8(col(vecCol), scaleBits).as(vecName))
        .withColumn(n2Name, Natives.dotInt(Seq(col(vecName), col(vecName))))
        .where(col(n2Name) > 0)
    val c = quantized(corpus, "id", "qv", "n2")
    val q = quantized(queries, "query_id", "qqv", "qn2")
    val scored = c.crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (Natives.dotInt(Seq(col("qv"), col("qqv"))).cast("double") /
          sqrt((col("n2") * col("qn2")).cast("double"))).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Multi-table LSH approximate top-k: the corpus is scanned once; each row
    * emits its L (table, bucket) keys and joins the broadcast queries on
    * them; matches are scored exactly and fed to the bounded top-k
    * aggregate (which collapses the same neighbor found in several tables —
    * identical (score, id) entries dedup inside the buffer).
    *
    * Scale shape: no corpus shuffle (broadcast join), candidate volume
    * ~ L x occupancy per query, and only Q x k x partitions aggregate rows
    * cross the exchange. Size nBits with `occupancySizedBits(n)` so
    * E[bucket] stays constant as n grows; raise nTables for recall
    * (P[miss] = (1 - p^nBits)^nTables for per-plane collision prob p). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nBits: Int = 16, nTables: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
        posexplode(Natives.hyperplaneSigs(Seq(col(vecCol)), nBits, nTables)).as(Seq("table_idx", "bucket")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
        posexplode(Natives.hyperplaneSigs(Seq(col(vecCol)), nBits, nTables)).as(Seq("table_idx", "bucket")))
    val scored = c.join(broadcast(q), Seq("table_idx", "bucket"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        Natives.cosineSim(Seq(col("vec"), col("query_vec"))).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= minCos):
    * multi-table LSH candidates, exactly verified.
    *
    * Scale shape: only (id, table, bucket) triples cross the candidate
    * exchange — L x 16 bytes per row, never the vectors; the verify stage
    * joins the (small) candidate set back to the vector table by id
    * (broadcast when candidates fit, one O(N) hash join otherwise).
    * Recall for a pair at cosine c: 1 - (1 - p^nBits)^nTables with
    * p = 1 - acos(c)/pi; identical vectors collide in every table.
    *
    * Sizing: candidate-pair volume is L x buckets x occupancy^2/2, i.e.
    * QUADRATIC in bucket occupancy — pair mining wants a small occupancy
    * (`occupancySizedBits(n, 32)`), unlike top-k search where per-query
    * candidate volume is only linear in occupancy. Occupancy sizing bounds
    * the EXPECTED bucket; `maxBlock` (Dedup.blockPairs, ON by default)
    * additionally bounds the worst one — a dense embedding cluster (or a
    * zero-vector pileup) lands in one bucket regardless of nBits — by
    * degrading it to LINEAR star candidates against the bucket's min id
    * (cosine-verified like every other candidate, components close the
    * cluster transitively). The compact (id, table, bucket) triples are
    * checkpointed so the hyperplane signatures are computed
    * once, not once per plan consumer. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            minCos: Double = 0.95,
                            nBits: Int = 16, nTables: Int = 4,
                            maxBlock: Long = Dedup.DefaultMaxBlock): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val buckets = Exec.checkpoint(base.select(col("id"),
      posexplode(Natives.hyperplaneSigs(Seq(col("vec")), nBits, nTables)).as(Seq("table_idx", "bucket"))))
    val cand = Dedup.blockPairs(buckets, Seq("table_idx", "bucket"), maxBlock, "embedding_lsh_blocks")
    cand
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), Natives.cosineSim(Seq(col("vec_a"), col("vec_b"))).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Per-group elementwise vector mean (cluster/class centroids) in
    * integer 1e-4 space: one output row per (group, dim) with
    * mean_i4 = sum(floor(v[dim] * 10000)) div n — the embedding-corpus
    * stats primitive (label centroids, per-language embedding profiles,
    * drift monitoring) with a CROSS-ENGINE-EXACT formulation: float ->
    * double widening and the *10000 floor are IEEE-identical everywhere,
    * and the long sum is order-independent, so the q54 DuckDB oracle
    * matches hash-exact where a double mean never could (summation order).
    *
    * Scale shape: posexplode fans each vector into d rows but the
    * partial aggregate collapses them to (group, dim) per partition
    * BEFORE the exchange — the shuffle carries groups x dims x partitions
    * compact long rows, never vectors. Ragged vectors simply contribute
    * to fewer dims (per-dim n makes that visible). */
  def groupCentroidsI4(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.where(col(vecCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), posexplode(col(vecCol)).as(Seq("dim0", "v")))
      .groupBy(col("g"), (col("dim0") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * 10000).cast("long")).as("sum_i4"))
      .select(col("g"), col("dim"), col("n"), expr("sum_i4 div n").as("mean_i4"))
}
