package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopKFunctions.topKByScore

/** Similarity search over an embedding column (array<float>): brute-force
  * cosine top-k as the exact baseline, plus multi-table random-hyperplane
  * LSH as the 100 TB scale path. All scoring is native Catalyst expressions
  * (zip_with/aggregate — no UDFs, zero extra serialization); the query side
  * is broadcast so the corpus is scanned exactly once with no shuffle of
  * the embedding vectors; per-query top-k is a bounded custom aggregate
  * (graft.functions.TopKByScore) with map-side partial aggregation, so only
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

  /** dot(a, b): ordered left fold in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0d), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Native codegen'd cosine — bit-identical to `cosineDeclarative`
    * (LshExpressionsSpec) and to the DuckDB oracle arithmetic. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.LshFunctions.cosineSim(a, b)

  /** The interpreted-HOF formulation `cosine` is verified against. */
  def cosineDeclarative(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Deterministic pseudo-random hyperplane coefficient for (plane, dim):
    * xxhash64 folded to [-0.5, 0.5). Same value on every executor/JVM. */
  private def coeff(plane: Column, dim: Column): Column =
    (pmod(xxhash64(plane, dim), lit(100000L)).cast("double") / lit(100000.0d)) - lit(0.5d)

  /** nBits-bit random-hyperplane signature of a vector for hash table
    * `table`: bit p is the sign of dot(vec, plane_{table*nBits+p}). Buckets
    * collide for nearby directions (Charikar's cosine LSH; the multi-table
    * scheme is the standard E2LSH construction: L independent tables, union
    * of candidates). Declarative formulation — the hot path uses the native
    * codegen'd HyperplaneSigs expression (bit-identical; see
    * LshExpressionsSpec). */
  def hyperplaneSignature(vec: Column, nBits: Int, table: Int = 0): Column =
    aggregate(
      transform(sequence(lit(0), lit(nBits - 1)), p => {
        val plane = p + lit(table * nBits)
        val d = aggregate(
          zip_with(asDouble(vec), sequence(lit(0), size(vec) - 1), (x, i) => x * coeff(plane, i)),
          lit(0.0d), (acc, v) => acc + v)
        when(d >= 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc + x)

  /** The L independent table signatures as one array (posexplode to
    * (table_idx, bucket)) — native expression with a memoized per-shape
    * coefficient matrix. */
  def signatures(vec: Column, nBits: Int, nTables: Int): Column =
    graft.functions.LshFunctions.hyperplaneSigs(vec, nBits, nTables)

  /** The interpreted-HOF formulation `signatures` is verified against. */
  def signaturesDeclarative(vec: Column, nBits: Int, nTables: Int): Column =
    array((0 until nTables).map(t => hyperplaneSignature(vec, nBits, t)): _*)

  /** Bucket-occupancy sizing: nBits = ceil(log2(n / targetOccupancy)), so
    * the expected bucket population stays ~constant as the corpus grows
    * (10^9 rows / 2^20 buckets ~ 10^3 — in-bucket work stays linear). */
  def occupancySizedBits(n: Long, targetOccupancy: Long = 1024L): Int =
    math.max(1, math.ceil(math.log(math.max(n, 2L).toDouble / targetOccupancy) / math.log(2.0)).toInt)

  private def explodeTopK(grouped: DataFrame): DataFrame =
    grouped
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
        cosine(col("vec"), col("query_vec")).as("cos"))
    explodeTopK(
      scored.groupBy(col("query_id")).agg(topKByScore(col("cos"), col("id"), k).as("top")))
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
    import graft.functions.SketchFunctions.dotInt
    def quantized(df: DataFrame, idName: String, vecName: String, n2Name: String): DataFrame =
      df.select(col(idCol).as(idName), quantizeI8(col(vecCol), scaleBits).as(vecName))
        .withColumn(n2Name, dotInt(col(vecName), col(vecName)))
        .where(col(n2Name) > 0)
    val c = quantized(corpus, "id", "qv", "n2")
    val q = quantized(queries, "query_id", "qqv", "qn2")
    val scored = c.crossJoin(broadcast(q))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        (dotInt(col("qv"), col("qqv")).cast("double") /
          sqrt((col("n2") * col("qn2")).cast("double"))).as("cos"))
    explodeTopK(
      scored.groupBy(col("query_id")).agg(topKByScore(col("cos"), col("id"), k).as("top")))
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
        posexplode(signatures(col(vecCol), nBits, nTables)).as(Seq("table_idx", "bucket")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
        posexplode(signatures(col(vecCol), nBits, nTables)).as(Seq("table_idx", "bucket")))
    val scored = c.join(broadcast(q), Seq("table_idx", "bucket"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosine(col("vec"), col("query_vec")).as("cos"))
    explodeTopK(
      scored.groupBy(col("query_id")).agg(topKByScore(col("cos"), col("id"), k).as("top")))
  }

  // ---------- IVF (inverted-file index, k-means coarse quantizer) ----------

  /** Deterministic IVF centroid training: Lloyd iterations where the
    * assignment runs map-local against broadcast (closure) centroids and
    * the update accumulates INTEGER-scaled components (x * 2^20 rounded to
    * long) — integer addition commutes exactly, so the trained centroids
    * are bit-identical under any partitioning or executor count (a
    * floating-point mean is not). Init: the nlist vectors with the
    * smallest md5(id) — a deterministic, order-free sample.
    *
    * Scale shape per iteration: one corpus scan, map-local partial sums
    * (nlist x dim longs per partition), one tiny shuffle of those
    * partials; centroids (nlist x dim doubles) live on the driver and ship
    * in the task closure. */
  /** Driver-memory ceiling for the closure-shipped centroid matrix:
    * nlist x dim doubles live on the driver and ride in every task closure,
    * so the trainer refuses matrices above ~16M cells (~128 MB) — at dim
    * 1024 that is nlist <= 16384, comfortably past the sqrt(n) sizing for
    * n = 10^8 vectors. Beyond that an IVF index wants its centroids in a
    * broadcast joined table, not a closure — out of scope here, guarded
    * loudly instead of failing as an executor OOM mid-run. */
  val MaxCentroidCells: Long = 1L << 24

  /** sqrt(n) nlist auto-sizing (the standard IVF rule: probe cost and
    * in-list scan cost balance at nlist ~ sqrt(n)), clamped to [1, maxNlist]. */
  def ivfAutoNlist(n: Long, maxNlist: Int = 16384): Int =
    math.max(1L, math.min(maxNlist.toLong, math.round(math.sqrt(math.max(n, 0L).toDouble)))).toInt

  /** Rows a distributed vector consumer can use: id and vec non-null and no
    * null elements inside the array. The per-row degradation contract:
    * corrupt rows are DROPPED from index training/assignment (mirroring
    * CosineSim, which scores corrupt rows as null) — never a task failure. */
  private def cleanVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .where(col("id").isNotNull && col("vec").isNotNull &&
        !exists(col("vec"), _.isNull))

  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, iters: Int = 5): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val Scale = (1L << 20).toDouble

    val vecs = cleanVectors(corpus, idCol, vecCol).as[(Long, Seq[Double])]

    val sampled: Array[Array[Double]] = vecs.toDF()
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(nlist).as[(Long, Seq[Double])]
      .collect().map(_._2.toArray)
    if (sampled.isEmpty) return sampled // empty corpus: nothing to train
    // the trained dimension is the WIDEST sampled vector, and shorter
    // sampled vectors are zero-padded: `cs(0).length` alone would let a
    // single ragged row that happens to md5-sort first silently truncate
    // every centroid (and every later sum/score loop) to its length
    val dim = sampled.iterator.map(_.length).max
    var centroids: Array[Array[Double]] = sampled.map(a =>
      if (a.length == dim) a else java.util.Arrays.copyOf(a, dim))
    require(nlist.toLong * dim <= MaxCentroidCells,
      s"IVF centroid matrix nlist=$nlist x dim=$dim exceeds " +
        s"$MaxCentroidCells cells — the closure-shipped driver-held centroids " +
        "would dominate task size; lower nlist (ivfAutoNlist) or shard the index")

    for (_ <- 1 to iters) {
      val cs = centroids
      // per-partition integer-scaled partial sums per centroid
      val partials = vecs.mapPartitions { it =>
        val dim = cs(0).length
        val sums = Array.ofDim[Long](cs.length, dim)
        val counts = new Array[Long](cs.length)
        it.foreach { case (_, v) =>
          val cid = nearestCentroid(v, cs)
          // ragged rows (shorter than the trained dim) accumulate their
          // prefix — same degradation as centroidScore's min-length dot
          var d = 0
          val n = math.min(dim, v.length)
          while (d < n) { sums(cid)(d) += math.round(v(d) * Scale); d += 1 }
          counts(cid) += 1
        }
        (0 until cs.length).iterator
          .filter(c => counts(c) > 0)
          .map(c => (c, counts(c), sums(c).toSeq))
      }
      val merged = partials
        .groupByKey(_._1)
        .reduceGroups((a, b) => (a._1, a._2 + b._2, a._3.zip(b._3).map(t => t._1 + t._2)))
        .map(_._2)
        .collect()
      val next = centroids.map(_.clone())
      merged.foreach { case (cid, n, sums) =>
        next(cid) = sums.map(s => s.toDouble / Scale / n).toArray
      }
      centroids = next
    }
    centroids
  }

  /** cosine(v, centroid c) — the ONE scoring rule assignment and probing
    * share (zero-norm degrades below every real score). */
  private def centroidScore(v: Seq[Double], cv: Array[Double]): Double = {
    var dot = 0.0
    var nc = 0.0
    var nv = 0.0
    var d = 0
    val n = math.min(cv.length, v.length)
    while (d < n) { dot += v(d) * cv(d); nc += cv(d) * cv(d); nv += v(d) * v(d); d += 1 }
    if (nc == 0 || nv == 0) Double.NegativeInfinity
    else dot / (math.sqrt(nc) * math.sqrt(nv))
  }

  /** argmax over centroids of cosine(v, c) — deterministic ties to the
    * lower centroid id. */
  private def nearestCentroid(v: Seq[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cs.length) {
      val score = centroidScore(v, cs(c))
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** The nprobe centroid ids nearest to v (cosine, deterministic order). */
  private def probeLists(v: Seq[Double], cs: Array[Array[Double]], nprobe: Int): Seq[Int] = {
    cs.indices.map(c => (centroidScore(v, cs(c)), c))
      .sortBy(t => (-t._1, t._2)).take(nprobe).map(_._2)
  }

  /** IVF approximate top-k: corpus rows are bucketed by nearest centroid
    * (one map-local pass, closure-shipped centroids); each query probes its
    * `nprobe` nearest lists; matches are scored exactly and reduced by the
    * bounded top-k aggregate. Complements LSH: the index adapts to the
    * data distribution (clustered corpora get balanced lists where fixed
    * hyperplanes do not). Candidate volume per query ~ nprobe/nlist of the
    * corpus; size nlist ~ sqrt(n) at scale and raise nprobe for recall. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4, trainIters: Int = 5): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      trainIvfCentroids(corpus, idCol, vecCol, nlist, trainIters), nprobe)

  /** IVF search against a PRE-TRAINED coarse quantizer — at corpus scale
    * the index is trained once (hours of k-means over billions of
    * vectors), persisted ([[saveIvfCentroids]]/[[loadIvfCentroids]]), and
    * reused by every query batch; re-training per call would dominate
    * query cost and silently shift bucket boundaries between runs.
    *
    * This variant still ASSIGNS the corpus per call (one map-local pass).
    * A static corpus serving many query batches should also persist the
    * inverted lists: write [[assignIvf]]'s output once (ideally
    * partitioned/bucketed by `cid`) and search it with
    * [[ivfTopKAssigned]] — then per-batch work is proportional to the
    * probed lists, not the corpus. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  centroids: Array[Array[Double]], nprobe: Int = 4): DataFrame =
    ivfTopKAssigned(assignIvf(corpus, idCol, vecCol, centroids),
      queries, idCol, vecCol, k, centroids, nprobe)

  /** The inverted-list assignment: (cid, id, vec), one map-local pass
    * with closure-shipped centroids. Persist this (partitioned by `cid`)
    * to make the IVF index fully materialized. Empty centroids (an empty
    * training corpus) yield an empty frame. */
  def assignIvf(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cs = centroids
    if (cs.isEmpty)
      cleanVectors(corpus, idCol, vecCol).limit(0)
        .select(lit(0).as("cid"), col("id"), col("vec"))
    else
      cleanVectors(corpus, idCol, vecCol).as[(Long, Seq[Double])]
        .mapPartitions(it => it.map { case (id, v) => (nearestCentroid(v, cs), id, v) })
        .toDF("cid", "id", "vec")
  }

  /** Search a pre-assigned inverted-list frame (the [[assignIvf]]
    * schema). With `assigned` read from storage partitioned by `cid`,
    * the probe join prunes to the probed lists. */
  def ivfTopKAssigned(assigned: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      centroids: Array[Array[Double]], nprobe: Int = 4): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cs = centroids

    val probes = cleanVectors(queries, idCol, vecCol)
      .withColumnRenamed("id", "query_id").as[(Long, Seq[Double])]
      .flatMap { case (qid, v) => probeLists(v, cs, nprobe).map(c => (c, qid, v)) }
      .toDF("cid", "query_id", "query_vec")

    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosine(col("vec"), col("query_vec")).as("cos"))
    explodeTopK(
      scored.groupBy(col("query_id")).agg(topKByScore(col("cos"), col("id"), k).as("top")))
  }

  /** Persist a trained quantizer as one snapshot batch of (centroid_id,
    * centroid) rows through the same crash-safe table contract every
    * other artifact uses (TableIO manifest commits; read with the
    * matching loader). The default batch id is a CONTENT hash of the
    * centroid matrix: re-saving the identical quantizer is an idempotent
    * no-op (commit skips committed ids), while a RETRAINED quantizer gets
    * a fresh id and becomes the new `readLatest` snapshot — a fixed name
    * here would make every retrain a silent no-op serving stale
    * centroids forever. */
  def saveIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       centroids: Array[Array[Double]], tableRoot: String,
                       batchId: String = null): Unit = {
    import spark.implicits._
    val id =
      if (batchId != null) batchId
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val bb = java.nio.ByteBuffer.allocate(8)
        // each row's LENGTH feeds the digest before its values: without
        // the shape delimiter, [[1,2],[3,4]] and [[1,2,3,4]] flatten to
        // the same byte stream and a retrain could silently no-op
        centroids.foreach { row =>
          bb.clear(); bb.putLong(row.length.toLong); md.update(bb.array())
          row.foreach { v => bb.clear(); bb.putDouble(v); md.update(bb.array()) }
        }
        "ivf-" + graft.pdf.Crypto.hex(md.digest()).take(16)
      }
    new graft.sources.ParquetManifestTable(tableRoot).commit(
      centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("centroid_id", "centroid"),
      id)
  }

  /** Load the newest persisted quantizer (centroid_id order restored). */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       tableRoot: String): Array[Array[Double]] =
    new graft.sources.ParquetManifestTable(tableRoot).readLatest(spark)
      .orderBy("centroid_id")
      .collect().map(_.getSeq[Double](1).toArray)

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
    * the EXPECTED bucket; `maxBlock` (Dedup.splitBlocks, ON by default)
    * additionally bounds the worst one — a dense embedding cluster (or a
    * zero-vector pileup) lands in one bucket regardless of nBits — by
    * degrading it to LINEAR star candidates against the bucket's min id
    * (cosine-verified like every other candidate, components close the
    * cluster transitively). `materialize` checkpoints the compact
    * (id, table, bucket) triples so the hyperplane signatures are computed
    * once, not once per plan consumer. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            minCos: Double = 0.95,
                            nBits: Int = 16, nTables: Int = 4,
                            maxBlock: Long = Dedup.DefaultMaxBlock,
                            materialize: Boolean = true,
                            reliableCheckpoint: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val buckets0 = base.select(col("id"),
      posexplode(signatures(col("vec"), nBits, nTables)).as(Seq("table_idx", "bucket")))
    val buckets =
      if (materialize) Dedup.checkpointDf(buckets0, reliableCheckpoint) else buckets0
    val keys = Seq("table_idx", "bucket")
    def selfJoinPairs(rows: DataFrame): DataFrame = {
      val a = rows.select(col("table_idx"), col("bucket"), col("id").as("id_a"))
      val b = rows.select(col("table_idx"), col("bucket"), col("id").as("id_b"))
      a.join(b, keys).where(col("id_a") < col("id_b")).select(col("id_a"), col("id_b"))
    }
    val cand = (
      if (maxBlock <= 0) selfJoinPairs(buckets)
      else {
        val (under, starred) =
          Dedup.splitBlocks(buckets, keys, maxBlock, "embedding_lsh_blocks", Seq("id"))
        selfJoinPairs(under).unionByName(
          starred.select(least(col("rep_id"), col("id")).as("id_a"),
            greatest(col("rep_id"), col("id")).as("id_b")))
      }).dropDuplicates("id_a", "id_b")
    cand
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cos"))
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
