package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Deterministic multi-level quantile summary (the Manku-Rajagopalan-
  * Lindsay compactor scheme, the ancestor of KLL): level i holds sorted
  * runs whose elements each represent 2^i input values; a full level
  * sorts, keeps alternate elements (offset flips per compaction so
  * neither parity is systematically favored), and promotes them upward.
  *
  * Memory is O(k log(n/k)) longs per group regardless of the VALUE
  * space — the partner to `Stats.exactQuantiles`, whose distinct-value
  * cap raise_errors on near-continuous columns and points here: the
  * sketch never cares how many distinct values exist. Rank error is
  * bounded by the number of compactions each survivor absorbed
  * (~ n log(n/k) / k in the worst case; empirically well under 1/k for
  * k >= 128 — QuantileSketchSpec pins it at three partitionings).
  * Mergeable: levels concatenate weight-for-weight and over-full levels
  * compact — summaries cross the exchange, never values. Deterministic
  * given an insertion order; results may differ ACROSS partitionings
  * (within the bound) — unlike hll_distinct's order-invariant registers,
  * which is why exact rank selection stays `exactQuantiles`' job. */
final class QuantileBuffer(val k: Int, probe: Option[Long] = None) extends Sketch {
  var n: Long = 0L
  // levels(i): sorted Array[Long], each element weighing 2^i; level 0's
  // tail [level0Len, k) is the unsorted insert accumulator
  var levels: Array[Array[Long]] = Array(new Array[Long](k))
  var level0Len: Int = 0
  private var flip: Boolean = false

  def insert(v: Long): Unit = {
    n += 1
    levels(0)(level0Len) = v
    level0Len += 1
    if (level0Len == k) {
      java.util.Arrays.sort(levels(0), 0, k)
      promote(java.util.Arrays.copyOf(levels(0), k), 1)
      level0Len = 0
    }
  }

  /** Keep alternate elements of a sorted run (parity flips per call). */
  private def compactRun(sorted: Array[Long]): Array[Long] = {
    val off = if (flip) 1 else 0
    flip = !flip
    val out = new Array[Long]((sorted.length - off + 1) / 2)
    var i = 0
    while (i < out.length) { out(i) = sorted(off + 2 * i); i += 1 }
    out
  }

  /** Merge a sorted run into `level` (weight 2^level), compacting upward
    * while a level exceeds k elements. */
  private def promote(run: Array[Long], level: Int): Unit = {
    if (level >= levels.length)
      levels = levels ++ Array.fill(level - levels.length + 1)(Array.emptyLongArray)
    val merged = mergeSorted(levels(level), run)
    if (merged.length <= k) levels(level) = merged
    else {
      levels(level) = Array.emptyLongArray
      promote(compactRun(merged), level + 1)
    }
  }

  private def mergeSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var o = 0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { out(o) = a(i); i += 1 } else { out(o) = b(j); j += 1 }
      o += 1
    }
    while (i < a.length) { out(o) = a(i); i += 1; o += 1 }
    while (j < b.length) { out(o) = b(j); j += 1; o += 1 }
    out
  }

  def insert(row: Array[Any]): Unit = insert(row(0) match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
  })

  def merge(other: Sketch): Unit = mergeFrom(other.asInstanceOf[QuantileBuffer])

  def mergeFrom(other: QuantileBuffer): Unit = {
    n += other.n
    var i = 0
    while (i < other.level0Len) {
      // re-inserting the other's accumulator keeps level-0 semantics exact
      n -= 1 // insert() re-counts it
      insert(other.levels(0)(i))
      i += 1
    }
    var lvl = 1
    while (lvl < other.levels.length) {
      if (other.levels(lvl).nonEmpty) promote(other.levels(lvl), lvl)
      lvl += 1
    }
  }

  /** All surviving (value, weight) pairs sorted by value, plus the total
    * surviving weight — the shared base of the two query directions
    * ([[quantiles]]: rank -> value; [[rank]]: value -> rank). */
  private def survivors(): (Array[Long], Array[Long], Long) = {
    var m = level0Len
    var lvl = 1
    while (lvl < levels.length) { m += levels(lvl).length; lvl += 1 }
    val vals = new Array[Long](m)
    val wts = new Array[Long](m)
    var o = 0
    var i = 0
    while (i < level0Len) { vals(o) = levels(0)(i); wts(o) = 1L; o += 1; i += 1 }
    lvl = 1
    while (lvl < levels.length) {
      val run = levels(lvl)
      i = 0
      while (i < run.length) { vals(o) = run(i); wts(o) = 1L << lvl; o += 1; i += 1 }
      lvl += 1
    }
    // sort survivors by value, carrying weights
    val idx = (0 until m).sortBy(vals)
    (idx.map(vals).toArray, idx.map(wts).toArray, wts.sum)
  }

  /** Estimated rank of a probe value: the count of inputs <= x, rescaled
    * from surviving weight mass to n — the INVERSE query of [[quantiles]]
    * (value -> rank instead of rank -> value), same error bound, same
    * summary. rank(x) in [0, n]; 0 when x precedes every input, n when it
    * follows all of them. */
  def rank(x: Long): Long = {
    if (n == 0) return 0L
    val (sortedV, sortedW, totalW) = survivors()
    var cum = 0L
    var j = 0
    while (j < sortedV.length && sortedV(j) <= x) { cum += sortedW(j); j += 1 }
    if (totalW == 0L) 0L else math.round(cum.toDouble / totalW * n)
  }

  /** Lower-rank selection over the weighted survivors: smallest value
    * whose cumulative weight reaches ceil(p * n). */
  def quantiles(ps: Seq[Double]): Array[Long] = {
    if (n == 0) return Array.fill(ps.length)(0L)
    val (sortedV, sortedW, totalW) = survivors()
    val m = sortedV.length
    ps.map { p =>
      // ranks scale to the SURVIVOR weight mass (compaction drops mass in
      // level-0 remainders only through promote; totalW == n except for
      // rounding in compactRun, so scale by totalW for consistency)
      val target = math.max(1L, math.ceil(p * totalW).toLong)
      var cum = 0L
      var j = 0
      var res = sortedV(m - 1)
      var found = false
      while (!found && j < m) {
        cum += sortedW(j)
        if (cum >= target) { res = sortedV(j); found = true }
        j += 1
      }
      res
    }.toArray
  }

  /** struct(n, p50, p90, p99) — or, with a `probe`, struct(n, r_<probe>). */
  def result: Any = new GenericInternalRow(Array[Any](n) ++
    probe.fold(quantiles(QuantileBuffer.Ps).map(v => v: Any))(x => Array[Any](rank(x))))

  def bytes: Array[Byte] = {
    var size = 8 + 4 + 4 // n, level0Len, nLevels
    var lvl = 1
    while (lvl < levels.length) { size += 4 + 8 * levels(lvl).length; lvl += 1 }
    size += 8 * level0Len
    val bb = ByteBuffer.allocate(size)
    bb.putLong(n)
    bb.putInt(level0Len)
    var i = 0
    while (i < level0Len) { bb.putLong(levels(0)(i)); i += 1 }
    bb.putInt(levels.length - 1)
    lvl = 1
    while (lvl < levels.length) {
      bb.putInt(levels(lvl).length)
      levels(lvl).foreach(bb.putLong)
      lvl += 1
    }
    bb.array()
  }
}

/** `approx_quantiles(v, k)` ([[Natives.approxQuantiles]]) returns
  * struct<n:bigint, p50:bigint, p90:bigint, p99:bigint>; the inverse query
  * `approx_ranks(v, k, probe)` ([[Natives.approxRanks]]) returns
  * struct<n:bigint, r_<probe>:bigint>, the estimated count of inputs <=
  * probe (a CDF point scaled to counts) from the same summary — the
  * question a threshold chooser asks ("how many documents fall below this
  * score?") without a second exact pass. Both take an integral column. */
object QuantileBuffer {
  val Ps: Seq[Double] = Seq(0.5, 0.9, 0.99)

  val QuantilesType: DataType = StructType(StructField("n", LongType, nullable = false) +:
    Ps.map(p => StructField(QuantileNames.pName(p), LongType, nullable = false)))

  def ranksType(probe: Long): DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField(QuantileNames.rName(probe), LongType, nullable = false)))

  def fromBytes(k: Int, probe: Option[Long], bytes: Array[Byte]): QuantileBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new QuantileBuffer(k, probe)
    buf.n = bb.getLong
    buf.level0Len = bb.getInt
    var i = 0
    while (i < buf.level0Len) { buf.levels(0)(i) = bb.getLong; i += 1 }
    val nUpper = bb.getInt
    if (nUpper > 0) buf.levels = buf.levels ++ new Array[Array[Long]](nUpper)
    var lvl = 1
    while (lvl <= nUpper) {
      val len = bb.getInt
      val run = new Array[Long](len)
      var j = 0
      while (j < len) { run(j) = bb.getLong; j += 1 }
      buf.levels(lvl) = run
      lvl += 1
    }
    buf
  }
}

/** Quantile-name formatting shared with Stats.exactQuantiles so the two
  * operators emit matching column names for the same p: percent names for
  * round percents, basis-point names otherwise (p50 vs p50bp must not
  * collide; tolerance not equality — 0.29 * 100 is 28.999... in doubles
  * and must still name p29). */
object QuantileNames {
  def pName(p: Double): String = {
    val b = (p * 100).round
    if (math.abs(b.toDouble - p * 100) < 1e-9) s"p$b" else s"p${(p * 10000).round}bp"
  }

  /** Column name for a rank probe: `r_<value>` with '-' spelled 'm'
    * (column names cannot carry a bare minus through every SQL surface). */
  def rName(v: Long): String = s"r_$v".replace("-", "m")
}
