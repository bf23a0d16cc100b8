package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
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
  * (within the bound) — unlike HllDistinct's order-invariant registers,
  * which is why exact rank selection stays `exactQuantiles`' job. */
final class QuantileBuffer(val k: Int) {
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
    * ([[quantiles]]: rank -> value; [[ranks]]: value -> rank). */
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

  /** Estimated rank of each probe value: the count of inputs <= probe,
    * rescaled from surviving weight mass to n — the INVERSE query of
    * [[quantiles]] (value -> rank instead of rank -> value), same error
    * bound, same summary. rank(x) in [0, n]; 0 when x precedes every
    * input, n when it follows all of them. */
  def ranks(probes: Seq[Long]): Array[Long] = {
    if (n == 0) return Array.fill(probes.length)(0L)
    val (sortedV, sortedW, totalW) = survivors()
    val m = sortedV.length
    probes.map { x =>
      // binary search for the first value > x, then the cumulative weight
      // below it (prefix sums are m-small — computed once per probe set
      // would also work, but m <= k log(n/k) keeps the scan trivial)
      var cum = 0L
      var j = 0
      while (j < m && sortedV(j) <= x) { cum += sortedW(j); j += 1 }
      if (totalW == 0L) 0L else math.round(cum.toDouble / totalW * n)
    }.toArray
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
}

/** The buffer plumbing (typing, create/update/merge, byte round-trip)
  * shared by the two query directions over the same sketch —
  * [[ApproxQuantiles]] (rank -> value) and [[ApproxRanks]] (value ->
  * rank). */
trait QuantileSketchAggregate
  extends TypedImperativeAggregate[QuantileBuffer] with UnaryLike[Expression] {
  def k: Int

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType || child.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an integral column, got ${child.dataType.sql}")

  override def nullable: Boolean = false
  override def createAggregationBuffer(): QuantileBuffer = new QuantileBuffer(k)

  override def update(buffer: QuantileBuffer, input: InternalRow): QuantileBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
    })
    buffer
  }

  override def merge(buffer: QuantileBuffer, other: QuantileBuffer): QuantileBuffer = {
    buffer.mergeFrom(other)
    buffer
  }

  override def serialize(buffer: QuantileBuffer): Array[Byte] = {
    var bytes = 8 + 4 + 4 // n, level0Len, nLevels
    var lvl = 1
    while (lvl < buffer.levels.length) { bytes += 4 + 8 * buffer.levels(lvl).length; lvl += 1 }
    bytes += 8 * buffer.level0Len
    val bb = ByteBuffer.allocate(bytes)
    bb.putLong(buffer.n)
    bb.putInt(buffer.level0Len)
    var i = 0
    while (i < buffer.level0Len) { bb.putLong(buffer.levels(0)(i)); i += 1 }
    bb.putInt(buffer.levels.length - 1)
    lvl = 1
    while (lvl < buffer.levels.length) {
      bb.putInt(buffer.levels(lvl).length)
      buffer.levels(lvl).foreach(bb.putLong)
      lvl += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): QuantileBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new QuantileBuffer(k)
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

/** Aggregate form: `approx_quantiles(v, k)` returns
  * struct<n:bigint, p50:bigint, p90:bigint, p99:bigint> (the Scala API
  * takes arbitrary ps). Input casts to long like exactQuantiles. */
case class ApproxQuantiles(child: Expression, k: Int,
                           ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
                           mutableAggBufferOffset: Int = 0,
                           inputAggBufferOffset: Int = 0)
  extends QuantileSketchAggregate {

  require(k >= 8 && k <= (1 << 20), s"approx_quantiles requires 8 <= k <= 2^20, got $k")
  require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
    s"quantiles must lie in (0, 1], got $ps")

  override def dataType: DataType = StructType(
    StructField("n", LongType, nullable = false) +:
      ps.map(p => StructField(QuantileNames.pName(p), LongType, nullable = false)))

  override def eval(buffer: QuantileBuffer): Any =
    new GenericInternalRow((buffer.n +: buffer.quantiles(ps).toSeq).toArray[Any])

  override def withNewMutableAggBufferOffset(newOffset: Int): ApproxQuantiles =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApproxQuantiles =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ApproxQuantiles =
    copy(child = newChild)
  override def prettyName: String = "approx_quantiles"
}

/** The inverse query: `approx_ranks(v, k, probe)` estimates, for each
  * probe value, HOW MANY inputs are <= it (a CDF point scaled to counts)
  * from the same mergeable summary `approx_quantiles` maintains — the
  * question a threshold chooser asks ("how many documents fall below
  * this score?") without a second exact pass. Same rank-error bound,
  * same O(k log(n/k)) bytes per group. */
case class ApproxRanks(child: Expression, k: Int,
                       probes: Seq[Long],
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends QuantileSketchAggregate {

  require(k >= 8 && k <= (1 << 20), s"approx_ranks requires 8 <= k <= 2^20, got $k")
  require(probes.nonEmpty, "approx_ranks requires at least one probe value")
  require(probes == probes.sorted && probes.distinct == probes,
    s"probes must be strictly increasing, got $probes")

  override def dataType: DataType = StructType(
    StructField("n", LongType, nullable = false) +:
      probes.map(v => StructField(QuantileNames.rName(v), LongType, nullable = false)))

  override def eval(buffer: QuantileBuffer): Any =
    new GenericInternalRow((buffer.n +: buffer.ranks(probes).toSeq).toArray[Any])

  override def withNewMutableAggBufferOffset(newOffset: Int): ApproxRanks =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApproxRanks =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ApproxRanks =
    copy(child = newChild)
  override def prettyName: String = "approx_ranks"
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
