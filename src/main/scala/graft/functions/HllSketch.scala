package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog registers at precision p: m = 2^p byte registers, each the
  * max leading-zero rank seen in its substream (Flajolet, Fusy, Gandouet,
  * Meunier: "HyperLogLog: the analysis of a near-optimal cardinality
  * estimation algorithm", AofA 2007).
  *
  * Mergeable by byte-wise max — commutative, associative, idempotent — so
  * the estimate is IDENTICAL under any partitioning or merge order (unlike
  * misra_gries, whose membership set is order-dependent), and re-inserting
  * a duplicate is a no-op by construction. The memory bound is m bytes per
  * group regardless of cardinality: the corpus-stats primitive for
  * "distinct urls/tokens/domains per group" at scales where an exact
  * count's (group, value) shuffle is the dominant cost. */
final class HllBuffer(val p: Int) extends Sketch {
  val m: Int = 1 << p
  val regs = new Array[Byte](m)

  /** A string item, hashed with xxhash64 over its UTF-8 bytes (the sketch
    * kernels' seed, so deterministic across JVMs and runs). */
  def insert(row: Array[Any]): Unit = {
    val s = row(0).asInstanceOf[UTF8String]
    insert(XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L))
  }

  def insert(hash: Long): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    // rank = leading zeros of the remaining bits + 1; w == 0 -> all
    // (64 - p) bits zero -> max rank
    val rank = (if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
  }

  def merge(other: Sketch): Unit = mergeFrom(other.asInstanceOf[HllBuffer])

  def mergeFrom(other: HllBuffer): Unit = {
    var i = 0
    while (i < m) {
      if (other.regs(i) > regs(i)) regs(i) = other.regs(i)
      i += 1
    }
  }

  /** Standard HLL estimator with the small-range linear-counting
    * correction; the 64-bit hash space makes the classic large-range
    * correction irrelevant at any realistic cardinality. */
  def estimate(): Long = {
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Double.longBitsToDouble((1023L - regs(i)) << 52) // 2^-reg
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * m.toDouble * m.toDouble / sum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else e
    math.round(corrected)
  }

  def result: Any = estimate()
  def bytes: Array[Byte] = regs.clone()
}

/** `hll_distinct(item, p)` ([[Natives.hllDistinct]]) returns the
  * approximate distinct count (bigint) of the string column at precision p
  * (4 <= p <= 18; m = 2^p one-byte registers per group; standard error
  * ~= 1.04 / sqrt(m), ~1.6% at p = 12). Estimates are partitioning- and
  * merge-order-INDEPENDENT (register max is commutative), so repeated runs
  * agree exactly — approximate vs the truth, deterministic vs itself. */
object HllBuffer {
  def fromBytes(p: Int, bytes: Array[Byte]): HllBuffer = {
    val buf = new HllBuffer(p)
    System.arraycopy(bytes, 0, buf.regs, 0, buf.m)
    buf
  }
}
