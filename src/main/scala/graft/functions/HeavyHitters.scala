package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import graft.operators.ExtractPipeline
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items summary with capacity k.
  *
  * Guarantees (Misra & Gries 1982; merge per Agarwal et al., "Mergeable
  * Summaries", PODS 2012): after summarizing n items — through any
  * sequence of inserts and merges — every item with true frequency
  * > n/(k+1) is PRESENT in the summary, and each stored count
  * undercounts its true frequency by at most n/(k+1).
  *
  * The summary is a SUPERSET bound, not an exact answer: the membership
  * set depends on partition/merge order. Exact uses must re-count the
  * candidates (see `TextAnalysis.heavyHitterTokens`), which is what makes
  * the end result deterministic and oracle-checkable.
  */
final class MgBuffer(val k: Int) extends Sketch {
  val counts = new java.util.HashMap[String, Long]()
  var n: Long = 0L // total items summarized (rides the buffer so callers get it for free)

  def insert(row: Array[Any]): Unit = insert(row(0).toString)

  def insert(item: String): Unit = {
    n += 1
    val cur = counts.getOrDefault(item, 0L)
    if (cur > 0L) counts.put(item, cur + 1)
    else if (counts.size < k) counts.put(item, 1L)
    else decrementAll(1L)
  }

  /** Subtract d from every counter, dropping non-positive entries —
    * the O(size) cost is amortized O(1) per insert (every decrement is
    * paid for by a prior increment). */
  private def decrementAll(d: Long): Unit = {
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue - d
      if (v <= 0L) it.remove() else e.setValue(v)
    }
  }

  /** Mergeable-summaries combine: add counts keywise; if over capacity,
    * subtract the (k+1)-th largest count from everything (keeps <= k
    * entries, preserves the n/(k+1) error bound). */
  def mergeFrom(other: MgBuffer): Unit = {
    n += other.n
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      counts.put(e.getKey, counts.getOrDefault(e.getKey, 0L) + e.getValue)
    }
    if (counts.size > k) {
      val vals = new Array[Long](counts.size)
      val vit = counts.values().iterator()
      var i = 0
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      decrementAll(vals(vals.length - k - 1)) // (k+1)-th largest
    }
  }

  def merge(other: Sketch): Unit = mergeFrom(other.asInstanceOf[MgBuffer])

  /** struct(n, items): the items sorted by (count_lb desc, item asc), items
    * in code-point order (Spark's string order). */
  def result: Any = {
    val entries = new Array[(String, Long)](counts.size)
    val it = counts.entrySet().iterator()
    var i = 0
    while (it.hasNext) { val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1 }
    val sorted = entries.sortWith((a, b) =>
      if (a._2 != b._2) a._2 > b._2 else ExtractPipeline.codePointCompare(a._1, b._1) < 0)
    new GenericInternalRow(Array[Any](n, new GenericArrayData(sorted.map[Any] { case (item, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(item), c))
    })))
  }

  def bytes: Array[Byte] = {
    var size = 12 // n + size
    val it0 = counts.keySet().iterator()
    while (it0.hasNext) size += 12 + it0.next().getBytes(StandardCharsets.UTF_8).length
    val bb = ByteBuffer.allocate(size)
    bb.putLong(n)
    bb.putInt(counts.size)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val b = e.getKey.getBytes(StandardCharsets.UTF_8)
      bb.putInt(b.length)
      bb.put(b)
      bb.putLong(e.getValue)
    }
    bb.array()
  }
}

/** `misra_gries(item, k)` ([[Natives.misraGries]]) returns
  * struct<n:bigint, items:array<struct<item:string, count_lb:bigint>>>
  * — n is the exact total item count, items the frequency summary. */
object MgBuffer {
  val ResultType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("count_lb", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  def fromBytes(k: Int, bytes: Array[Byte]): MgBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MgBuffer(k)
    buf.n = bb.getLong
    val size = bb.getInt
    var i = 0
    while (i < size) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      buf.counts.put(new String(b, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    buf
  }
}
