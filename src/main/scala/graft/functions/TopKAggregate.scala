package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: at most k (score, id) entries ordered by
  * (score desc, id asc). A sorted set — exact duplicate (score, id) entries
  * collapse, which is what the LSH candidate union needs (the same neighbor
  * found in several hash tables carries the identical exact score).
  *
  * Total ordering via Double.compare: deterministic for -0.0/NaN, so the
  * aggregate result is independent of partitioning and merge order.
  */
final class TopKBuffer(val k: Int) extends Sketch {
  private val ord: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1) // score desc
      if (c != 0) c else java.lang.Long.compare(a._2, b._2) // id asc
    }
  }
  val set: java.util.TreeSet[(Double, Long)] = new java.util.TreeSet(ord)

  def insert(row: Array[Any]): Unit = insert(row(0).asInstanceOf[Double], row(1).asInstanceOf[Long])

  def insert(score: Double, id: Long): Unit = {
    set.add((score, id))
    if (set.size > k) set.pollLast()
  }

  def merge(other: Sketch): Unit = {
    val it = other.asInstanceOf[TopKBuffer].set.iterator()
    while (it.hasNext) { val e = it.next(); insert(e._1, e._2) }
  }

  def result: Any = {
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new GenericInternalRow(Array[Any](e._2, e._1))
      i += 1
    }
    new GenericArrayData(out)
  }

  def bytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + set.size * 16)
    bb.putInt(set.size)
    val it = set.iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putDouble(e._1)
      bb.putLong(e._2)
    }
    bb.array()
  }
}

/** Per-group top-k by score with deterministic tie-break — the scale-safe
  * replacement for `row_number().over(Window.partitionBy(q))`: the window
  * shuffles every scored row to the per-group sort, while this aggregate
  * ([[Natives.topKByScore]], `topk_by_score(score, id, k)`) keeps k rows
  * per group per partition map-side, so only groups x k x partitions rows
  * cross the exchange.
  *
  * Returns array<struct<id:bigint, score:double>> sorted by
  * (score desc, id asc), truncated to k.
  */
object TopKBuffer {
  val ResultType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  def fromBytes(k: Int, bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }
}
