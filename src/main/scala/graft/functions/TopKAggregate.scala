package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
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
final class TopKBuffer(val k: Int) {
  private val ord: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1) // score desc
      if (c != 0) c else java.lang.Long.compare(a._2, b._2) // id asc
    }
  }
  val set: java.util.TreeSet[(Double, Long)] = new java.util.TreeSet(ord)

  def insert(score: Double, id: Long): Unit = {
    set.add((score, id))
    if (set.size > k) set.pollLast()
  }
}

/** Per-group top-k by score with deterministic tie-break — the scale-safe
  * replacement for `row_number().over(Window.partitionBy(q))`: the window
  * shuffles every scored row to the per-group sort, while this aggregate
  * keeps k rows per group per partition map-side, so only groups x k x
  * partitions rows cross the exchange.
  *
  * Returns array<struct<id:bigint, score:double>> sorted by
  * (score desc, id asc), truncated to k.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression] {

  require(k > 0, s"topk requires k > 0, got $k")

  override def left: Expression = score
  override def right: Expression = id

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"topk_by_score requires (double score, bigint id), got (${score.dataType.sql}, ${id.dataType.sql})")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    val it = other.set.iterator()
    while (it.hasNext) { val e = it.next(); buffer.insert(e._1, e._2) }
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val out = new Array[Any](buffer.set.size)
    val it = buffer.set.iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new GenericInternalRow(Array[Any](e._2, e._1))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.set.size * 16)
    bb.putInt(buffer.set.size)
    val it = buffer.set.iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putDouble(e._1)
      bb.putLong(e._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): TopKByScore =
    copy(score = newLeft, id = newRight)
  override def prettyName: String = "topk_by_score"
}

object TopKFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** agg handle: array<struct<id,score>> of the k best (score desc, id asc).
    * Inputs are cast up front so any numeric score / integral id column
    * works (the expression itself requires exactly double + bigint). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKByScore(ColumnBridge.expression(score.cast("double")),
        ColumnBridge.expression(id.cast("long")), k)
        .toAggregateExpression())
}
