package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k as a native Catalyst aggregate:
  * `topk_agg(score DOUBLE, id BIGINT, k)` keeps the k largest
  * (score DESC, id ASC tie-break) entries in a k-bounded heap and returns
  * them best-first as `array<struct<score double, id bigint>>`.
  *
  * This is the scale shape for "top-k per group" over a huge corpus: the
  * aggregation buffer is O(k) regardless of group size, partial (map-side)
  * aggregation applies, and the shuffle carries at most k entries per
  * partition per group. The window-function formulation
  * (`row_number().over(partitionBy(query).orderBy(score))`) shuffles the
  * ENTIRE corpus to the query's partition first — with a single query key
  * that is every row on one task, which is exactly the "No Partition
  * Defined for Window" degeneration Spark warns about.
  */
case class TopKAgg(
    first: Expression,
    second: Expression,
    third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]]
  with TernaryLike[Expression] {

  private lazy val k: Int = third.eval().asInstanceOf[Number].intValue()

  /** Heap ordering: the head is the WORST kept entry (lowest score; among
    * equal scores, highest id), so a bounded insert is compare-with-head.
    */
  private val worstAtHead: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(x: (Double, Long), y: (Double, Long)): Int = {
      val c = java.lang.Double.compare(y._1, x._1)
      if (c != 0) c else java.lang.Long.compare(x._2, y._2)
    }
  }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](worstAtHead)

  private def insert(buf: mutable.PriorityQueue[(Double, Long)],
      e: (Double, Long)): Unit = {
    if (buf.size < k) buf.enqueue(e)
    else if (worstAtHead.compare(e, buf.head) < 0) { buf.dequeue(); buf.enqueue(e) }
  }

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = first.eval(input)
    val i = second.eval(input)
    if (s != null && i != null)
      insert(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(b1: mutable.PriorityQueue[(Double, Long)],
      b2: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b2.foreach(insert(b1, _))
    b1
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    // Under worstAtHead, "least" = highest score (lowest id on ties), so
    // the natural ascending sort is already best-first.
    val sorted = buf.toArray.sorted(worstAtHead)
    new GenericArrayData(sorted.map { case (s, i) => InternalRow(s, i) })
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var j = 0
    while (j < n) { buf.enqueue((bb.getDouble, bb.getLong)); j += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKAgg =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "topk_agg"
}
