package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature as a native Catalyst aggregate (SURVEY
  * §4.3-2's optional path — the only custom-Catalyst piece in the
  * library). It aggregates exploded shingles into a constant
  * numPerm-long buffer with map-side partial aggregation. Measured
  * honestly: for ordinary documents the codegen'd HOF form
  * ([[graft.ops.Dedup.minhashSignature]]) is ~8x faster — this
  * aggregate is the memory-bounded path for pathologically long
  * documents only (see Dedup.minhashSignaturesAgg scaladoc).
  *
  * Bit-for-bit parity with the HOF form ([[graft.ops.Dedup.minhashSignature]])
  * is guaranteed by reusing XxHash64Function with the same seed chain as
  * its `xxhash64(xxhash64(s), i)` derivation: base = xxh64(s, 42), then
  * h_i = xxh64(int i, seed = xxh64(long base, 42)) — the string is hashed
  * once, permutations derive from the fixed-width base.
  *
  * Usage (as [[graft.ops.Dedup.minhashSignaturesAgg]] builds it):
  * {{{ explodedShingles.groupBy("doc_id")
  *       .agg(ExprBridge.aggColumn(MinHashAgg(expr(shingle), Literal(32)))) }}}
  */
case class MinHashAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  private lazy val numPerm: Int = right.eval().asInstanceOf[Number].intValue()

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numPerm)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = left.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      val base = XxHash64Function.hash(s, StringType, 42L)
      val seed = XxHash64Function.hash(base, LongType, 42L)
      var i = 1
      while (i <= numPerm) {
        val h = XxHash64Function.hash(i, IntegerType, seed)
        if (h < buf(i - 1)) buf(i - 1) = h
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashAgg =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "minhash_agg"
}
