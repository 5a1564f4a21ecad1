package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DSIR hashed-n-gram bucket ids as one native scalar expression:
  * `dsir_buckets(text, buckets)` returns, for every unigram and every
  * adjacent bigram of `split(text, " ")` (limit -1 — empties kept, so
  * an empty text contributes its single empty-string unigram), the
  * bucket id — bit-for-bit the HOF chain
  *
  * {{{
  *   conv(substring(md5(g), 1, 8), 16, 10) % buckets
  *   over g ∈ explode(concat(t, transform(sequence(1, size(t)-1),
  *     i => concat(element_at(t, i), " ", element_at(t, i+1)))))
  * }}}
  *
  * that [[graft.ops.Dsir.gramBuckets]] evaluated through an interpreted
  * `transform` lambda (a three-way concat allocation per bigram) plus a
  * 32-char hex string + substring + string base-conversion per gram.
  * One compiled loop per row: each gram is md5'd once and its FIRST
  * FOUR DIGEST BYTES are read directly as the unsigned 32-bit value the
  * hex-substring parse produced — same number, no hex string, no parse.
  * Unigrams come first, then bigrams, exactly like the HOF's
  * `concat(t, bigrams)` (callers aggregate, so order is inert anyway).
  * A null text or bucket count → null. Whole-stage codegen preserved via the static-call
  * doGenCode (the [[MinHashSig]] pattern). DsirSpec pins parity with
  * the HOF chain.
  */
case class DsirBuckets(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)

  override protected def nullSafeEval(text: Any, bAny: Any): Any =
    DsirBuckets.compute(text.asInstanceOf[UTF8String],
      bAny.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, b) =>
      s"${ev.value} = graft.functions.DsirBuckets.compute($t, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DsirBuckets =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dsir_buckets"
}

object DsirBuckets {
  /** Register as a SQL-callable function: `dsir_buckets(text, buckets)`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dsir_buckets",
      exprs => DsirBuckets(exprs.head, exprs(1)),
      "scala_udf")

  /** The whole per-row computation, callable from generated code.
    *
    * Works directly on the UTF-8 bytes: word boundaries are the 0x20
    * bytes (a single-space split — multi-byte UTF-8 sequences never
    * contain 0x20, so the byte scan is the regex split), each unigram
    * digests its byte range, and each bigram digests the CONTIGUOUS
    * range from its first word's start to its second word's end —
    * adjacent split words are always separated by exactly one space in
    * the original bytes, so "w1 w2" never needs to be materialized.
    * Zero string decode/encode per gram.
    */
  def compute(text: UTF8String, buckets: Int): ArrayData = {
    val bytes = text.getBytes
    var nWords = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') nWords += 1
      i += 1
    }
    val starts = new Array[Int](nWords)
    val ends = new Array[Int](nWords)
    var w = 0
    var s = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        starts(w) = s; ends(w) = i; w += 1; s = i + 1
      }
      i += 1
    }
    val nGrams = nWords + (if (nWords >= 2) nWords - 1 else 0)
    val out = new Array[Long](nGrams)
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = new Array[Byte](16)
    // first 8 hex chars of md5 read as an unsigned 32-bit value — the
    // first four digest bytes big-endian, the identical number
    // `conv(substring(md5(g), 1, 8), 16, 10)` parses
    def bucketOf(off: Int, len: Int): Long = {
      md.reset()
      md.update(bytes, off, len)
      md.digest(dig, 0, 16)
      val v = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      v % buckets
    }
    i = 0
    while (i < nWords) {
      out(i) = bucketOf(starts(i), ends(i) - starts(i))
      i += 1
    }
    if (nWords >= 2) {
      i = 0
      while (i < nWords - 1) {
        out(nWords + i) = bucketOf(starts(i), ends(i + 1) - starts(i))
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}
