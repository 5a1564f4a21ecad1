package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram md5 digests as a single native scalar expression:
  * `ngram_md5(text, n, hexLen)` returns, for each sliding n-word window
  * of `split(text, " ")` (limit -1 — empties kept, exactly Spark's
  * `split`), the first `hexLen` lowercase-hex chars of
  * `md5(array_join(window, " "))` — bit-for-bit the HOF form
  * `transform(sequence(1, size(w)-(n-1)), i ->
  * substring(md5(array_join(slice(w, i, n), " ")), 1, hexLen))` that
  * [[graft.ops.Corpus.ngramDigests]] (decontamination, B120) and
  * [[graft.ops.Corpus.dedupSpans]] (ExactSubstr, B146) evaluate per
  * gram through interpreted lambdas with a slice + join + hex-string
  * allocation each. One compiled loop per row, a reused StringBuilder,
  * and whole-stage codegen preserved via the static-call doGenCode
  * (the [[MinHashSig]] pattern). CorpusSpec pins parity with the HOF
  * form.
  *
  * Fewer words than n → empty array (callers filter `size(w) >= n`
  * anyway; the HOF form's `sequence(1, size-(n-1))` yields a
  * descending-empty range error only under evaluation orders the
  * filter already prevents). Null text → null.
  */
case class NgramMd5(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = first.nullable

  override protected def nullSafeEval(text: Any, nAny: Any, hAny: Any): Any =
    NgramMd5.compute(text.asInstanceOf[UTF8String],
      nAny.asInstanceOf[Number].intValue(), hAny.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n, h) =>
      s"${ev.value} = graft.functions.NgramMd5.compute($t, $n, $h);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NgramMd5 =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "ngram_md5"
}

object NgramMd5 {
  private val hexChars = "0123456789abcdef".toCharArray

  /** The whole per-row computation, callable from generated code. */
  def compute(text: UTF8String, n: Int, hexLen: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return new GenericArrayData(new Array[AnyRef](0))
    val nGrams = words.length - n + 1
    val out = new Array[AnyRef](nGrams)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var s = 0
    while (s < nGrams) {
      sb.setLength(0)
      var w = 0
      while (w < n) {
        if (w > 0) sb.append(' ')
        sb.append(words(s + w))
        w += 1
      }
      md.reset()
      val d = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](hexLen)
      var j = 0
      while (j < hexLen) {
        val b = d(j >> 1)
        hex(j) = hexChars(if ((j & 1) == 0) (b >> 4) & 0xf else b & 0xf)
        j += 1
      }
      out(s) = UTF8String.fromString(new String(hex))
      s += 1
    }
    new GenericArrayData(out)
  }
}
