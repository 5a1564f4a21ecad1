package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine-portable md5 MinHash signature as a single native scalar
  * expression — the md5 twin of [[MinHashSig]]:
  * `minhash_sig_md5(text, n, numPerm)` with permutation i hashing a
  * shingle as the lowercase-hex `md5(shingle + "#" + i)` and the
  * signature element the LEXICOGRAPHIC min, exactly like
  * [[graft.ops.Dedup.minhashSignatureMd5]]'s HOF form (bit-for-bit
  * parity asserted in LlmSpec; the DuckDB oracle recomputes the same
  * minima, so this is on the oracle-hash path).
  *
  * Why it exists: the HOF form pays interpreted lambda evaluation per
  * shingle×permutation — a string concat, a full MD5 over the
  * re-concatenated shingle, a 32-char hex string, and a zip_with array
  * per fold step. Profiled as the dominant cost of the near-dup index
  * probe (B152/B158) and every md5-LSH surface. This expression does
  * the identical arithmetic with three structural savings:
  *
  *  - the MD5 state over `shingle + "#"` is computed ONCE per shingle
  *    and CLONED per permutation (MD5 digests are cloneable), so each
  *    permutation hashes only the appended decimal digits — O(len +
  *    numPerm) instead of O(len × numPerm) block work;
  *  - minima are kept as 16-byte digests compared UNSIGNED — lowercase
  *    hex encoding is order-preserving byte for byte, so the digest
  *    min IS the hex-string min — and only the numPerm winners are
  *    hex-encoded at the end (the HOF form allocated a hex string per
  *    shingle × permutation);
  *  - one compiled loop per row, whole-stage codegen preserved via the
  *    static-call `doGenCode` (the [[MinHashSig]] pattern).
  *
  * Null text → null signature; shingling mirrors
  * [[graft.ops.Dedup.shingles]] exactly (split on single space, limit
  * -1, n-word windows joined by one space, whole-document shingle when
  * shorter than n words).
  */
case class MinHashSigMd5(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  // containsNull=false mirrors the HOF form's result type (zip_with of
  // least over non-nullable inputs) so the swap is schema-invisible to
  // every dump/oracle surface — LlmSpec asserts the type equality
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = first.nullable

  override protected def nullSafeEval(text: Any, nAny: Any, pAny: Any): Any =
    MinHashSigMd5.compute(text.asInstanceOf[UTF8String],
      nAny.asInstanceOf[Number].intValue(), pAny.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n, p) =>
      s"${ev.value} = graft.functions.MinHashSigMd5.compute($t, $n, $p);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinHashSigMd5 =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "minhash_sig_md5"
}

object MinHashSigMd5 {
  private val hexChars = "0123456789abcdef".toCharArray

  /** Unsigned lexicographic compare of two 16-byte digests — the byte
    * order IS the lowercase-hex string order (each byte maps to two hex
    * chars monotonically).
    */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** The whole per-row computation, callable from generated code. */
  def compute(text: UTF8String, n: Int, numPerm: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val mins = new Array[Array[Byte]](numPerm)
    // ASCII decimal suffixes "1".."numPerm", built once per row
    val suffixes = new Array[Array[Byte]](numPerm)
    var i = 0
    while (i < numPerm) {
      suffixes(i) = String.valueOf(i + 1)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      i += 1
    }
    val sb = new java.lang.StringBuilder
    val nShingles = if (words.length < n) 1 else words.length - n + 1
    val width = math.min(n, words.length)
    var s = 0
    while (s < nShingles) {
      sb.setLength(0)
      var w = 0
      while (w < width) {
        if (w > 0) sb.append(' ')
        sb.append(words(s + w))
        w += 1
      }
      // md5 over UTF-8 of (shingle + "#"), state cloned per permutation
      val base = java.security.MessageDigest.getInstance("MD5")
      base.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      base.update('#'.toByte)
      i = 0
      while (i < numPerm) {
        val md = base.clone().asInstanceOf[java.security.MessageDigest]
        md.update(suffixes(i))
        val d = md.digest()
        if (mins(i) == null || lessThan(d, mins(i))) mins(i) = d
        i += 1
      }
      s += 1
    }
    val out = new Array[AnyRef](numPerm)
    i = 0
    while (i < numPerm) {
      val d = mins(i)
      val hex = new Array[Char](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexChars((d(j) >> 4) & 0xf)
        hex(2 * j + 1) = hexChars(d(j) & 0xf)
        j += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
      i += 1
    }
    new GenericArrayData(out)
  }
}
