package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** LSH band keys of a MinHash signature as one native scalar
  * expression: `bands(sig, bands, rowsPerBand)` returns the
  * `bands`-element array whose element b is the comma-joined band slice
  * `sig[b*rowsPerBand+1 .. b*rowsPerBand+rowsPerBand]` — bit-for-bit
  * the HOF form
  *
  * {{{
  *   transform(sequence(0, bands - 1),
  *     b => concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))
  * }}}
  *
  * that every LSH banding surface ([[graft.ops.Dedup.bandedBuckets]]
  * feeding minhashCandidatesMd5 / the persisted
  * [[graft.ops.NearDupIndex]], and [[graft.ops.Dedup.minhashCandidates]]'
  * xxhash64 path) evaluated through an interpreted `transform` lambda
  * with a slice copy + concat_ws allocation per band, per row, on every
  * probe surface. One compiled loop per row, whole-stage codegen
  * preserved via the static-call doGenCode (the [[MinHashSig]]
  * pattern). LlmSpec pins parity with the HOF form.
  *
  * Element types: `array<string>` signatures (the md5 family) join the
  * strings directly; `array<bigint>` signatures (the xxhash64 family)
  * render each long in decimal exactly like the implicit
  * `array<bigint>` → `array<string>` cast the HOF's concat_ws inserted.
  * Slice semantics mirror Spark's `slice`: a band window past the end
  * of the signature contributes the elements that remain (possibly
  * none → the empty string, concat_ws's empty-array rendering). A null
  * signature, band count or band width → null.
  */
case class Bands(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)

  private lazy val isStringSig = first.dataType match {
    case ArrayType(StringType, _) => true
    case ArrayType(LongType, _) => false
    case t => throw new IllegalArgumentException(
      s"bands() takes an array<string> or array<bigint> signature, got $t")
  }

  override protected def nullSafeEval(sig: Any, bAny: Any, rAny: Any): Any = {
    val b = bAny.asInstanceOf[Number].intValue()
    val r = rAny.asInstanceOf[Number].intValue()
    if (isStringSig) Bands.computeStr(sig.asInstanceOf[ArrayData], b, r)
    else Bands.computeLong(sig.asInstanceOf[ArrayData], b, r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isStringSig) "computeStr" else "computeLong"
    nullSafeCodeGen(ctx, ev, (s, b, r) =>
      s"${ev.value} = graft.functions.Bands.$fn($s, $b, $r);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Bands =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "bands"
}

object Bands {
  /** Register as a SQL-callable function: `bands(sig, bands, rowsPerBand)`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bands",
      exprs => Bands(exprs.head, exprs(1), exprs(2)),
      "scala_udf")

  /** The whole per-row computation over a string signature, callable
    * from generated code.
    */
  def computeStr(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val len = sig.numElements()
    val out = new Array[AnyRef](bands)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      val start = b * rowsPerBand
      val end = math.min(start + rowsPerBand, len)
      var i = start
      var firstDone = false
      while (i < end) {
        // concat_ws skips nulls (signatures are containsNull=false, so
        // this is defensive, not load-bearing)
        if (!sig.isNullAt(i)) {
          if (firstDone) sb.append(',')
          sb.append(sig.getUTF8String(i).toString)
          firstDone = true
        }
        i += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** [[computeStr]] over an `array<bigint>` signature — each element
    * rendered in decimal exactly like Spark's bigint → string cast.
    */
  def computeLong(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val len = sig.numElements()
    val out = new Array[AnyRef](bands)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      val start = b * rowsPerBand
      val end = math.min(start + rowsPerBand, len)
      var i = start
      var firstDone = false
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (firstDone) sb.append(',')
          sb.append(sig.getLong(i))
          firstDone = true
        }
        i += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }
}
