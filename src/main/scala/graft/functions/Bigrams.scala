package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Adjacent word pairs of the lowercase alnum tokenization as one native
  * scalar expression: `bigrams(text)` returns
  * `array<struct<w1:string, w2:string>>` — value-identical to
  *
  * {{{
  *   zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1),
  *            (a, b) => struct(a as w1, b as w2))
  *   where t = array_remove(split(lower(text), "[^a-z0-9]+"), "")
  * }}}
  *
  * which [[graft.ops.Corpus.lmScore]] (bigram-LM scoring, B124)
  * evaluates through an interpreted `zip_with` lambda with two slice
  * copies and a struct allocation per pair, AFTER a lower() copy, the
  * regex split, and an array_remove pass. One compiled loop per row:
  * lower once (the same `UTF8String.toLowerCase` Spark's `lower` calls),
  * one regex split (the same java.util.regex engine Spark's `split`
  * uses), empties skipped in-line, pairs assembled directly. Fewer than
  * two tokens → empty array, so `explode` drops the row exactly as the
  * old `filter(size(t) >= 2)` did. Null text → null. Whole-stage
  * codegen preserved via the static-call doGenCode (the [[MinHashSig]]
  * pattern). CorpusSpec pins parity with the HOF form.
  */
case class Bigrams(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(text: Any): Any =
    Bigrams.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.Bigrams.compute($t)")

  override protected def withNewChildInternal(newChild: Expression): Bigrams =
    copy(child = newChild)

  override def prettyName: String = "bigrams"
}

object Bigrams {
  // The tokenizer's separator class, compiled once. Spark's split()
  // routes through the same java.util.regex engine on the string form,
  // so token boundaries are bit-identical to the HOF pipeline.
  private val sep = java.util.regex.Pattern.compile("[^a-z0-9]+")

  private val empty = new GenericArrayData(new Array[AnyRef](0))

  /** The whole per-row computation, callable from generated code. */
  def compute(text: UTF8String): ArrayData = {
    // UTF8String.toLowerCase IS Spark's lower(); split(-1) keeps the
    // leading/trailing empties the HOF form array_remove'd — skipped
    // in-line here instead.
    val pieces = sep.split(text.toLowerCase.toString, -1)
    var n = 0
    var i = 0
    while (i < pieces.length) {
      if (!pieces(i).isEmpty) n += 1
      i += 1
    }
    if (n < 2) return empty
    val toks = new Array[UTF8String](n)
    var k = 0
    i = 0
    while (i < pieces.length) {
      if (!pieces(i).isEmpty) { toks(k) = UTF8String.fromString(pieces(i)); k += 1 }
      i += 1
    }
    val out = new Array[AnyRef](n - 1)
    i = 0
    while (i < n - 1) {
      out(i) = new GenericInternalRow(Array[Any](toks(i), toks(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
