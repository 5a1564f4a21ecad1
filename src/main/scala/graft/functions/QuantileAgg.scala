package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** SQL aggregate over [[QuantileSketch]]: per-group sketches accumulate
  * map-side, MERGE at the exchange (the whole point — the shuffle
  * carries O(k log n) sketches, never values), and finish by answering
  * the requested quantile points. Completes the mergeable-sketch family
  * next to HLL (distincts) and approx_top_k (heavy hitters).
  */
final class QuantileAgg(qs: Seq[Double], k: Int)
    extends Aggregator[java.lang.Double, QuantileSketch, Seq[Double]] {
  require(qs.nonEmpty, "at least one quantile point required")
  override def zero: QuantileSketch = QuantileSketch.empty(k)
  // boxed input + null skip: every SQL quantile function (percentile,
  // percentile_approx) ignores NULLs — a non-nullable Double input
  // encoder would instead crash (or fold 0.0 in) on nullable columns
  override def reduce(b: QuantileSketch, v: java.lang.Double): QuantileSketch =
    if (v == null) b else b.add(v.doubleValue())
  override def merge(a: QuantileSketch, b: QuantileSketch): QuantileSketch = a.merge(b)
  override def finish(s: QuantileSketch): Seq[Double] = s.quantiles(qs)
  override def bufferEncoder: Encoder[QuantileSketch] = Encoders.product[QuantileSketch]
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

object QuantileAgg {
  /** quantile_sketch_agg(x, qs...) as a Column. */
  def apply(x: Column, qs: Seq[Double], k: Int = 200): Column =
    udaf(new QuantileAgg(qs, k)).apply(x)
}
