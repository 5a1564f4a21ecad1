package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed UDAF (SURVEY §2B B35): weighted mean with an algebraic
  * (partial-aggregatable) buffer — (sum(x*w), sum(w)) — so Spark plans it
  * as partial+final aggregation with map-side combine, exactly like a
  * built-in. Oracle expansion: sum(x*w)/sum(w).
  */
object WeightedMean extends Aggregator[(Double, Double), (Double, Double), Double] {
  override def zero: (Double, Double) = (0.0, 0.0)
  override def reduce(b: (Double, Double), a: (Double, Double)): (Double, Double) =
    (b._1 + a._1 * a._2, b._2 + a._2)
  override def merge(b1: (Double, Double), b2: (Double, Double)): (Double, Double) =
    (b1._1 + b2._1, b1._2 + b2._2)
  override def finish(r: (Double, Double)): Double =
    if (r._2 == 0.0) Double.NaN else r._1 / r._2
  override def bufferEncoder: Encoder[(Double, Double)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble

  /** Column-level entry point: weighted_mean(x, w). */
  def apply(x: Column, w: Column): Column =
    udaf(this).apply(x, w)
}
