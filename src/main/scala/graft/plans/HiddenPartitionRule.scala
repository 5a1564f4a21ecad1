package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.ops.Transforms

/** Hidden-partitioning predicate injection (B161): when a filter over a
  * scan that carries derived partition columns (`_tp_<src>__<tag>`,
  * [[Transforms]]) constrains the SOURCE column with literals, conjoin
  * the IMPLIED constraint on the derived directory column — so the user
  * queries raw `ts` and FileSourceStrategy partition-prunes
  * `_tp_ts__day=…` directories. This is the Iceberg hidden-partitioning
  * contract re-expressed as a Catalyst rule.
  *
  * Soundness: every injected conjunct is IMPLIED by an existing
  * top-level conjunct through the transform's monotonicity (day/month/
  * year/truncate map ranges to ranges; bucket maps equality to
  * equality), so the filter's row set is unchanged — the derived
  * predicate only narrows which FILES the scan opens. Rows where the
  * source is NULL already fail the original conjunct, so the injected
  * conjunct (also NULL there) removes nothing new.
  *
  * Runs in the operator-optimization fixed point: predicate pushdown
  * first moves the user filter down to the scan (whose output still
  * carries the derived columns — [[graft.ops.Sinks.snapshotRead]] drops them
  * in a Project ABOVE); this rule then augments it; the injected
  * mapping expressions are literal-only and constant-fold before
  * planning. Idempotent: a filter already referencing a derived column
  * is left alone.
  */
object HiddenPartitionRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child) =>
      val hidden = child.output.flatMap(a => Transforms.parse(a.name).map(a -> _))
      if (hidden.isEmpty ||
          cond.references.exists(a => Transforms.parse(a.name).isDefined)) f
      else {
        val conjuncts = splitConjunctivePredicates(cond)
        val extra = hidden.flatMap { case (hAttr, t) =>
          child.output.find(_.name.equalsIgnoreCase(t.src)).toSeq.flatMap { src =>
            conjuncts.flatMap(c => rewrite(c, src, hAttr, t))
          }
        }
        if (extra.isEmpty) f
        else Filter(extra.foldLeft(cond)(And(_, _)), child)
      }
  }

  /** UTC epoch-day of a temporal literal — the EXACT JVM mirror of
    * [[Transforms]]' write-side `date_from_unix_date(floor(unix_micros
    * / µs-per-day))` (same IEEE double divide + floor the codegen'd
    * derivation runs, so writer directories and reader images agree
    * bit-for-bit at every boundary, in every session timezone). A DATE
    * literal is already an epoch-day Int.
    */
  private def utcDays(lit: Literal): Int = lit.dataType match {
    case DateType => lit.value.asInstanceOf[Int]
    case _ => // TimestampType: internal value is epoch micros (Long)
      math.floor(lit.value.asInstanceOf[Long].toDouble /
        Transforms.MicrosPerDay.toDouble).toLong.toInt
  }

  private def dateLit(days: Int): Literal = Literal(days, DateType)

  /** The derived-column image of a source literal under transform `t`,
    * as a FOLDED literal (day/month/year/hour — computed here in UTC
    * epoch math, independent of either session's timezone; round-12
    * advisor finding: the previous session-zone Cast could disagree
    * with the writer's directories) or a literal-only expression that
    * constant-folds before planning (bucket/truncate). None when the
    * literal's type can't be mapped faithfully.
    */
  private def image(t: Transforms.T, lit: Literal,
      srcType: DataType): Option[Expression] = {
    def temporal = lit.dataType == TimestampType || lit.dataType == DateType
    t match {
      case _: Transforms.Day if temporal && lit.value != null =>
        Some(dateLit(utcDays(lit)))
      case _: Transforms.Month if temporal && lit.value != null =>
        Some(dateLit(java.time.LocalDate.ofEpochDay(utcDays(lit).toLong)
          .withDayOfMonth(1).toEpochDay.toInt))
      case _: Transforms.Year if temporal && lit.value != null =>
        Some(dateLit(java.time.LocalDate.ofEpochDay(utcDays(lit).toLong)
          .withDayOfYear(1).toEpochDay.toInt))
      case _: Transforms.Hour
          if lit.dataType == TimestampType && lit.value != null =>
        // mirror of floor(unix_micros / µs-per-hour) cast int
        Some(Literal(math.floor(lit.value.asInstanceOf[Long].toDouble /
          Transforms.MicrosPerHour.toDouble).toLong.toInt, IntegerType))
      case b: Transforms.Bucket =>
        // the hash is type-sensitive: only map a literal of EXACTLY the
        // source type (comparison coercion has already cast it). Folded
        // driver-side (round-15) so the image also pushes through the
        // v2 scan builder, which can only translate literals
        if (lit.dataType == srcType)
          Some(Literal(Transforms.bucketValue(lit.value, srcType, b.n),
            IntegerType))
        else None
      case tr: Transforms.Truncate => srcType match {
        case StringType if lit.dataType == StringType =>
          Some(fold(Substring(lit, Literal(1), Literal(tr.n))))
        case it @ (ByteType | ShortType | IntegerType | LongType)
            if lit.dataType == srcType =>
          Some(fold(Subtract(lit, Pmod(lit, Cast(Literal(tr.n), it)))))
        case _ => None
      }
      case _ => None
    }
  }

  private def fold(e: Expression): Literal = Literal.create(e.eval(null), e.dataType)

  /** Monotone transforms map source ranges to derived ranges; bucket
    * and truncate-equality map equality to equality. Strict bounds
    * relax to inclusive on the derived side (two source values in one
    * day/bucket share a directory — the image bound must keep it).
    * `private[graft]`: the v2 scan builder ([[graft.catalog
    * .GraftScanBuilder]]) reuses the same rewrite for its implied
    * directory-predicate pushdown (round-15) — one soundness argument,
    * two doors. Every image is a folded literal, so both FileSource
    * pruning and the v2 builder's predicate translation accept it.
    */
  private[graft] def rewrite(c: Expression, src: Attribute, h: Attribute,
      t: Transforms.T): Option[Expression] = {
    val monotone = t match {
      case _: Transforms.Bucket => false
      case _ => true
    }
    def img(l: Literal) = image(t, l, src.dataType)
    c match {
      case EqualTo(a: Attribute, l: Literal) if a.semanticEquals(src) =>
        img(l).map(EqualTo(h, _))
      case EqualTo(l: Literal, a: Attribute) if a.semanticEquals(src) =>
        img(l).map(EqualTo(h, _))
      case EqualNullSafe(a: Attribute, l: Literal)
          if a.semanticEquals(src) && l.value != null =>
        img(l).map(EqualTo(h, _))
      case EqualNullSafe(l: Literal, a: Attribute)
          if a.semanticEquals(src) && l.value != null =>
        img(l).map(EqualTo(h, _))
      case In(a: Attribute, list) if a.semanticEquals(src) &&
          list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        val images = list.map(l => img(l.asInstanceOf[Literal]))
        if (images.forall(_.isDefined)) Some(In(h, images.map(_.get)))
        else None
      case GreaterThan(a: Attribute, l: Literal)
          if monotone && a.semanticEquals(src) =>
        img(l).map(GreaterThanOrEqual(h, _))
      case GreaterThanOrEqual(a: Attribute, l: Literal)
          if monotone && a.semanticEquals(src) =>
        img(l).map(GreaterThanOrEqual(h, _))
      case LessThan(a: Attribute, l: Literal)
          if monotone && a.semanticEquals(src) =>
        img(l).map(LessThanOrEqual(h, _))
      case LessThanOrEqual(a: Attribute, l: Literal)
          if monotone && a.semanticEquals(src) =>
        img(l).map(LessThanOrEqual(h, _))
      // literal-on-the-left spellings flip the bound
      case GreaterThan(l: Literal, a: Attribute)
          if monotone && a.semanticEquals(src) =>
        img(l).map(LessThanOrEqual(h, _))
      case GreaterThanOrEqual(l: Literal, a: Attribute)
          if monotone && a.semanticEquals(src) =>
        img(l).map(LessThanOrEqual(h, _))
      case LessThan(l: Literal, a: Attribute)
          if monotone && a.semanticEquals(src) =>
        img(l).map(GreaterThanOrEqual(h, _))
      case LessThanOrEqual(l: Literal, a: Attribute)
          if monotone && a.semanticEquals(src) =>
        img(l).map(GreaterThanOrEqual(h, _))
      case _ => None
    }
  }
}
