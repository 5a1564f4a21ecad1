package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._

import graft.catalog.GraftSnapshotDir
import graft.ops.{Bloom, ColMap, Sinks, Stats}

/** SQL-side file skipping (B164): a filter over a Graft catalog
  * relation whose version dir carries a `_stats` sidecar opens ONLY the
  * files whose footer range can satisfy the filter's literal bounds —
  * the same per-file min/max pruning [[Stats.readCurrentWhere]] gives
  * the Scala door, now serving `spark.sql` reads. At 100 TB partition
  * pruning skips directories but the planner still opens every file in
  * the surviving partitions; this rule closes the same gap for the SQL
  * door that B109 closed for the library door.
  *
  * Fires when a top-level conjunct compares a sidecar-covered column to
  * a literal (`=`, `<`, `<=`, `>`, `>=`, `IN`; `BETWEEN` arrives
  * desugared). Each usable conjunct prunes independently and the file
  * sets INTERSECT — exactly the conservative per-file contract of
  * [[Stats.prunedFilesBounds]]: a file survives unless its recorded
  * range provably excludes every satisfying value, so keeping the
  * ORIGINAL filter above the swapped scan preserves exact results by
  * construction. When nothing prunes, the plan is left untouched (a
  * DV/mapped/mixed table then still swaps through [[DvReadRule]]).
  *
  * The swapped scan reads the kept files through [[Sinks.snapshotRead]]
  * — deletion vectors subtract, mixed layouts union per leg, column
  * mapping translates, hidden partition columns drop — so the rule composes
  * with every other table-format tier. Registered BEFORE [[DvReadRule]]
  * (a pruned swap already contains the subtraction; an unpruned
  * relation falls through to it).
  *
  * Planning-time cost: one sidecar read per pruning conjunct
  * (metadata-scale, the same class of read [[MetaCountRewrite]] does)
  * and a driver file listing — paid once per query, never per row.
  */
object StatsSkipRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    lazy val referenced: Set[Long] =
      plan.collect { case p => p.expressions.flatMap(_.references.map(_.exprId.id)) }
        .flatten.toSet
    plan.transformUp {
      case f @ Filter(cond, r: DataSourceV2Relation) => r.table match {
        case t: GraftSnapshotDir
            if (java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(t.snapshotVersionDir, Stats.Sidecar)) ||
              java.nio.file.Files.isDirectory(
                java.nio.file.Paths.get(t.snapshotVersionDir, Bloom.Sidecar))) &&
              !r.metadataOutput.exists(a => referenced.contains(a.exprId.id)) =>
          trySwap(f, cond, r, t).getOrElse(f)
        case _ => f
      }
    }
  }

  /** Sidecar-comparable literal value, or None for types whose stored
    * domain the sidecar cannot compare exactly. Internal Catalyst
    * values: dates are days (Int) — parquet DATE is ALWAYS days, so the
    * domains agree. TIMESTAMP literals (internal: epoch micros) compare
    * against the sidecar's `lo_t/hi_t` micros — the round-13 upgrade:
    * `Stats.annotate` now normalizes each footer's raw int64 to micros
    * AT WRITE TIME (the annotator sees the file's unit; ms-written
    * files exist), so the read side never guesses a unit. The
    * instant/wall-clock flavor rides along ([[graft.ops.Stats]] TsVal)
    * and [[Stats.prunedFilesBounds]] keeps any file whose footer flavor
    * can't be compared under the session zone. Time-range predicates on
    * event tables are THE dominant 100 TB scan filter — this is the
    * highest-leverage conjunct the rule serves.
    */
  private def boundValue(l: Literal): Option[Any] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType
        if l.value != null => Some(l.value)
    case FloatType | DoubleType if l.value != null => Some(l.value)
    case StringType if l.value != null => Some(l.value.toString)
    case TimestampType if l.value != null =>
      Some(Stats.TsVal(l.value.asInstanceOf[Long], instant = true))
    case TimestampNTZType if l.value != null =>
      Some(Stats.TsVal(l.value.asInstanceOf[Long], instant = false))
    // DECIMAL (round-13): the sidecar stores int-backed decimals as
    // (unscaled, scale) — the bound travels as exact BigDecimal and
    // [[Stats.prunedFilesBounds]] rescales it to each FILE's recorded
    // scale (floor/ceil per side), so precision drift between literal
    // and column can only widen the kept set
    case _: DecimalType if l.value != null =>
      Some(l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal)
    case _ => None
  }

  private sealed trait Bound
  private final case class Lo(v: Any) extends Bound
  private final case class Hi(v: Any) extends Bound
  private final case class Point(v: Any) extends Bound
  private final case class Points(vs: Seq[Any]) extends Bound

  /** (column attribute, bound) of one conjunct, when usable. Strict
    * bounds relax to inclusive — pruning keeps any overlapping file, so
    * the relaxation only keeps more.
    */
  private def boundOf(c: Expression): Option[(Attribute, Bound)] = c match {
    case EqualTo(a: Attribute, l: Literal) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Point(v))
    case EqualTo(l: Literal, a: Attribute) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Point(v))
    case GreaterThan(a: Attribute, l: Literal) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Lo(v))
    case GreaterThanOrEqual(a: Attribute, l: Literal) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Lo(v))
    case LessThan(a: Attribute, l: Literal) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Hi(v))
    case LessThanOrEqual(a: Attribute, l: Literal) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Hi(v))
    case GreaterThan(l: Literal, a: Attribute) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Hi(v))
    case GreaterThanOrEqual(l: Literal, a: Attribute) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Hi(v))
    case LessThan(l: Literal, a: Attribute) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Lo(v))
    case LessThanOrEqual(l: Literal, a: Attribute) if l.dataType == a.dataType =>
      boundValue(l).map(v => a -> Lo(v))
    case In(a: Attribute, list) if list.nonEmpty &&
        list.forall(e => e.isInstanceOf[Literal] &&
          e.dataType == a.dataType) =>
      val vs = list.flatMap(e => boundValue(e.asInstanceOf[Literal]))
      if (vs.size == list.size) Some(a -> Points(vs)) else None
    case _ => None
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, rr) => splitAnd(l) ++ splitAnd(rr)
    case other => Seq(other)
  }

  private def trySwap(f: Filter, cond: Expression, r: DataSourceV2Relation,
      t: GraftSnapshotDir): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val dir = t.snapshotVersionDir
    val statsCovered =
      if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(dir, Stats.Sidecar)))
        Stats.sidecarCols(spark, dir).map(_.toLowerCase).toSet
      else Set.empty[String]
    // point predicates additionally probe the bloom sidecar (B123's
    // membership skipping, now serving the SQL door too); values
    // canonicalize exactly like the Scala probe (`toString` against the
    // build's CAST AS STRING — the build restricts indexable types so
    // the two spellings agree)
    val bloomCovered = Bloom.sidecarCols(spark, dir).map(_.toLowerCase).toSet
    def pointy(b: Bound) = b match {
      case Point(_) | Points(_) => true
      case _ => false
    }
    val usable = splitAnd(cond).flatMap(boundOf).filter { case (a, b) =>
      val phys = ColMap.toPhysicalName(dir, a.name).toLowerCase
      statsCovered(phys) || (bloomCovered(phys) && pointy(b))
    }
    if (usable.isEmpty) return None
    val all = graft.io.Fs.walkParquet(java.nio.file.Paths.get(dir))
      .map(_.toString).toSet
    val kept = usable.foldLeft(all) { case (acc, (a, b)) =>
      val phys = ColMap.toPhysicalName(dir, a.name)
      val fromStats =
        if (!statsCovered(phys.toLowerCase)) all
        else (b match {
          case Lo(v) => Stats.prunedFilesBounds(spark, dir, phys, Some(v), None)
          case Hi(v) => Stats.prunedFilesBounds(spark, dir, phys, None, Some(v))
          case Point(v) => Stats.prunedFilesBounds(spark, dir, phys, Some(v), Some(v))
          case Points(vs) => vs.flatMap(v =>
            Stats.prunedFilesBounds(spark, dir, phys, Some(v), Some(v))).distinct
        }).toSet
      val fromBloom =
        if (!bloomCovered(phys.toLowerCase)) all
        else b match {
          case Point(v) =>
            Bloom.prunedFilesEqAny(spark, dir, phys, Seq(v.toString)).toSet
          case Points(vs) =>
            Bloom.prunedFilesEqAny(spark, dir, phys, vs.map(_.toString)).toSet
          case _ => all
        }
      acc.intersect(fromStats).intersect(fromBloom)
    }
    // nothing pruned: leave the plan for the ordinary scan (and, on
    // DV/mapped/mixed tables, for DvReadRule's swap)
    if (kept.size == all.size) return None
    // round-16: a swap that drops only ZERO-ROW files (the CTAS/INSERT
    // empty schema-anchor, an all-null stripe) saves no data I/O but
    // would trade away the v2 scan's exact column statistics (CBO
    // histograms/NDV — FilterEstimation runs above THIS node) and its
    // key-grouped partition reporting. Skip only when real rows skip.
    if (Stats.maxRowsOf(spark, dir, all -- kept) == 0L) return None
    val analyzed = Sinks.snapshotRead(spark, t.snapshotTableRoot, dir,
      Some(kept.toSeq.sorted)).queryExecution.analyzed
    // a column the pruned read cannot serve: decline
    DvReadRule.realias(r.output, analyzed).map(out => Filter(cond, Project(out, analyzed)))
  }
}
