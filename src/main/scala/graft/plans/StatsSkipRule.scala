package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

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
  * Fires when a top-level conjunct ([[Stats.conjOf]]) compares a
  * sidecar-covered column to a literal (`=`, `<`, `<=`, `>`, `>=`, `IN`;
  * `BETWEEN` arrives desugared). Every file is classified against every
  * such conjunct by [[Stats.verdict]] — the classifier the metadata
  * answers ([[MetaCountRewrite]]) use too — and survives unless some
  * conjunct proves it NONE, so keeping the ORIGINAL filter above the
  * swapped scan preserves exact results by construction. Strict
  * endpoints stay strict: `k > 5` drops a file whose maximum is 5. When
  * nothing prunes, the plan is left untouched (a DV/mapped/mixed table
  * then still swaps through [[DvReadRule]]).
  *
  * The swapped scan reads the kept files through [[Sinks.snapshotRead]]
  * — deletion vectors subtract, mixed layouts union per leg, column
  * mapping translates, hidden partition columns drop — so the rule composes
  * with every other table-format tier. Registered BEFORE [[DvReadRule]]
  * (a pruned swap already contains the subtraction; an unpruned
  * relation falls through to it).
  *
  * Planning-time cost: the version's one memoized sidecar read
  * ([[Stats.sidecarRows]], shared with [[MetaCountRewrite]]) and a
  * driver file listing — paid once per query, never per row.
  */
object StatsSkipRule extends Rule[LogicalPlan] with PredicateHelper {

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
    def phys(c: Stats.Conj) = ColMap.toPhysicalName(dir, c.colName)
    val conjs = splitConjunctivePredicates(cond).flatMap(Stats.conjOf)
    val byStats = conjs.filter(c => statsCovered(phys(c).toLowerCase))
    val byBloom = conjs.filter(c => c.cmp == Stats.CEq && bloomCovered(phys(c).toLowerCase))
    if (byStats.isEmpty && byBloom.isEmpty) return None
    val all = graft.io.Fs.walkParquet(java.nio.file.Paths.get(dir))
      .map(_.toString).toSet
    val kept = byBloom.foldLeft(Stats.keptFiles(spark, dir, byStats).toSet) { (acc, c) =>
      acc.intersect(Bloom.prunedFilesEqAny(spark, dir, phys(c), c.vs.map(_.toString)).toSet)
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
