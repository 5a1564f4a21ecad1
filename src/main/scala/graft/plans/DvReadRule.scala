package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.GraftSnapshotDir
import graft.ops.{ColMap, Dv, EqDel, Sinks}

/** SQL-side deletion-vector subtraction (B135): when a Graft catalog
  * relation's resolved version dir carries a `_dv` sidecar, swap the
  * relation for the subtracted plan [[Sinks.snapshotRead]] builds — a
  * file-scan anti-joined with the (small, usually broadcast) vector on
  * Spark's `_metadata` file/row-position columns — re-aliased to the
  * original output attribute ids so everything above rebinds untouched.
  * Current reads AND `VERSION/TIMESTAMP AS OF` snapshots each subtract
  * their own version's vector; a DV-less version swaps nothing (the
  * common case stays a bare DSv2 scan).
  *
  * Runs in the extended operator-optimization batch — BEFORE V2 scan
  * pushdown, so filters and column pruning land in the underlying file
  * scan of the swapped plan exactly as they would have in the original
  * (predicates push through the anti-join's left side).
  *
  * Plans that read the relation's own `_metadata` columns cannot be
  * swapped (the subtraction consumes them); rather than silently
  * returning deleted rows, that combination fails loudly.
  */
object DvReadRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // exprIds referenced anywhere — to detect _metadata use of a
    // relation we are about to swap
    lazy val referenced: Set[Long] =
      plan.collect { case p => p.expressions.flatMap(_.references.map(_.exprId.id)) }
        .flatten.toSet
    plan.transformUp {
      case r: DataSourceV2Relation => r.table match {
        // column-mapped versions swap through the same funnel: the bare
        // scan would read LOGICAL names against PHYSICAL files. So do
        // mixed-layout versions (metadata-only partition evolution):
        // the bare scan sees only the top-level (current-layout) files
        // — the `_layout<k>/` legs are `_`-hidden — and would silently
        // drop every pre-evolution row
        // pending equality deletes (round-14) swap through the same
        // funnel: the bare scan would surface tombstoned rows
        // hidden-partitioned specs (round-14 pure-bucket; round-15 ALL
        // transform grids) deliberately stay UN-swapped: the bare scan
        // is row-complete (partition dirs with "=" escape the
        // underscore hiding), the table hides the derived columns, and
        // the v2 path is where storage-partitioned joins and the
        // implied directory-predicate pushdown (the builder's twin of
        // HiddenPartitionRule) live
        // reader-side MOR subtraction (round-15): a DV/eq-delete-only
        // version over an SPJ-capable layout stays UN-swapped — the
        // scan wrapper subtracts per file inside its readers, keeping
        // storage-partitioned joins shuffle-free. MorSpj.readerSide is
        // the single structural predicate both this rule and the scan
        // builder consult, so they can never disagree on who subtracts.
        case t: GraftSnapshotDir
            if (Dv.exists(t.snapshotVersionDir) || ColMap.exists(t.snapshotVersionDir) ||
              EqDel.exists(t.snapshotVersionDir) ||
              Sinks.hasLayoutLegs(t.snapshotVersionDir)) &&
              !graft.catalog.MorSpj.readerSide(
                t.snapshotTableRoot, t.snapshotVersionDir) =>
          val metaUsed = r.metadataOutput.exists(a => referenced.contains(a.exprId.id))
          if (metaUsed) throw new UnsupportedOperationException(
            "reading _metadata columns of a deletion-vector, equality-delete, " +
              "column-mapped, mixed-layout, or hidden-partitioned table is " +
              "unsupported: compact the table first")
          swap(r, t)
        case _ => r
      }
    }
  }

  private def swap(r: DataSourceV2Relation, t: GraftSnapshotDir): LogicalPlan = {
    val subtracted = Sinks.snapshotRead(SparkSession.active, t.snapshotTableRoot,
      t.snapshotVersionDir).queryExecution.analyzed
    val out = realias(r.output, subtracted).getOrElse(throw new IllegalStateException(
      s"the snapshot read of ${r.table.name()} serves " +
        s"(${subtracted.output.map(_.name).mkString(", ")}), not every column of " +
        s"(${r.output.map(_.name).mkString(", ")})"))
    Project(out, subtracted)
  }

  /** A swapped relation's `output` re-aliased by name onto `plan`'s
    * columns, each alias keeping the original attribute's exprId and
    * qualifier so everything above the swap rebinds untouched; None when
    * `plan` lacks one of them. Shared by every rule that swaps a Graft
    * relation for a [[Sinks.snapshotRead]] plan.
    */
  private[plans] def realias(output: Seq[Attribute],
      plan: LogicalPlan): Option[Seq[NamedExpression]] = {
    val out = output.map(a => plan.output.find(_.name.equalsIgnoreCase(a.name))
      .map(src => Alias(src, a.name)(exprId = a.exprId, qualifier = a.qualifier)))
    if (out.forall(_.isDefined)) Some(out.flatten) else None
  }
}
