package graft

import graft.functions.{CosineSim, TopKAgg}
import graft.plans.{AnnRewrite, GraftStrategy}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's `SparkSessionExtensions` entry point — the deployment
  * spelling of everything the library otherwise wires imperatively:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * }}}
  *
  * Injects:
  *  - [[graft.plans.AnnRewrite]] as an optimizer rule, so declarative
  *    [[graft.plans.AnnRewrite.annTopK]] plans get their physical
  *    similarity strategy (brute force vs IVF probe) chosen at
  *    optimization time on every session built from the config — no
  *    `install()` call needed;
  *  - [[graft.plans.GraftStrategy]] as a planner strategy — the safety
  *    net that plans any marker the rule didn't expand (exact brute
  *    force, always correct);
  *  - [[graft.plans.MetaCountRewrite]] as an optimizer rule — global
  *    unfiltered `count(*)`/`count(col)` over Graft catalog tables
  *    answered from the `_stats` sidecar (metadata) instead of a scan;
  *  - `topk_agg(score, id, k)` ([[graft.functions.TopKAgg]]) — the
  *    bounded-heap top-k aggregate;
  *  - `cosine_sim(a, b)` ([[graft.functions.CosineSim]]) — the fused
  *    codegen'd cosine similarity.
  *
  * The imperative registrars ([[CosineSim.register]],
  * [[AnnRewrite.install]]) remain for sessions created without the
  * config; both paths are idempotent and coexist.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => AnnRewrite)
    // metadata-only count(*): global unfiltered counts over Graft
    // catalog tables answered from the _stats sidecar, never the data.
    // Injected BEFORE DvReadRule: on a deletion-vector table it answers
    // count(*) as sidecar rows minus vector cardinality; whatever it
    // declines, the subtraction rule below then swaps and serves.
    ext.injectOptimizerRule(_ => graft.plans.MetaCountRewrite)
    // SQL-side _stats file skipping (B164): a filter with literal
    // bounds on a sidecar-covered column opens only the surviving
    // files. BEFORE DvReadRule — a pruned swap already carries the
    // subtraction; an unpruned relation falls through to it.
    ext.injectOptimizerRule(_ => graft.plans.StatsSkipRule)
    // deletion-vector subtraction for SQL reads of MOR-deleted tables —
    // runs before V2 pushdown so filters still reach the file scan
    ext.injectOptimizerRule(_ => graft.plans.DvReadRule)
    // hidden partitioning (B161): predicates on a transform's SOURCE
    // column gain the implied predicate on the derived `_tp_*`
    // directory column, so FileSourceStrategy partition-prunes a spec
    // the user never sees. Fixed-point: fires after pushdown has moved
    // the filter down to the scan (whose output still carries the
    // derived columns — the funnel's drop is a Project above it).
    ext.injectOptimizerRule(_ => graft.plans.HiddenPartitionRule)
    ext.injectPlannerStrategy(_ => GraftStrategy)
    // SQL DML (DELETE/UPDATE/MERGE INTO) over GraftCatalog tables —
    // converted to versioned-commit commands at resolution time
    ext.injectResolutionRule(_ => graft.catalog.GraftDmlRule)
    // hint batch (PRE-resolution): 'graft.schema.autoMerge' must flip
    // the merge's evolution flag before star expansion consumes the
    // evolution source schema (see GraftAutoMergeRule)
    ext.injectHintResolutionRule(session =>
      graft.catalog.GraftAutoMergeRule(session))
    // persistent views (B178): view DDL over Graft catalogs intercepted
    // at the parser seam (Spark 4.1 has no native v2-view routing), view
    // READS inlined at resolution time — after ResolveRelations in each
    // iteration, so tables and temp views keep precedence
    ext.injectParser((session, delegate) =>
      new graft.catalog.GraftSqlParser(session, delegate))
    ext.injectResolutionRule(session => graft.catalog.GraftViewRule(session))
    ext.injectFunction((
      FunctionIdentifier("topk_agg"),
      new ExpressionInfo(classOf[TopKAgg].getName, "topk_agg"),
      (exprs: Seq[Expression]) => TopKAgg(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim.withCast(exprs.head, exprs(1))))
    // The engine's text/similarity Column builders as SQL scalar
    // functions (round-14): the same codegen'd expression trees the
    // library queries compose, reachable from pure SQL — no UDF, no
    // serialization boundary, pushdown-transparent. Each builder speaks
    // Columns; the Expression bridge is GraftSqlShims.expression.
    locally {
      import org.apache.spark.sql.GraftSqlShims.{column => c, expression => e}
      def scalar(name: String, min: Int, max: Int)(
          f: Seq[Expression] => org.apache.spark.sql.Column): Unit =
        ext.injectFunction((
          FunctionIdentifier(name),
          new ExpressionInfo(graft.ops.Pii.getClass.getName, name),
          (exprs: Seq[Expression]) => {
            require(exprs.length >= min && exprs.length <= max,
              s"$name expects $min" +
                (if (max != min) s"..$max" else "") +
                s" argument(s), got ${exprs.length}")
            e(f(exprs))
          }))
      def intLit(x: Expression, what: String): Int = x match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"$what must be an integer literal, got $other")
      }
      scalar("graft_scrub", 1, 1)(x => graft.ops.Pii.scrub(c(x.head)))
      scalar("graft_email_count", 1, 1)(x => graft.ops.Pii.emailCount(c(x.head)))
      scalar("graft_ip_count", 1, 1)(x => graft.ops.Pii.ipCount(c(x.head)))
      scalar("graft_card_count", 1, 1)(x => graft.ops.Pii.cardCount(c(x.head)))
      scalar("graft_strip_html", 1, 1)(x =>
        graft.ops.TextAnalysis.stripHtml(c(x.head)))
      scalar("graft_simhash", 1, 1)(x => graft.ops.Dedup.simhashBits(c(x.head)))
      scalar("graft_minhash", 3, 3)(x => graft.ops.Dedup.minhashSignature(
        c(x.head), intLit(x(1), "graft_minhash ngram n"),
        intLit(x(2), "graft_minhash num_perm")))
      scalar("graft_minhash_sim", 2, 2)(x =>
        graft.ops.Dedup.minhashEstimate(c(x.head), c(x(1))))
      scalar("graft_jaccard", 2, 2)(x =>
        graft.ops.Dedup.jaccard(c(x.head), c(x(1))))
      scalar("graft_quality", 1, 1)(x => graft.ops.TextAnalysis.quality(c(x.head)))
      scalar("graft_langid", 1, 1)(x => graft.ops.TextAnalysis.langId(c(x.head)))
      scalar("graft_token_count", 1, 1)(x =>
        graft.ops.TextAnalysis.tokenCount(c(x.head)))
    }
    // change-data-feed read as a SQL table function (Delta's table_changes)
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.catalog.TableChangesTvf.getClass.getName, "table_changes"),
      (exprs: Seq[Expression]) => graft.catalog.TableChangesTvf.plan(exprs)))
    // version inventory as a SQL table function (DESCRIBE HISTORY analog)
    ext.injectTableFunction((
      FunctionIdentifier("table_history"),
      new ExpressionInfo(graft.catalog.TableHistoryTvf.getClass.getName, "table_history"),
      (exprs: Seq[Expression]) => graft.catalog.TableHistoryTvf.plan(exprs)))
    // one-row operational summary (DESCRIBE DETAIL analog)
    ext.injectTableFunction((
      FunctionIdentifier("table_detail"),
      new ExpressionInfo(graft.catalog.TableDetailTvf.getClass.getName, "table_detail"),
      (exprs: Seq[Expression]) => graft.catalog.TableDetailTvf.plan(exprs)))
    // persisted near-dup index probe (B152's SQL door)
    ext.injectTableFunction((
      FunctionIdentifier("neardup_candidates"),
      new ExpressionInfo(graft.catalog.NearDupCandidatesTvf.getClass.getName,
        "neardup_candidates"),
      (exprs: Seq[Expression]) => graft.catalog.NearDupCandidatesTvf.plan(exprs)))
    // per-file inventory of the live version (Iceberg .files analog)
    ext.injectTableFunction((
      FunctionIdentifier("table_files"),
      new ExpressionInfo(graft.catalog.TableFilesTvf.getClass.getName, "table_files"),
      (exprs: Seq[Expression]) => graft.catalog.TableFilesTvf.plan(exprs)))
    // the streaming table tier's SQL door: a table's change feed as a
    // streaming relation (read_stream / STREAM(tbl) analog)
    ext.injectTableFunction((
      FunctionIdentifier("read_stream"),
      new ExpressionInfo(graft.catalog.ReadStreamTvf.getClass.getName, "read_stream"),
      (exprs: Seq[Expression]) => graft.catalog.ReadStreamTvf.plan(exprs)))
  }
}
