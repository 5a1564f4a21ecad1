package graft.catalog

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.io.Fs
import org.apache.spark.sql.{GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.AliasIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, SubqueryAlias, UnresolvedWith, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.StructType

/** Persistent SQL views over [[GraftCatalog]] warehouses (B178) — the
  * `CREATE [OR REPLACE] VIEW` / `DROP VIEW` / `SHOW VIEWS` /
  * `ALTER VIEW … AS` surface every SQL warehouse user expects, and the
  * cheapest row-level-security / column-masking primitive a 100 TB
  * deployment has (a view is a stored predicate + projection the
  * optimizer inlines, so pruning/pushdown apply as if the user had
  * written the filter themselves — zero materialization).
  *
  * Spark 4.1 ships the DSv2 `ViewCatalog` interface but its SQL layer
  * does not yet route view DDL or view reads to it, so the engine
  * bridges with the classic extension pair (the shape Delta used for
  * MERGE pre-DSv2): a parser interception converts view DDL over Graft
  * catalogs into runnable commands ([[GraftSqlParser]]), and a
  * resolution rule ([[GraftViewRule]]) inlines view reads during
  * analysis. [[GraftCatalog]] still implements `ViewCatalog` fully, so
  * the moment Spark wires the native path the same storage serves it.
  *
  * Storage: a view is a directory in the warehouse exactly where the
  * same-named table would live, holding a single `_VIEW` properties
  * file (atomic temp+move replace — readers see the old or the new
  * definition, never a torn one). No version directories, so the
  * table/view namespaces are disjoint by construction (`_CURRENT`
  * marks tables, `_VIEW` marks views) and every existing walker —
  * `listTables`, namespace listing, DROP TABLE — distinguishes them
  * for free.
  *
  * Name-resolution semantics (each pinned by ViewSpec):
  *  - The view body is stored as ORIGINAL SQL TEXT plus the creation
  *    context (current catalog + namespace). At read time every
  *    relation reference in the parsed body that does not already name
  *    a registered catalog is qualified with that stored context, so
  *    the view means the same thing from any reader session regardless
  *    of its `USE` state — standard persisted-view behavior.
  *  - CTE names visible in the body are never qualified (they are not
  *    tables), and references to session/global TEMP views are refused
  *    at CREATE (a persisted definition must not capture session
  *    state) — both mirror Spark's own persisted-view rules.
  *  - Temp views SHADOW catalog views on read (the analyzer resolves
  *    them earlier in the same batch), matching table precedence.
  *  - The schema is pinned at creation: reads project the stored
  *    columns BY NAME and cast to the stored type, so a base table
  *    gaining columns leaves `SELECT *` views unchanged (Spark's
  *    schema-compensation default); a dropped column fails loudly.
  *    `WITH SCHEMA EVOLUTION` opts out and lets the output drift.
  *  - Nested views expand recursively (depth-capped), and CREATE walks
  *    the stored dependency graph to refuse cycles up front.
  *  - Views are read-only: INSERT/UPDATE/DELETE/MERGE targeting a view
  *    fail with a dedicated error before any write path runs.
  *
  * Scale: expansion is pure plan splicing at analysis time — the
  * executed plan is identical to the user having written the body
  * inline, so Catalyst pushes filters/projections THROUGH the view
  * into the scans (stats skipping, hidden-partition pruning, DV
  * subtraction all compose; ViewSpec plan-asserts pushdown).
  */
private[graft] object GraftViews {

  /** Marker file inside the view's directory. Reserved-prefix name, so
    * a plain directory read and the catalog's own listings ignore it.
    */
  val Marker = "_VIEW"

  /** Backstop for definition recursion a concurrent REPLACE could
    * sneak past the CREATE-time cycle walk (Spark's own nested-view
    * depth default is 100; views-on-views deeper than this is a
    * modeling bug, not a workload).
    */
  val MaxDepth = 32

  /** `cols` is the pinned OUTPUT schema (user column list applied);
    * `queryCols` records, per output column, the name the body itself
    * produced at creation — the by-name key the read-time pinning
    * projection resolves against (a user column list renames the
    * output, so the two differ exactly then; Spark's CatalogTable
    * stores the same pair as viewQueryColumnNames).
    */
  case class ViewDef(sql: String, cols: StructType, colComments: Seq[Option[String]],
      evolve: Boolean, comment: Option[String], ctxCatalog: String,
      ctxNamespace: Seq[String], properties: Map[String, String], createdMs: Long,
      queryCols: Seq[String] = Nil) {
    def queryColFor(i: Int): String =
      if (i < queryCols.length) queryCols(i) else cols.fields(i).name
  }

  def isView(root: String): Boolean = Files.isRegularFile(Paths.get(root, Marker))

  def load(root: String): Option[ViewDef] = {
    val p = Paths.get(root, Marker)
    if (!Files.isRegularFile(p)) None
    else {
      val jp = new java.util.Properties()
      val in = Files.newInputStream(p)
      try jp.load(in) finally in.close()
      def get(k: String) = Option(jp.getProperty(k))
      val cols = StructType.fromDDL(get("cols").getOrElse(
        throw new IllegalStateException(s"corrupt view marker (no cols): $p")))
      val nNs = get("ctx.ns.count").map(_.toInt).getOrElse(0)
      val ns = (0 until nNs).map(i => jp.getProperty(s"ctx.ns.$i"))
      val comments = cols.indices.map(i => get(s"colcomment.$i"))
      import scala.jdk.CollectionConverters._
      val props = jp.stringPropertyNames().asScala.toSeq
        .filter(_.startsWith("prop.")).map(k => k.drop(5) -> jp.getProperty(k)).toMap
      val qCols = cols.indices.map(i =>
        get(s"querycol.$i").getOrElse(cols.fields(i).name))
      Some(ViewDef(get("sql").getOrElse(throw new IllegalStateException(
          s"corrupt view marker (no sql): $p")),
        cols, comments, get("evolve").contains("true"), get("comment"),
        get("ctx.catalog").getOrElse("spark_catalog"), ns, props,
        get("created").map(_.toLong).getOrElse(0L), qCols))
    }
  }

  /** Atomic store: temp file + ATOMIC_MOVE, the `_PROPS` pattern — a
    * REPLACE is one rename, so a concurrent reader loads the old or the
    * new definition, never a torn file.
    */
  def store(root: String, d: ViewDef): Unit = {
    Files.createDirectories(Paths.get(root))
    val jp = new java.util.Properties()
    jp.setProperty("sql", d.sql)
    jp.setProperty("cols", d.cols.toDDL)
    jp.setProperty("evolve", d.evolve.toString)
    d.comment.foreach(jp.setProperty("comment", _))
    jp.setProperty("ctx.catalog", d.ctxCatalog)
    jp.setProperty("ctx.ns.count", d.ctxNamespace.size.toString)
    d.ctxNamespace.zipWithIndex.foreach { case (s, i) => jp.setProperty(s"ctx.ns.$i", s) }
    d.colComments.zipWithIndex.foreach { case (c, i) =>
      c.foreach(jp.setProperty(s"colcomment.$i", _)) }
    d.properties.foreach { case (k, v) => jp.setProperty(s"prop.$k", v) }
    d.queryCols.zipWithIndex.foreach { case (n, i) => jp.setProperty(s"querycol.$i", n) }
    jp.setProperty("created", d.createdMs.toString)
    val tmp = Paths.get(root, Marker + ".tmp")
    val out = Files.newOutputStream(tmp)
    try jp.store(out, null) finally out.close()
    Files.move(tmp, Paths.get(root, Marker), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def drop(root: String): Unit = Fs.deleteRecursively(Paths.get(root))

  private[catalog] def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft views: $msg")

  /** CTE names defined anywhere in the body — a slight over-approximation
    * of lexical scope (a table deliberately shadowed by an outer CTE name
    * would also go unqualified), matching the precedence CTEs already
    * have over tables in Spark's own substitution.
    */
  private def cteNames(plan: LogicalPlan): Set[String] =
    plan.collect { case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase) }
      .flatten.toSet

  private def globalTempDb(spark: SparkSession): String =
    spark.conf.get("spark.sql.globalTempDatabase", "global_temp").toLowerCase

  /** Pin every relation reference in a parsed view body to the CREATE
    * session's catalog + namespace: references already starting with a
    * registered catalog name pass through, CTE names pass through,
    * everything else gains the stored context — run identically at
    * CREATE (validation) and at every read (expansion), so the two can
    * never disagree on what the text means.
    */
  def qualify(spark: SparkSession, plan: LogicalPlan, ctxCat: String,
      ctxNs: Seq[String]): LogicalPlan = {
    val ctes = cteNames(plan)
    plan transform {
      case u: UnresolvedRelation =>
        val parts = u.multipartIdentifier
        if (parts.length == 1 && ctes.contains(parts.head.toLowerCase)) u
        else if (parts.length > 1 && GraftSqlShims.isCatalogName(spark, parts.head)) u
        else if (parts.head.toLowerCase == globalTempDb(spark)) u
        else if (parts.length == 1) u.copy(multipartIdentifier = (ctxCat +: ctxNs) :+ parts.head)
        else u.copy(multipartIdentifier = ctxCat +: parts)
    }
  }

  /** CREATE-time guard: a persisted definition must not capture session
    * state, so any body reference that would resolve to a session/global
    * temp view is refused (Spark's own persisted-view rule).
    */
  private def refuseTempRefs(spark: SparkSession, plan: LogicalPlan): Unit = {
    val ctes = cteNames(plan)
    plan foreach {
      case u: UnresolvedRelation =>
        val parts = u.multipartIdentifier
        val cte = parts.length == 1 && ctes.contains(parts.head.toLowerCase)
        if (!cte && parts.length <= 2 && GraftSqlShims.isTempView(spark, parts))
          err(s"cannot persist a view referencing temporary view " +
            s"${parts.mkString(".")} — persisted definitions must not " +
            "capture session state")
      case _ =>
    }
  }

  /** Resolve a multipart name to (catalog, viewRoot, def) when it names a
    * Graft catalog view.
    */
  def resolveView(spark: SparkSession,
      parts: Seq[String]): Option[(GraftCatalog, String, ViewDef)] = {
    val (plugin, ident) =
      try GraftSqlShims.resolveIdent(spark, parts)
      catch { case _: Exception => return None }
    plugin match {
      case g: GraftCatalog =>
        g.viewDefFor(ident).map { case (root, d) => (g, root, d) }
      case _ => None
    }
  }

  /** Refuse definitions whose stored dependency graph would reach back to
    * `selfRoot` — run at CREATE/REPLACE, so reads never discover a cycle
    * (the [[MaxDepth]] guard backstops races).
    */
  def assertAcyclic(spark: SparkSession, selfRoot: String, sql: String,
      ctxCat: String, ctxNs: Seq[String], selfName: String): Unit = {
    val canonicalSelf = Paths.get(selfRoot).normalize.toString
    var frontier = List((sql, ctxCat, ctxNs))
    var seen = Set.empty[String]
    while (frontier.nonEmpty) {
      val (s, cat, ns) = frontier.head
      frontier = frontier.tail
      val q = qualify(spark, GraftSqlShims.parseQuery(spark, s), cat, ns)
      q.collect { case u: UnresolvedRelation => u.multipartIdentifier }.foreach { parts =>
        resolveView(spark, parts).foreach { case (_, root, d) =>
          val canon = Paths.get(root).normalize.toString
          if (canon == canonicalSelf)
            err(s"recursive view: $selfName would (transitively) reference itself")
          if (!seen(canon)) {
            seen += canon
            frontier = (d.sql, d.ctxCatalog, d.ctxNamespace) :: frontier
          }
        }
      }
    }
  }

  /** Delta-style direct path query: `SELECT … FROM graft.`/table/root``
    * resolves to the same pinned snapshot `spark.read.format("graft")`
    * serves (B184). Fires only for the two-part shape whose head is the
    * datasource name and whose tail looks like a path carrying a
    * published version. Substituted at PARSE time ([[GraftSqlParser]]):
    * the analyzer's own direct-query fallback throws before any
    * extended resolution rule runs, so the parser seam is the only
    * place this form can be served. (Corollary: a catalog literally
    * named `graft` reports missing tables with the engine's
    * direct-query error instead of not-found — the name collision is
    * the price of the Delta-style spelling, and the error still names
    * the identifier.)
    */
  private[catalog] def directPathQuery(
      u: UnresolvedRelation): Option[LogicalPlan] = {
    val parts = u.multipartIdentifier
    if (parts.length == 2 && parts.head.equalsIgnoreCase("graft") &&
        parts(1).contains("/") &&
        graft.ops.Sinks.currentVersion(parts(1)).isDefined) {
      val provider = new GraftDataSource
      val opts = new java.util.HashMap[String, String]()
      opts.put("path", parts(1))
      val table = provider.getTable(null, Array.empty, opts)
      Some(
        org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          .create(table, None, None,
            new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts)))
    } else None
  }

  private val depth = new ThreadLocal[Integer] { override def initialValue: Integer = 0 }

  /** Inline one view read: parse the stored text, qualify with the stored
    * context, analyze it as its own nested run (so CTE substitution and
    * every other analyzer batch apply), then pin the stored schema by
    * name (unless the view opted into evolution) and alias the subtree as
    * the view, so `v.col` qualifies. Re-entrant through nested views via
    * the analyzer itself — [[GraftViewRule]] fires inside the nested run.
    */
  def expand(spark: SparkSession, catName: String, ident: Identifier,
      d: ViewDef): LogicalPlan = {
    if (depth.get >= MaxDepth)
      err(s"view nesting exceeds $MaxDepth expanding $catName.$ident — " +
        "cyclic or pathologically deep view graph")
    depth.set(depth.get + 1)
    try {
      val parsed = GraftSqlShims.parseQuery(spark, d.sql)
      val analyzed = GraftSqlShims.analyzed(
        spark, qualify(spark, parsed, d.ctxCatalog, d.ctxNamespace))
      val body: LogicalPlan = if (d.evolve) analyzed else {
        val res = GraftSqlShims.resolver(spark)
        val tz = Some(GraftSqlShims.sessionTimeZone(spark))
        val projs: Seq[NamedExpression] = d.cols.fields.toSeq.zipWithIndex.map {
          case (f, i) =>
          val bodyName = d.queryColFor(i)
          val ms = analyzed.output.filter(a => res(a.name, bodyName))
          if (ms.isEmpty)
            err(s"view $catName.$ident: stored column '$bodyName' no longer " +
              "exists in the view body's output — the underlying schema " +
              "drifted; recreate the view (CREATE OR REPLACE VIEW)")
          if (ms.length > 1)
            err(s"view $catName.$ident: stored column '$bodyName' is ambiguous " +
              "in the view body's output; recreate the view")
          val e = if (ms.head.dataType == f.dataType) ms.head
            else Cast(ms.head, f.dataType, tz)
          Alias(e, f.name)()
        }
        Project(projs, analyzed)
      }
      SubqueryAlias(
        AliasIdentifier(ident.name, catName +: ident.namespace().toSeq), body)
    } finally depth.set(depth.get - 1)
  }

  /** Shared CREATE/REPLACE implementation (SQL door + ViewCatalog door):
    * validates the body end to end — parse, temp-ref refusal, cycle walk,
    * full analysis — then pins the output schema and stores atomically.
    */
  def create(spark: SparkSession, cat: GraftCatalog, catName: String,
      ident: Identifier, sql: String, userCols: Seq[(String, Option[String])],
      comment: Option[String], props: Map[String, String],
      allowExisting: Boolean, replace: Boolean, evolve: Boolean): Unit = {
    val root = cat.viewRootFor(ident)
    if (graft.ops.Sinks.currentVersion(root).isDefined)
      err(s"$catName.$ident is a table; CREATE VIEW cannot shadow it " +
        "(DROP TABLE first)")
    if (isView(root) && !replace) {
      if (allowExisting) return
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    }
    val ctxCat = GraftSqlShims.currentCatalogName(spark)
    val ctxNs = GraftSqlShims.currentNamespace(spark).toSeq
    val parsed = GraftSqlShims.parseQuery(spark, sql)
    refuseTempRefs(spark, parsed)
    assertAcyclic(spark, root, sql, ctxCat, ctxNs, s"$catName.$ident")
    val analyzed = GraftSqlShims.analyzed(spark, qualify(spark, parsed, ctxCat, ctxNs))
    val outNames: Seq[String] =
      if (userCols.isEmpty) analyzed.output.map(_.name)
      else {
        if (userCols.length != analyzed.output.length)
          err(s"view $catName.$ident declares ${userCols.length} columns but " +
            s"the body produces ${analyzed.output.length}")
        userCols.map(_._1)
      }
    val res = GraftSqlShims.resolver(spark)
    outNames.foreach { n =>
      if (outNames.count(res(_, n)) > 1)
        err(s"view $catName.$ident: duplicate output column '$n' — alias the " +
          "body's columns to distinct names")
    }
    val cols = StructType(outNames.zip(analyzed.output).map { case (n, a) =>
      org.apache.spark.sql.types.StructField(n, a.dataType, a.nullable) })
    val comments =
      if (userCols.isEmpty) Seq.fill(cols.length)(None: Option[String])
      else userCols.map(_._2)
    store(root, ViewDef(sql, cols, comments, evolve, comment, ctxCat, ctxNs,
      props, System.currentTimeMillis(), analyzed.output.map(_.name)))
  }
}

/** Read-side view inlining: an analyzer rule that replaces any remaining
  * `UnresolvedRelation` naming a Graft catalog view with the analyzed
  * view body ([[GraftViews.expand]]). Runs in the extended-resolution
  * slot of the Resolution batch — AFTER `ResolveRelations` in each
  * iteration, so tables and temp views win first (temp shadowing for
  * free) and only genuinely unresolved names reach the view probe.
  * Write statements targeting a view are refused up front with a
  * dedicated error (and their targets are excluded from expansion, so
  * the refusal — not a downstream resolution artifact — is what the
  * user sees).
  */
case class GraftViewRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def asView(u: UnresolvedRelation) =
    GraftViews.resolveView(spark, u.multipartIdentifier)

  /** Aliased write targets (`MERGE INTO v AS t`) wrap the relation in
    * SubqueryAlias layers — the refusal must see through them.
    */
  private def unwrap(p: LogicalPlan): LogicalPlan = p match {
    case s: SubqueryAlias => unwrap(s.child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val writeTargets: Seq[LogicalPlan] = plan.collect {
      case i: InsertIntoStatement => unwrap(i.table)
      case d: DeleteFromTable => unwrap(d.table)
      case u: UpdateTable => unwrap(u.table)
      case m: MergeIntoTable => unwrap(m.targetTable)
    }
    writeTargets.foreach {
      case u: UnresolvedRelation if asView(u).isDefined =>
        GraftViews.err(s"${u.multipartIdentifier.mkString(".")} is a view — " +
          "views are read-only (write to the underlying table)")
      case _ =>
    }
    val skip = writeTargets.collect { case u: UnresolvedRelation => u }
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation if !skip.exists(_ eq u) =>
        // temp views shadow catalog views; if ResolveRelations left this
        // node unresolved it is not a temp view, but guard anyway — the
        // probe is cheap and ordering inside the batch is not a contract
        if (u.multipartIdentifier.length <= 2 &&
            GraftSqlShims.isTempView(spark, u.multipartIdentifier)) u
        else asView(u) match {
          case Some((g, _, d)) =>
            if (u.isStreaming)
              GraftViews.err("cannot read view " +
                s"${u.multipartIdentifier.mkString(".")} as a stream — " +
                "readStream the underlying table instead")
            val ident = GraftSqlShims.resolveIdent(spark, u.multipartIdentifier)._2
            GraftViews.expand(spark, g.name(), ident, d)
          case None => u
        }
    }
  }
}
