package graft.catalog

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util

import graft.ops.{Sinks, TableProps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TruncatableTable, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` over the [[graft.ops.Sinks]] versioned
  * table layout — the piece that turns the commit protocol (immutable
  * `v<N>/` dirs + atomically-flipped `_CURRENT` pointer) into a
  * first-class SQL table format:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/warehouse")
  *
  *   SELECT * FROM graft.events_agg                      -- current version
  *   SELECT * FROM graft.events_agg VERSION AS OF 2      -- time travel
  *   SELECT * FROM graft.events_agg TIMESTAMP AS OF '...'-- commit-time travel
  *   CREATE TABLE graft.daily AS SELECT ...              -- publishes v0 (v1 for CTAS data)
  *   INSERT INTO graft.daily VALUES ...                  -- publishes a NEW version
  *   INSERT OVERWRITE graft.daily SELECT ...             -- publishes a NEW version
  *   SHOW TABLES IN graft; SHOW NAMESPACES IN graft; DROP TABLE graft.daily
  * }}}
  *
  * `graft.ns.t` maps to `<root>/ns/t`; a table is any directory with a
  * `_CURRENT` pointer. Reads delegate to Spark's own v2 parquet scan
  * (vectorized reader, filter pushdown, column pruning — identical to
  * `spark.read.parquet` on the resolved version dir), so the catalog
  * adds version resolution, not a bespoke read path. Version resolution
  * happens at `loadTable` (analysis) time: a query holds the version it
  * resolved even if a writer publishes or compaction vacuums mid-query —
  * the same snapshot-isolation story ScaleSpec hammers via the API.
  *
  * Writes route through the SAME commit protocol as the API
  * ([[Sinks.publishVersioned]] with an OCC precondition): every SQL
  * write — append or overwrite — lands as a NEW atomic version, so
  * individual version directories stay immutable and every pre-write
  * state remains time-travelable. A table loaded AT a version
  * (`VERSION/TIMESTAMP AS OF`) is a pinned snapshot and stays strictly
  * read-only. SQL `INSERT INTO` (append) is O(delta):
  * [[Sinks.appendVersioned]] writes only the new rows and carries the
  * current files forward by link, inheriting stats columns and emitting
  * the insert change feed; CDC upserts belong on
  * [[graft.ops.Merge.applyTo]], which shuffles only the delta.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with ViewCatalog with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _

  /** FunctionCatalog (B189): exactly one function — `bucket`, the
    * hidden-partition hash ([[GraftBucketFunction]]). Spark resolves it
    * when translating a [[GraftScan]]'s reported `bucket(n, col)`
    * partitioning into a TransformExpression for storage-partitioned
    * join matching. Listed in the session namespace only.
    */
  /** DEFAULT column values are supported (B190): Spark routes `DEFAULT`
    * clauses in CREATE/ALTER to the catalog and fills INSERT literals
    * from the schema metadata [[GraftDefaults]] injects.
    */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // identity columns (round-15): GENERATED ... AS IDENTITY routes
      // the spec through the schema's IDENTITY_INFO_* metadata into
      // the engine's _PROPS store ([[graft.ops.Identity]])
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      // generated columns (round-16): GENERATED ALWAYS AS (expr) routes
      // the expression through the schema's GENERATION_EXPRESSION
      // metadata (Spark validates it at CREATE) into _PROPS
      // ([[graft.ops.Generated]])
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  /** Native constraint DDL (B191): `CREATE TABLE (…, CONSTRAINT c CHECK
    * (expr))` routes through the TableInfo door — CHECK constraints
    * convert to the engine's `check.<name>` storage (the deprecated-door
    * path below validates them against the empty frame and stores them,
    * so enforcement, evolution-rewrite, and DESCRIBE behavior are
    * IDENTICAL to the TBLPROPERTIES spelling). Non-CHECK constraint
    * kinds (PK/FK/UNIQUE) and NOT ENFORCED checks are refused loudly —
    * this engine stores nothing it does not enforce.
    */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    // identity columns (round-15): the spec rides info.columns()'s
    // IdentityColumnSpec — info.schema()'s StructType conversion drops
    // it — so re-encode it as the IDENTITY_INFO_* field metadata the
    // schema door stores into _PROPS. Generated columns (round-16) ride
    // info.columns()'s generationExpression the same way.
    val schemaWithIdentity = StructType(
      info.schema().fields.zip(info.columns()).map { case (f, c) =>
        val withId = Option(c.identityColumnSpec()).fold(f)(s =>
          graft.ops.Identity.encodeField(f, s))
        Option(c.generationExpression()).fold(withId)(sql =>
          withId.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(withId.metadata)
            .putString(org.apache.spark.sql.catalyst.util.GeneratedColumn
              .GENERATION_EXPRESSION_METADATA_KEY, sql).build()))
      })
    val cons = info.constraints()
    if (cons.isEmpty)
      return createTable(ident, schemaWithIdentity, info.partitions(),
        info.properties())
    val checkProps = cons.toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced(),
          s"$catalogName: CHECK constraint ${c.name()} NOT ENFORCED is not " +
            "supported — this engine stores nothing it does not enforce")
        (GraftCheck.Prefix + c.name()) -> c.predicateSql()
      case other => throw new UnsupportedOperationException(
        s"$catalogName: only CHECK constraints are supported; got " +
          s"${other.toDDL} — PRIMARY KEY/FOREIGN KEY/UNIQUE are " +
          "informational in Spark and this engine stores nothing it " +
          "does not enforce")
    }
    val props = new util.HashMap[String, String](info.properties())
    checkProps.foreach { case (k, v) => props.put(k, v) }
    createTable(ident, schemaWithIdentity, info.partitions(), props)
  }

  // round-15 (B193): the range transforms join `bucket` — Spark
  // resolves every transform a GraftScan reports in its
  // KeyGroupedPartitioning through this FunctionCatalog
  private val transformFunctions
      : Map[String, org.apache.spark.sql.connector.catalog.functions.UnboundFunction] =
    Map(
      "bucket" -> GraftBucketFunction,
      "days" -> GraftTemporalFunctions.Days,
      "months" -> GraftTemporalFunctions.Months,
      "years" -> GraftTemporalFunctions.Years,
      "hours" -> GraftTemporalFunctions.Hours,
      "truncate" -> GraftTruncateFunction)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      transformFunctions.keys.toArray.sorted
        .map(n => Identifier.of(Array.empty[String], n))
    else Array.empty
  private val TruncWidth = """truncate_(\d{1,9})""".r
  override def loadFunction(ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty) ident.name().toLowerCase match {
      // width-in-the-name truncate: Spark's SPJ accepts only UNARY
      // transforms, so the scan reports truncate(n, col) as
      // truncate_<n>(col) and this door serves the matching function
      case TruncWidth(n) if n.toInt >= 1 => new GraftTruncateWidthFunction(n.toInt)
      case other => transformFunctions.getOrElse(other,
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
    }
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"GraftCatalog requires spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  /** One identifier path segment: no traversal, and none of the layout's
    * own metadata names (`_CURRENT`/`_LOCK`/`.stage-*`/`v<N>`…) — a table
    * named `_CURRENT` would corrupt listing for its whole namespace.
    */
  /** Names the layout reserves for itself (sidecars, version dirs,
    * staging) — shared by identifier validation and directory listing so
    * the two can never disagree.
    */
  private def reservedName(n: String): Boolean =
    n.startsWith(".") || n.startsWith("_") || n.matches("v\\d+")

  private def validPart(p: String): Boolean =
    p.nonEmpty && !p.contains("/") && !p.contains("\\") &&
      p != "." && p != ".." && !reservedName(p)

  /** Resolved namespace path, or None when ANY segment is reserved or a
    * traversal token — probes over illegal names (including a backticked
    * `..`) answer "absent"; they can never resolve outside the root.
    */
  private def nsPath(parts: Seq[String]): Option[java.nio.file.Path] =
    if (parts.forall(validPart)) Some(Paths.get((root +: parts).mkString("/")))
    else None

  /** A directory is a NAMESPACE only if it carries none of the table
    * layout's markers: `_CURRENT` makes it a table, and a `_LOCK` (or
    * staging debris) without `_CURRENT` marks a failed/racing CREATE —
    * neither table nor namespace, invisible until recreated.
    */
  private def isNamespaceDir(p: java.nio.file.Path): Boolean =
    Files.isDirectory(p) &&
      Sinks.currentVersion(p.toString).isEmpty &&
      !Files.exists(p.resolve("_LOCK")) &&
      !GraftViews.isView(p.toString)

  /** `<root>/<namespace...>/<name>`, with path-traversal components and
    * layout-reserved names rejected (identifiers come from SQL text).
    */
  private def tableRoot(ident: Identifier): String = {
    val parts = ident.namespace().toSeq :+ ident.name()
    require(parts.forall(validPart),
      s"illegal table identifier (reserved or traversal segment): $ident")
    (root +: parts).mkString("/")
  }

  /** The on-disk root of `ident` — [[graft.catalog.GraftAutoMergeRule]]
    * needs it pre-resolution (its flag-flip must run before the
    * analyzer expands merge stars, when the target is still a bare
    * multipart name).
    */
  private[graft] def tableRootFor(ident: Identifier): String = tableRoot(ident)

  /** Read half shared by both table flavors: delegate to the v2 parquet
    * scan over one resolved version directory.
    */
  private sealed abstract class SnapshotTable(delegate: ParquetTable,
      tRoot0: String, versionDir: String)
    extends Table with SupportsRead with GraftSnapshotDir {
    override def snapshotVersionDir: String = versionDir
    override def snapshotTableRoot: String = tRoot0
    override def name(): String = delegate.name
    // hidden partitioning (B161): the file-level delegate re-discovers
    // the derived `_tp_*` directory columns and appends them to its
    // schema — the TABLE's logical schema must not carry them (readers
    // hide, writers re-derive)
    // computed once per table object (the checkProps discipline:
    // analysis asks schema() many times per statement, and each call
    // re-read the added-column marker and rebuilt the field list —
    // stack-sampled as a top driver cost of the DDL family)
    private lazy val snapshotSchema: StructType = GraftDefaults.injectExistence(
      StructType(delegate.schema
        .filterNot(f => graft.ops.Transforms.parse(f.name).isDefined)
        // footer-echoed DEFAULT metadata never leaks (an INSERT writes
        // its analyzed schema into the files it lands): the _PROPS
        // store is the only truth, and a snapshot read of a
        // since-DROPped default must not resurrect it. The writable
        // table re-injects the live declarations on top
        // ([[GraftDefaults.inject]]); the EXISTENCE default of an
        // `ADD COLUMN … DEFAULT` (round-15) re-injects from the
        // version's own added-column marker — pre-ADD files backfill
        // the ADD-time constant, not NULL. Identity metadata strips on
        // the same footer-hygiene rule (the writable table re-injects)
        .map(GraftDefaults.stripFieldDefaults)
        .map(graft.ops.Identity.stripField)
        .map(graft.ops.Generated.stripField)), versionDir)
    override def schema(): StructType = snapshotSchema
    override def partitioning(): Array[Transform] = delegate.partitioning()
    override def properties(): util.Map[String, String] = delegate.properties()
    // B185/B186: sidecar-exact plan statistics + key-grouped partition
    // reporting ride every catalog read through the scan wrapper.
    // Round-16: a reader-side COLUMN-MAPPED version scans through a
    // PHYSICAL-name delegate (the builder translates, the scan wrapper
    // aliases back) so the rename stays metadata-only on the v2 path
    // — the table's user-facing schema() above stays logical.
    private lazy val scanDelegate: ParquetTable =
      if (graft.ops.ColMap.load(versionDir).nonEmpty &&
          MorSpj.readerSide(tRoot0, versionDir))
        GraftTables.delegate(delegate.name, tRoot0, versionDir,
          physicalNames = true)
      else delegate
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      GraftScans.wrap(scanDelegate.newScanBuilder(options), tRoot0, versionDir)
    protected def readCaps(): util.HashSet[TableCapability] = {
      val caps = new util.HashSet[TableCapability](delegate.capabilities())
      caps.remove(TableCapability.BATCH_WRITE)
      caps.remove(TableCapability.V1_BATCH_WRITE)
      caps.remove(TableCapability.STREAMING_WRITE)
      caps.remove(TableCapability.TRUNCATE)
      caps.remove(TableCapability.OVERWRITE_BY_FILTER)
      caps.remove(TableCapability.OVERWRITE_DYNAMIC)
      caps
    }
  }

  /** A pinned `VERSION/TIMESTAMP AS OF` snapshot: reads only. A version
    * directory is immutable once its `_CURRENT` rename lands; with no
    * write capability, Spark rejects every write form at analysis.
    */
  private final class ReadOnlySnapshot(delegate: ParquetTable, tRoot: String,
      versionDir: String) extends SnapshotTable(delegate, tRoot, versionDir) {
    override def capabilities(): util.Set[TableCapability] = readCaps()
    override def partitioning(): Array[Transform] = partitionTransforms(tRoot)
  }

  /** The CURRENT table: reads from the resolved version, writes publish
    * the NEXT version through the commit protocol (V1Write fallback —
    * the df lands via [[Sinks.publishVersioned]] with the resolved
    * version as the OCC precondition, so a concurrent publish fails the
    * statement instead of losing an update).
    */
  private final class WritableTable(delegate: ParquetTable, tRoot: String,
      baseVersion: Long)
      extends SnapshotTable(delegate, tRoot, Sinks.versionPath(tRoot, baseVersion))
      with SupportsWrite with TruncatableTable with GraftWritableTable {
    /** `TRUNCATE TABLE` — an EMPTY new version through the same OCC
      * commit (this statement's analysis-time base is the
      * precondition): the data vanishes from the live pointer while
      * every pre-truncate version stays time-travelable, exactly the
      * versioned-layout spelling of Delta's truncate-as-delete-all.
      * Sidecars deliberately do not carry (there is nothing to
      * describe); RESTORE undoes it.
      */
    override def truncateTable(): Boolean = {
      val spark = SparkSession.active
      val empty = Sinks.readVersion(spark, tRoot, baseVersion).limit(0)
      Sinks.publishVersioned(empty, tRoot, Some(baseVersion), opTag = "truncate")
      true
    }
    override def tableRootPath: String = tRoot
    override def tableBaseVersion: Long = baseVersion
    override def partitioning(): Array[Transform] = partitionTransforms(tRoot)
    // DEFAULT column values (B190): re-annotate the footer-derived
    // schema with the stored CURRENT_DEFAULT metadata — what lets
    // Spark's analyzer fill omitted columns and the DEFAULT keyword on
    // every INSERT door. The writable table only: snapshots are reads.
    // Snapshotted once per table object (the checkProps discipline:
    // analysis calls schema() several times per statement — a per-call
    // _PROPS read would buy staleness-inconsistency AND I/O)
    private lazy val injectedSchema: StructType = graft.ops.Generated.inject(
      graft.ops.Identity.inject(
        GraftDefaults.inject(super.schema(), tRoot), tRoot), tRoot)
    override def schema(): StructType = injectedSchema
    // surface stored CHECK constraints through SHOW TBLPROPERTIES —
    // loaded once per table object (analysis calls properties() several
    // times per statement; the object already snapshots its version, so
    // a per-call file read would buy staleness-inconsistency AND I/O)
    private lazy val checkProps: Map[String, String] = GraftCheck.load(tRoot)
    override def properties(): util.Map[String, String] = {
      val m = new util.HashMap[String, String](super.properties())
      checkProps.foreach { case (k, v) => m.put(k, v) }
      m
    }
    // B191: stored checks surface through the NATIVE constraint API too
    // (DESCRIBE/SHOW CREATE and Spark's own write-side validation) —
    // one store, every door. VALID: rows were validated when written or
    // when the constraint was added
    override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      checkProps.filter(_._1.startsWith(GraftCheck.Prefix))
        .toSeq.sortBy(_._1).map { case (k, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix(GraftCheck.Prefix))
          .predicateSql(sql)
          .validationStatus(org.apache.spark.sql.connector.catalog.constraints
            .Constraint.ValidationStatus.VALID)
          .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray
    override def capabilities(): util.Set[TableCapability] = {
      val caps = readCaps()
      caps.add(TableCapability.BATCH_WRITE)
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      // MERGE … WITH SCHEMA EVOLUTION (round-16): Spark's analyzer
      // (ResolveMergeIntoSchemaEvolution) gates on this capability and
      // routes the source-minus-target diff through alterTable — i.e.
      // the same metadata-only ADD COLUMNS door ([[graft.ops.ColMap]]
      // ADD records), with the same loud refusals for NOT NULL /
      // positioned / nested adds and lossy retypes. Advertising the
      // capability alone changes nothing: evolution still requires the
      // explicit clause (or 'graft.schema.autoMerge', which
      // [[GraftDmlRule]] folds into the clause).
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
      caps
    }
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        private var truncateFirst = false
        override def truncate(): WriteBuilder = { truncateFirst = true; this }
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                val spark = data.sparkSession
                // CHECK constraints gate the incoming rows; existing rows
                // were validated when written (or when the constraint was
                // added), so append never re-scans them. Identity columns
                // (round-15) assign their reserved values FIRST so a
                // CHECK naming the identity column sees real values.
                // generated columns (round-16) derive AFTER identity
                // assignment (an expression may reference the identity
                // column) and BEFORE the CHECK gate (a CHECK may
                // reference the generated column)
                val gated = GraftCheck.enforce(
                  graft.ops.Generated.enforce(
                    graft.ops.Identity.assign(data, tRoot), tRoot), tRoot)
                if (truncateFirst || overwrite) {
                  // a full rewrite — keep the skipping tier: re-annotate
                  // with the live sidecar's columns, like compaction does
                  val statsCols = graft.ops.Stats.sidecarCols(
                    spark, Sinks.versionPath(tRoot, baseVersion))
                  Sinks.publishVersioned(gated, tRoot, Some(baseVersion), statsCols)
                } else {
                  // O(delta): new rows written, current files carried by
                  // link; stats columns inherited; the insert feed makes
                  // the commit readable through the table_changes /
                  // streaming-feed fast paths
                  Sinks.appendVersioned(gated, tRoot, Some(baseVersion),
                    emitFeed = true)
                }
                ()
              }
            }
        }
      }
  }

  /** V2 parquet delegate over one version dir. For a PARTITIONED table
    * the full read schema is pinned ([[Sinks.readSchemaFor]]) so
    * partition-directory type inference can never rewrite a declared
    * STRING partition column into a date/int — the user-specified schema
    * makes Spark resolve partition values with the DECLARED types.
    */
  private def parquetDelegate(ident: Identifier, tRoot: String,
      path: String): ParquetTable =
    GraftTables.delegate(s"$catalogName.${ident.toString}", tRoot, path)

  /** The table's declared partition transforms (identity columns), for
    * DESCRIBE/SHOW surfaces and Spark's write-distribution planning.
    */
  private def partitionTransforms(tRoot: String): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    graft.ops.TableProps.partitionCols(tRoot).map { c =>
      graft.ops.Transforms.parse(c) match {
        case Some(t: graft.ops.Transforms.Hour) => Expressions.hours(t.src)
        case Some(t: graft.ops.Transforms.Day) => Expressions.days(t.src)
        case Some(t: graft.ops.Transforms.Month) => Expressions.months(t.src)
        case Some(t: graft.ops.Transforms.Year) => Expressions.years(t.src)
        case Some(t: graft.ops.Transforms.Bucket) => Expressions.bucket(t.n, t.src)
        case Some(t: graft.ops.Transforms.Truncate) =>
          Expressions.apply("truncate",
            Expressions.literal(t.n), Expressions.column(t.src))
        case None => Expressions.identity(c)
      }
    }.toArray
  }

  /** A deletion-vector table is only readable through a session whose
    * optimizer carries [[graft.plans.DvReadRule]] (the subtraction);
    * serving the bare DSv2 scan to a rule-less session would silently
    * return deleted rows — refuse instead. Detection walks the live
    * optimizer's batches reflectively (rules injected via
    * `SparkSessionExtensions` have no public registry), falling back to
    * the `spark.sql.extensions` conf spelling.
    */
  private def requireDvRule(versionDir: String, ident: Identifier): Unit =
    GraftTables.requireReadRule(versionDir, tableRoot(ident),
      s"$catalogName.${ident.toString}")

  /** Identifier guards refuse reserved/traversal segments loudly on the
    * WRITE paths; on the READ path an illegal identifier is simply "no
    * such table" — throwing the require here would abort analysis
    * before later resolution (a `graft.`/path``-style direct query)
    * gets its chance.
    */
  private def tableRootForRead(ident: Identifier): String =
    try tableRoot(ident)
    catch { case _: IllegalArgumentException => throw new NoSuchTableException(ident) }

  override def loadTable(ident: Identifier): Table = {
    val tr = tableRootForRead(ident)
    Sinks.currentVersion(tr) match {
      case Some(v) =>
        requireDvRule(Sinks.versionPath(tr, v), ident)
        new WritableTable(parquetDelegate(ident, tr, Sinks.versionPath(tr, v)), tr, v)
      case None =>
        // B187 metadata tables: `db.tbl.history|files|partitions|tags|
        // detail` — only when the full name is NOT a table (a real
        // same-named table always wins) and the prefix IS one
        metaTable(ident).getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** Resolve `ident` as `<table>.<metadata-suffix>` ([[GraftMetaTables]]),
    * or None when the shape doesn't match a published parent table.
    */
  private def metaTable(ident: Identifier): Option[Table] = {
    val ns = ident.namespace()
    if (ns.isEmpty || !GraftMetaTables.Names(ident.name().toLowerCase)) return None
    val parent = Identifier.of(ns.dropRight(1), ns.last)
    val tr =
      try tableRoot(parent)
      catch { case _: IllegalArgumentException => return None }
    if (Sinks.currentVersion(tr).isEmpty) None
    else Some(GraftMetaTables.table(
      s"$catalogName.${ident.toString}", tr, ident.name().toLowerCase))
  }

  /** `VERSION AS OF <v>` — a number travels to that version; any other
    * string resolves as a named tag ([[Sinks.tagVersion]] — all-digit
    * tag names are rejected at creation, so the namespaces can't
    * collide).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val tr = tableRootForRead(ident)
    if (Sinks.currentVersion(tr).isEmpty) throw new NoSuchTableException(ident)
    val v = version.toLongOption
      .orElse(Sinks.resolveTag(tr, version))
      .getOrElse(throw new IllegalArgumentException(
        s"$catalogName.${ident.toString}: '$version' is neither a version " +
          s"number nor a tag (have tags ${Sinks.listTags(tr).keys.toSeq.sorted
            .mkString(", ")})"))
    if (!Sinks.listVersions(tr).contains(v))
      throw new IllegalArgumentException(
        s"$catalogName.${ident.toString}: version $v not present " +
          s"(have ${Sinks.listVersions(tr).mkString(", ")}) — vacuumed or never published")
    requireDvRule(Sinks.versionPath(tr, v), ident)
    new ReadOnlySnapshot(parquetDelegate(ident, tr, Sinks.versionPath(tr, v)), tr,
      Sinks.versionPath(tr, v))
  }

  /** `TIMESTAMP AS OF <ts>` (micros): the newest version committed at or
    * before the timestamp, by the recorded commit instant
    * ([[Sinks.commitInstantMs]] — the durable `_COMMIT_TS` marker the
    * commit rename writes, dir mtime as the pre-marker fallback; the
    * same reader time-based retention uses, so travelability and
    * retention stay aligned).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val tr = tableRootForRead(ident)
    if (Sinks.currentVersion(tr).isEmpty) throw new NoSuchTableException(ident)
    val live = Sinks.listVersions(tr)
    val eligible = live.filter(v =>
      Sinks.commitInstantMs(Sinks.versionPath(tr, v)) * 1000L <= timestamp)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"$catalogName.${ident.toString}: no version committed at or before " +
          s"timestamp $timestamp us (oldest retained: v${live.min})")
    requireDvRule(Sinks.versionPath(tr, eligible.max), ident)
    new ReadOnlySnapshot(parquetDelegate(ident, tr, Sinks.versionPath(tr, eligible.max)),
      tr, Sinks.versionPath(tr, eligible.max))
  }

  /** `CREATE TABLE` (and the create half of CTAS): publish an EMPTY v0
    * with the declared schema through the commit protocol — CTAS data
    * then arrives as an append, landing v1. The empty frame is built
    * with ONE partition so parquet writes a footer-bearing file and the
    * schema survives for later reads.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val tr = tableRoot(ident)
    if (Sinks.currentVersion(tr).isDefined)
      throw new TableAlreadyExistsException(ident)
    requireCreatableAt(ident, tr)
    val (empty, props) = planCreate(ident, schema, partitions, properties)
    // a lost CREATE race must surface as the exception Spark's
    // IF NOT EXISTS handling understands, not a raw OCC conflict
    try Sinks.publishVersioned(empty, tr, None)
    catch {
      case _: java.util.ConcurrentModificationException =>
        throw new TableAlreadyExistsException(ident)
    }
    // layout + constraint properties land AFTER the publish wins the
    // CREATE race — a loser must never write props into the winner's
    // table. The v0 empty file carries all columns flat, so reads are
    // whole before the props land; the spec governs v1+ writes.
    if (props.nonEmpty) graft.ops.TableProps.update(tr)(_ => props)
    loadTable(ident)
  }

  /** The table/view/namespace shape guards shared by CREATE and the
    * staged (atomic CTAS / REPLACE) doors: the target must not be a
    * VIEW or a NAMESPACE, and its parent must be the catalog root or a
    * real namespace (a table "created" inside another table's directory
    * would become invisible collateral of that table's DROP).
    */
  private def requireCreatableAt(ident: Identifier, tr: String): Unit = {
    // the table/view namespaces are one namespace (SQL standard): a
    // CREATE TABLE over an existing view must fail loudly, not bury the
    // view's marker under version directories
    if (GraftViews.isView(tr))
      throw new IllegalStateException(
        s"$catalogName.${ident.toString} already exists as a VIEW " +
          "(DROP VIEW first)")
    // an existing NAMESPACE must not be silently converted into a table
    // (its child tables would become invisible and a later DROP TABLE
    // would take their data with it)
    if (isNamespaceDir(Paths.get(tr)))
      throw new IllegalStateException(
        s"$catalogName.${ident.toString} already exists as a NAMESPACE")
    val parent = Paths.get(tr).getParent
    val parentOk =
      // the root itself comes from trusted config — create it on first use
      if (ident.namespace().isEmpty) { Files.createDirectories(parent); true }
      else isNamespaceDir(parent)
    if (!parentOk)
      throw new NoSuchNamespaceException(name() +: ident.namespace().toSeq)
  }

  /** Every CREATE-shaped validation and the derived table properties,
    * WITHOUT publishing anything — shared by [[createTable]] and the
    * staged doors. Returns the footer-clean empty frame (identity /
    * generated metadata stripped) and the full `_PROPS` map.
    */
  private def planCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : (org.apache.spark.sql.DataFrame, Map[String, String]) = {
    // PARTITIONED BY (col, …): identity columns give Hive-style
    // directory partitioning inside each version dir. Transform
    // partitioning — days/months/years(ts), bucket(n, col),
    // truncate(n, col) — is HIDDEN partitioning (B161): the table
    // partitions by a derived `_tp_*` column writers materialize,
    // readers hide, and HiddenPartitionRule prunes by. Anything else
    // fails loudly. (Hash-bucketed CO-LOCATION for joins is a different
    // layout — Layout.bucketedTable.)
    def oneRef(t: Transform): String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"$catalogName: partition transform $t must reference exactly " +
          "one top-level column")
      val c = refs(0).fieldNames()(0)
      schema.find(_.name.equalsIgnoreCase(c)).getOrElse(throw new IllegalArgumentException(
        s"$catalogName: partition column $c is not in the table schema")).name
    }
    def intArg(t: Transform): Int = {
      val lits = t.arguments().collect {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value()
      }
      lits.collectFirst {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue()
      }.getOrElse(throw new IllegalArgumentException(
        s"$catalogName: partition transform $t needs an integer argument"))
    }
    val partEntries: Seq[(String, Option[graft.ops.Transforms.T])] =
      partitions.toSeq.map { t =>
        val hidden: Option[graft.ops.Transforms.T] = t.name().toLowerCase match {
          case "identity" => None
          case "hours" | "hour" => Some(graft.ops.Transforms.Hour(oneRef(t)))
          case "days" | "day" => Some(graft.ops.Transforms.Day(oneRef(t)))
          case "months" | "month" => Some(graft.ops.Transforms.Month(oneRef(t)))
          case "years" | "year" => Some(graft.ops.Transforms.Year(oneRef(t)))
          case "bucket" => Some(graft.ops.Transforms.Bucket(intArg(t), oneRef(t)))
          case "truncate" => Some(graft.ops.Transforms.Truncate(intArg(t), oneRef(t)))
          case other => throw new UnsupportedOperationException(
            s"$catalogName: unsupported partition transform '$other' " +
              s"($t) — supported: identity columns, hours/days/months/" +
              "years, bucket(n, col), truncate(n, col)")
        }
        hidden.foreach { h =>
          val srcType = schema.find(_.name.equalsIgnoreCase(h.src)).get.dataType
          h.check(srcType).foreach(msg => throw new IllegalArgumentException(
            s"$catalogName: partition transform ${h.spec}: $msg"))
        }
        (hidden.fold(oneRef(t))(_.colName), hidden)
      }
    val partCols: Seq[String] = partEntries.map(_._1)
    val identityCols = partEntries.collect { case (n, None) => n }
    require(partCols.distinct == partCols,
      s"$catalogName: duplicate partition column in ${partCols.mkString(", ")}")
    require(identityCols.size < schema.size,
      s"$catalogName: at least one non-partition column is required " +
        "(a table of only partition columns has no data files to carry the schema)")
    graft.ops.Transforms.requireNoReservedData(
      schema.fieldNames.toSeq, partCols, s"$catalogName CREATE TABLE")
    // Hive convention, enforced rather than silently reordered: IDENTITY
    // partition columns LAST, in PARTITIONED BY order (derived transform
    // columns are not in the logical schema). Reordering here would break
    // CTAS (Spark writes the query output BY POSITION against the schema
    // this method returns) and partitioned reads reconstruct dir columns
    // after file columns anyway — requiring the declaration to match
    // keeps every version's column order identical
    require(identityCols.isEmpty ||
        schema.fields.takeRight(identityCols.size).map(_.name).toSeq == identityCols,
      s"$catalogName: partition columns must be the LAST table columns, in " +
        s"PARTITIONED BY order — declare (or CTAS-select) " +
        s"(${(schema.fieldNames.filterNot(identityCols.contains) ++ identityCols).mkString(", ")})")
    // fail loudly on clauses this layout cannot honor rather than
    // silently reinterpreting them; benign metadata (comment, owner)
    // passes through ignored
    Option(properties.get("provider")).foreach(p =>
      require(p.equalsIgnoreCase("parquet"),
        s"$catalogName tables are parquet; USING $p is not supported"))
    require(!properties.containsKey("location"),
      s"$catalogName tables live under the catalog root; LOCATION is not supported")
    // identity columns (round-15): the spec rides _PROPS, never footers
    // — strip the IDENTITY_INFO_* metadata (and force the assign-me
    // nullability) before the v0 schema lands in files
    val identitySpecs = graft.ops.Identity.fromSchema(schema)
    identitySpecs.foreach { s =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(s.col)).get
      require(f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType,
        s"$catalogName: identity column ${f.name} must be BIGINT or INT, " +
          s"got ${f.dataType.simpleString}")
      require(s.step != 0,
        s"$catalogName: identity column ${f.name}: INCREMENT BY must be non-zero")
      require(!partEntries.exists(_._1.equalsIgnoreCase(f.name)),
        s"$catalogName: identity column ${f.name} cannot be a partition column")
    }
    // generated columns (round-16): the expression rides the schema's
    // GENERATION_EXPRESSION metadata (Spark's analyzer validated it —
    // deterministic, references only non-generated columns). Same
    // footer hygiene as identity: spec into _PROPS, metadata stripped.
    val generatedSpecs = graft.ops.Generated.fromSchema(schema)
    val spark = SparkSession.active
    generatedSpecs.foreach { s =>
      // the refusal set must be computable on every later DML — a
      // non-parsing expression fails the CREATE, not the first UPDATE
      val srcs = graft.ops.Generated.sourceCols(spark, s)
      val gens = generatedSpecs.map(_.col).toSet
      require(srcs.intersect(gens).isEmpty,
        s"$catalogName: generated column ${s.col} references another " +
          "generated column — derivations must be row-local over stored " +
          "columns")
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1),
      graft.ops.Generated.strip(graft.ops.Identity.strip(schema)))
    // CHECK constraints declared at CREATE time (TBLPROPERTIES
    // ('check.<name>' = '<expr>')): validate against the in-memory empty
    // frame BEFORE anything publishes — a malformed expression must fail
    // the CREATE and leave NO table behind (publishing first would
    // orphan a live, constraint-less table the user never created)
    import scala.jdk.CollectionConverters._
    val checks = properties.asScala.filter(_._1.startsWith(GraftCheck.Prefix))
    checks.foreach { case (k, v) =>
      GraftCheck.validateAgainst(empty, k.stripPrefix(GraftCheck.Prefix), v) }
    // typo'd graft.* properties fail BEFORE anything publishes (same
    // no-orphan rule as a malformed CHECK), matching ALTER's contract
    properties.asScala.keys.foreach(k => require(
      !k.toLowerCase.startsWith("graft.") ||
        graft.ops.TableProps.behaviorKeys.contains(k.toLowerCase),
      s"$catalogName: unsupported graft.* table property $k — supported: " +
        graft.ops.TableProps.behaviorKeys.toSeq.sorted.mkString(", ")))
    // declared auto-stats / auto-bloom / clustering columns must exist
    // (a typo'd name would silently never prune or never cluster — fail
    // the CREATE, leave no table)
    Seq(graft.ops.TableProps.StatsKey, graft.ops.TableProps.BloomKey,
        graft.ops.TableProps.ClusterKey, graft.ops.TableProps.NdvKey,
        graft.ops.TableProps.HistogramKey).foreach { key =>
      properties.asScala.collectFirst {
        case (k, v) if k.equalsIgnoreCase(key) => v
      }.foreach { v =>
        val missing = v.split(",").map(_.trim).filter(_.nonEmpty)
          .filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"$catalogName: $key names column(s) " +
            s"not in the table schema: ${missing.mkString(", ")}")
      }
    }
    // bloom columns must be bloom-indexable NOW (string/integral —
    // Bloom.annotate's build/probe canonicalization contract); failing
    // at the first commit instead would leave a live table whose
    // declaration can never be honored
    properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase(graft.ops.TableProps.BloomKey) => v
    }.foreach { v =>
      import org.apache.spark.sql.types._
      val bad = v.split(",").map(_.trim).filter(_.nonEmpty).flatMap { c =>
        schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap(f =>
          f.dataType match {
            case StringType | ByteType | ShortType | IntegerType | LongType => None
            case other => Some(s"$c: ${other.simpleString}")
          })
      }
      require(bad.isEmpty,
        s"$catalogName: ${graft.ops.TableProps.BloomKey} supports string and " +
          s"integral columns only; got ${bad.mkString(", ")} — use " +
          s"${graft.ops.TableProps.StatsKey} range stats for those types")
      // partition columns are directory metadata, not file contents —
      // Bloom.annotate refuses them at every commit, so refuse the
      // declaration here instead of failing the table's first INSERT
      val partitioned = v.split(",").map(_.trim).filter(_.nonEmpty)
        .filter(c => identityCols.exists(_.equalsIgnoreCase(c)))
      require(partitioned.isEmpty,
        s"$catalogName: ${graft.ops.TableProps.BloomKey} cannot index " +
          s"partition column(s) ${partitioned.mkString(", ")} — partition " +
          "pruning already serves them exactly")
    }
    // NDV columns must be sketchable NOW (string/binary/integral — the
    // annotator's hll_sketch_agg domain); same fail-at-CREATE contract
    properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase(graft.ops.TableProps.NdvKey) => v
    }.foreach { v =>
      import org.apache.spark.sql.types._
      val bad = v.split(",").map(_.trim).filter(_.nonEmpty).flatMap { c =>
        schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap(f =>
          f.dataType match {
            case StringType | BinaryType | ByteType | ShortType |
                 IntegerType | LongType | DateType | TimestampType => None
            case other => Some(s"$c: ${other.simpleString}")
          })
      }
      require(bad.isEmpty,
        s"$catalogName: ${graft.ops.TableProps.NdvKey} supports string, " +
          s"binary, integral and date/timestamp columns; got " +
          bad.mkString(", "))
    }
    // retention policy values must parse (a malformed number would
    // silently disable the policy on every later maintenance run)
    properties.asScala.foreach {
      case (k, v) if k.equalsIgnoreCase(graft.ops.TableProps.RetainVersionsKey) =>
        require(v.trim.toIntOption.exists(_ >= 0),
          s"$catalogName: ${graft.ops.TableProps.RetainVersionsKey} must be a " +
            s"non-negative integer, got '$v'")
      case (k, v) if k.equalsIgnoreCase(graft.ops.TableProps.RetainHoursKey) =>
        require(v.trim.toDoubleOption.exists(_ >= 0),
          s"$catalogName: ${graft.ops.TableProps.RetainHoursKey} must be a " +
            s"non-negative number, got '$v'")
      case (k, v) if k.equalsIgnoreCase(graft.ops.TableProps.ClusterWriteKey) =>
        require(Seq("true", "false").contains(v.trim.toLowerCase),
          s"$catalogName: ${graft.ops.TableProps.ClusterWriteKey} must be " +
            s"'true' or 'false', got '$v'")
      case _ =>
    }
    // DEFAULT clauses (B190): validate every declared default through
    // Spark's own analyzer BEFORE anything publishes — a bad default
    // fails the CREATE and leaves no table
    val columnDefaults = GraftDefaults.fromSchema(schema)
    columnDefaults.foreach { case (cl, sql) =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(cl)).get
      GraftDefaults.validate(f.name, f.dataType, sql, "CREATE TABLE")
    }
    val partProp =
      if (partCols.isEmpty) Map.empty[String, String]
      else Map(graft.ops.TableProps.PartitionKey ->
        StructType(partEntries.map {
          case (n, None) => schema(n)
          case (n, Some(h)) => org.apache.spark.sql.types.StructField(n,
            h.dataType(schema.find(_.name.equalsIgnoreCase(h.src)).get.dataType))
        }).toDDL)
    // behavior-bearing graft.* switches declared at CREATE persist —
    // the SAME key set ALTER TABLE SET accepts (round-12 advisor
    // finding: a table declared 'graft.dml.mode'='mor' at CREATE
    // silently ran copy-on-write). Any OTHER graft.* key fails loudly,
    // matching ALTER's typo'd-property contract.
    val behaviorProps = properties.asScala.collect {
      case (k, v) if graft.ops.TableProps.behaviorKeys.contains(k.toLowerCase) =>
        k.toLowerCase -> v
    }.toMap
    val defaultProps = columnDefaults.map { case (cl, sql) =>
      (GraftDefaults.Prefix + cl) -> sql
    }
    val identityProps = identitySpecs.flatMap(s => Seq(
      (graft.ops.Identity.Prefix + s.col) -> s.encoded,
      (graft.ops.Identity.HwmPrefix + s.col) -> s.start.toString)).toMap
    val generatedProps = generatedSpecs.map(s =>
      (graft.ops.Generated.Prefix + s.col) -> s.sql).toMap
    (empty, checks.toMap ++ partProp ++ behaviorProps ++ defaultProps ++
      identityProps ++ generatedProps)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val tr = tableRoot(ident)
    // under the table's commit lock: a concurrent INSERT either commits
    // fully before the delete or fails its OCC check after — never a
    // half-deleted table or a resurrected one
    if (Sinks.currentVersion(tr).isEmpty) false
    else Sinks.withTableLock(tr) {
      val existed = Sinks.currentVersion(tr).isDefined
      if (existed) graft.io.Fs.deleteRecursively(Paths.get(tr))
      existed
    }
  }

  /** Atomic `CREATE [OR REPLACE] TABLE … AS SELECT` / `REPLACE TABLE`
    * (round-16, B203). Spark routes CTAS/RTAS through these doors the
    * moment the catalog implements `StagingTableCatalog` — and the
    * versioned layout makes the atomicity FREE:
    *
    *  - CTAS commits through the same empty-v0-wins-the-race + props +
    *    linked-append ordering as [[createTable]]; a failed data write
    *    removes the created shell (no half-created table survives).
    *  - REPLACE is a HISTORY-PRESERVING versioned commit, not Spark's
    *    non-staging drop+create: the new definition's props swap in
    *    (rolled back on failure — the repartitionTable discipline) and
    *    the new contents publish as the NEXT version under OCC. Every
    *    pre-replace version keeps its own `_PSPEC`/footer truth, so
    *    `VERSION AS OF` below the replace serves the OLD schema, data
    *    and layout — the Delta CREATE OR REPLACE semantic.
    *
    * The staged table advertises only the V1 write capabilities; the
    * exec's AppendData lands in [[GraftStagedTable.doCommit]], which
    * runs the identity → generated → CHECK gates of the new definition
    * (props land before the gates read them).
    */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    staged(ident, schema, partitions, properties,
      replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    staged(ident, schema, partitions, properties,
      replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    staged(ident, schema, partitions, properties,
      replace = true, orCreate = true)

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, orCreate: Boolean): StagedTable = {
    val tr = tableRoot(ident)
    val existing = Sinks.currentVersion(tr)
    if (!replace && existing.isDefined)
      throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && existing.isEmpty)
      throw new NoSuchTableException(ident)
    requireCreatableAt(ident, tr)
    // every CREATE-shaped validation fires NOW — a bad definition fails
    // before the query executes, and nothing has landed
    val (empty, props) = planCreate(ident, schema, partitions, properties)
    new GraftStagedTable(ident, tr, schema, partitions, empty, props, existing)
  }

  private final class GraftStagedTable(ident: Identifier, tr: String,
      declaredSchema: StructType, parts: Array[Transform],
      empty: org.apache.spark.sql.DataFrame, props: Map[String, String],
      baseVersion: Option[Long]) extends StagedTable with SupportsWrite {
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
    import org.apache.spark.sql.sources.InsertableRelation

    private val committed = new java.util.concurrent.atomic.AtomicBoolean(false)
    override def name(): String = s"$catalogName.${ident.toString}"
    override def schema(): StructType = declaredSchema
    override def partitioning(): Array[Transform] = parts
    override def properties(): util.Map[String, String] = new util.HashMap()
    override def capabilities(): util.Set[TableCapability] = {
      val caps = new util.HashSet[TableCapability]()
      caps.add(TableCapability.BATCH_WRITE)
      caps.add(TableCapability.V1_BATCH_WRITE)
      // an RTAS lands as OverwriteByExpression(true) on the staged
      // table — truncation is vacuous here (the staged commit replaces
      // the contents by construction), but the capability must be
      // spelled or TableCapabilityCheck refuses the plan
      caps.add(TableCapability.TRUNCATE)
      caps
    }
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = doCommit(Some(data))
            }
        }
      }
    /** The one atomic landing: the exec's write (when the statement has
      * a query) or commitStagedChanges (plain REPLACE TABLE) — first
      * caller wins, the other no-ops.
      */
    private def doCommit(data: Option[org.apache.spark.sql.DataFrame]): Unit = {
      if (!committed.compareAndSet(false, true)) return
      def gated(d: org.apache.spark.sql.DataFrame) =
        GraftCheck.enforce(graft.ops.Generated.enforce(
          graft.ops.Identity.assign(d, tr), tr), tr)
      baseVersion match {
        case None =>
          try Sinks.publishVersioned(empty, tr, None)
          catch {
            case _: java.util.ConcurrentModificationException =>
              throw new TableAlreadyExistsException(ident)
          }
          if (props.nonEmpty) graft.ops.TableProps.update(tr)(_ => props)
          try data.foreach(d =>
            Sinks.appendVersioned(gated(d), tr, Some(0L), emitFeed = true))
          catch {
            case e: Throwable =>
              // the atomic-CTAS contract: a failed data write leaves NO
              // half-created table behind
              Sinks.withTableLock(tr)(
                graft.io.Fs.deleteRecursively(Paths.get(tr)))
              throw e
          }
        case Some(cur) =>
          // props swap + data publish in ONE commit-lock scope (the
          // lock is reentrant, so the inner publish composes): without
          // it a concurrent writer could commit between the props store
          // and the publish — observing the NEW props over the OLD
          // data, or having its own legitimate props update (partition
          // spec sync, a concurrent ALTER) silently clobbered by this
          // writer's failure-path restore. The staged data write still
          // happens under the new props (REPLACE may re-declare the
          // partition spec, and the staging layout must follow it).
          Sinks.withTableLock(tr) {
            val oldProps = graft.ops.TableProps.load(tr)
            graft.ops.TableProps.store(tr, props)
            try Sinks.publishVersioned(gated(data.getOrElse(empty)), tr,
              Some(cur), opTag = "replace")
            catch {
              case e: Throwable =>
                graft.ops.TableProps.store(tr, oldProps); throw e
            }
          }
      }
    }
    override def commitStagedChanges(): Unit = doCommit(None)
    override def abortStagedChanges(): Unit = ()
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableRoot(oldIdent)
    if (Sinks.currentVersion(from).isEmpty) throw new NoSuchTableException(oldIdent)
    val to = tableRoot(newIdent)
    if (Sinks.currentVersion(to).isDefined)
      throw new TableAlreadyExistsException(newIdent)
    if (GraftViews.isView(to))
      throw new IllegalStateException(
        s"$catalogName.${newIdent.toString} already exists as a VIEW")
    // the destination parent must be the root or a real NAMESPACE — a
    // table directory also passes a bare isDirectory check, and a table
    // renamed inside another table becomes invisible collateral of that
    // table's DROP
    val destParent = Paths.get(to).getParent
    val parentOk =
      if (newIdent.namespace().isEmpty) Files.isDirectory(destParent)
      else isNamespaceDir(destParent)
    if (!parentOk)
      throw new NoSuchNamespaceException(name() +: newIdent.namespace().toSeq)
    Sinks.withTableLock(from) {
      Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
    }
    ()
  }

  /** `ALTER TABLE ... ADD COLUMNS | RENAME COLUMN | DROP COLUMN`: the
    * DDL spellings of schema evolution under this layout.
    *
    *  - ADD COLUMNS is a METADATA-ONLY hardlink commit (Delta
    *    behavior): the column-mapping marker records (name, type) and
    *    the read schema synthesizes the column — NULL from pre-ADD
    *    files, real values from files written after. Falls back to the
    *    null-backfilled rewrite only when the name collides with a
    *    physical name still in (or tombstoned out of) the footers.
    *  - RENAME COLUMN / DROP COLUMN of non-partition columns are
    *    METADATA-ONLY commits via [[graft.ops.ColMap]] column mapping:
    *    the new version hardlinks every data file and records the new
    *    logical binding (rename) or a physical-name tombstone (drop) in
    *    the `_COLMAP` marker — zero data bytes move at any table size,
    *    the Delta column-mapping behavior. Dropped columns shed their
    *    `_stats`/`_bloom` entries through the sidecar-column funnel
    *    (never stale-keyed, never re-annotated onto new files); a
    *    compaction later purges the tombstoned bytes for real. Only a
    *    PARTITION-column rename still rewrites (its physical name is a
    *    directory component; dropping a partition column is rejected),
    *    migrating every column-keyed sidecar in the same operation.
    *    CHECK constraints have their expressions rewritten through
    *    renames — a constraint that still references a dropped column
    *    fails the ALTER (drop the constraint first), never silently
    *    breaks later writes. Old versions stay readable under their
    *    original schema (time travel is unaffected); the change-data
    *    chain intentionally breaks at the boundary (no `_changes` is
    *    emitted — a schema change is not a row delta), so incremental
    *    consumers resync, same contract as RESTORE.
    *
    *  - ALTER COLUMN … TYPE performs WIDENING-only retypes (see
    *    [[widenTypes]]); lossy retypes and repositioning fail loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // property changes: CHECK constraints only ('check.<name>' = '<expr>'),
    // validated against the CURRENT data before they are stored
    val (propChanges, otherChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    if (propChanges.nonEmpty) {
      val tr = tableRoot(ident)
      if (Sinks.currentVersion(tr).isEmpty) throw new NoSuchTableException(ident)
      val spark = SparkSession.active
      // behavior-bearing graft.* switches (DML routing, optimized
      // writes) SET/UNSET like any table property — everything else
      // non-check stays refused (a typo'd property must fail loudly,
      // not silently record dead metadata)
      val behaviorKeys = TableProps.behaviorKeys
      def isBehavior(k: String) = behaviorKeys.contains(k.toLowerCase)
      // load-validate-store as ONE step under the table's commit lock:
      // concurrent ALTERs serialize (neither loses the other's
      // constraint) and validation scans a state no writer can commit
      // past until the constraint is stored
      GraftCheck.update(tr)(_ ++ propChanges.foldLeft(Map.empty[String, String]) {
        case (acc, s: TableChange.SetProperty) if isBehavior(s.property()) =>
          // the same fail-loud validation CREATE applies: named columns
          // must exist (against the CURRENT logical schema), bloom
          // columns must be indexable, retention values must parse —
          // an ALTER is the retrofit door and must not record a
          // declaration later maintenance can never honor
          validateBehaviorProp(spark, tr, s.property().toLowerCase, s.value())
          acc + (s.property().toLowerCase -> s.value())
        case (acc, s: TableChange.SetProperty) =>
          require(s.property().startsWith(GraftCheck.Prefix),
            s"$catalogName: only '${GraftCheck.Prefix}<name>' (CHECK " +
              s"constraints) and ${behaviorKeys.mkString("/")} table " +
              s"properties are supported; got ${s.property()}")
          GraftCheck.validateNew(spark, tr,
            s.property().stripPrefix(GraftCheck.Prefix), s.value())
          acc + (s.property() -> s.value())
        case (acc, r: TableChange.RemoveProperty) =>
          require(r.property().startsWith(GraftCheck.Prefix) ||
              isBehavior(r.property()),
            s"$catalogName: only '${GraftCheck.Prefix}<name>' and " +
              s"${behaviorKeys.mkString("/")} table properties can " +
              s"be unset; got ${r.property()}")
          acc  // removals applied below; fold collects sets only
      } -- propChanges.collect {
        case r: TableChange.RemoveProperty =>
          if (isBehavior(r.property())) r.property().toLowerCase else r.property()
      })
      if (otherChanges.isEmpty) return loadTable(ident)
    }
    // Native ADD/DROP CONSTRAINT DDL (B191): the same storage, the same
    // existing-data validation, the same enforcement as the check.*
    // TBLPROPERTIES spelling — one constraint store, two SQL doors
    val consAdds = otherChanges.collect { case a: TableChange.AddConstraint => a }
    val consDrops = otherChanges.collect { case d: TableChange.DropConstraint => d }
    if (consAdds.nonEmpty || consDrops.nonEmpty) {
      require(consAdds.size + consDrops.size == otherChanges.size,
        s"$catalogName: ADD/DROP CONSTRAINT cannot be combined with other " +
          "changes in one ALTER")
      val tr = tableRoot(ident)
      if (Sinks.currentVersion(tr).isEmpty) throw new NoSuchTableException(ident)
      val spark = SparkSession.active
      val checks = consAdds.map(_.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          require(c.enforced(),
            s"$catalogName: CHECK constraint ${c.name()} NOT ENFORCED is " +
              "not supported — this engine stores nothing it does not enforce")
          c
        case other => throw new UnsupportedOperationException(
          s"$catalogName: only CHECK constraints are supported; got ${other.toDDL}")
      })
      // load-validate-store under the commit lock, exactly like the
      // property-door ALTER: existing rows are validated first
      GraftCheck.update(tr) { props =>
        checks.foreach(c =>
          GraftCheck.validateNew(spark, tr, c.name(), c.predicateSql()))
        val afterDrops = consDrops.foldLeft(props) { (p, d) =>
          val key = p.keys.find(_.equalsIgnoreCase(GraftCheck.Prefix + d.name()))
          if (key.isEmpty && !d.ifExists())
            throw new IllegalArgumentException(
              s"$catalogName: no constraint ${d.name()} on ${ident.toString} " +
                s"(have: ${p.keys.filter(_.startsWith(GraftCheck.Prefix))
                  .map(_.stripPrefix(GraftCheck.Prefix)).toSeq.sorted.mkString(", ")})")
          key.fold(p)(p - _)
        }
        afterDrops ++ checks.map(c => (GraftCheck.Prefix + c.name()) -> c.predicateSql())
      }
      return loadTable(ident)
    }
    // ALTER COLUMN SET/DROP DEFAULT (B190): a metadata-only props write
    // — affects FUTURE inserts only, never committed rows
    val defChanges = otherChanges.collect {
      case u: TableChange.UpdateColumnDefaultValue => u
    }
    if (defChanges.nonEmpty) {
      require(defChanges.size == otherChanges.size,
        s"$catalogName: ALTER COLUMN SET/DROP DEFAULT cannot be combined " +
          "with other column changes in one ALTER")
      val tr = tableRoot(ident)
      if (Sinks.currentVersion(tr).isEmpty) throw new NoSuchTableException(ident)
      val cur = loadTable(ident).schema()
      defChanges.foreach { u =>
        require(u.fieldNames().length == 1,
          s"$catalogName: only top-level columns take DEFAULTs")
        val name = u.fieldNames()(0)
        val f = cur.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"$catalogName: no column $name in ${ident.toString}"))
        val sql = u.newDefaultValue()
        if (sql != null && sql.nonEmpty)
          GraftDefaults.validate(f.name, f.dataType, sql,
            "ALTER TABLE ALTER COLUMN")
      }
      TableProps.update(tr) { props =>
        defChanges.foldLeft(props) { (p, u) =>
          val key = GraftDefaults.Prefix + u.fieldNames()(0).toLowerCase
          val sql = u.newDefaultValue()
          if (sql == null || sql.isEmpty) p - key else p + (key -> sql)
        }
      }
      return loadTable(ident)
    }
    val renames = otherChanges.collect { case r: TableChange.RenameColumn => r }
    val drops = otherChanges.collect { case d: TableChange.DeleteColumn => d }
    if (renames.nonEmpty || drops.nonEmpty) {
      require(renames.size + drops.size == otherChanges.size,
        s"$catalogName: RENAME/DROP COLUMN cannot be combined with other " +
          "column changes in one ALTER")
      return evolveSchema(ident, renames, drops)
    }
    val retypes = otherChanges.collect { case u: TableChange.UpdateColumnType => u }
    if (retypes.nonEmpty) {
      val rest = otherChanges.filterNot(c =>
        c.isInstanceOf[TableChange.UpdateColumnType])
      // MERGE WITH SCHEMA EVOLUTION (round-16) hands retypes and adds in
      // ONE alterTable call — apply sequentially (widen first, so a add
      // that fails leaves a consistent widened table, never half of
      // either). Any other combination stays refused.
      require(rest.forall(_.isInstanceOf[TableChange.AddColumn]),
        s"$catalogName: ALTER COLUMN TYPE combines only with ADD COLUMNS " +
          "in one ALTER")
      val widened = widenTypes(ident, retypes)
      if (rest.isEmpty) return widened
      return alterTable(ident, rest: _*)
    }
    val adds = otherChanges.map {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 =>
        // clauses the null-backfilled layout cannot honor fail loudly:
        // every pre-existing row of a NOT NULL column would be NULL, and
        // column positions are not stored
        require(a.isNullable,
          s"$catalogName: ADD COLUMNS ${a.fieldNames()(0)} NOT NULL is not " +
            "satisfiable — existing rows are null-backfilled")
        require(a.position() == null,
          s"$catalogName: column positions (FIRST/AFTER) are not supported")
        // ADD COLUMN … DEFAULT (round-15, lifting the B190 boundary):
        // validated here, folded to the ADD-time constant below — the
        // existence default pre-ADD files read, while _PROPS carries
        // the CURRENT default for future inserts
        if (a.defaultValue() != null)
          GraftDefaults.validate(a.fieldNames()(0), a.dataType(),
            a.defaultValue().getSql, "ALTER TABLE ADD COLUMNS")
        a
      case other => throw new UnsupportedOperationException(
        s"$catalogName: only top-level ADD COLUMNS is supported " +
          s"(additive evolution); got $other")
    }
    val tr = tableRoot(ident)
    val v = Sinks.currentVersion(tr)
      .getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val cur = Sinks.readVersion(spark, tr, v)
    adds.foreach(a => require(!cur.columns.exists(_.equalsIgnoreCase(a.fieldNames()(0))),
      s"column ${a.fieldNames()(0)} already exists"))
    adds.foreach(a => graft.ops.ColMap.requireValidLogical(a.fieldNames()(0)))
    // METADATA-ONLY fast path (Delta behavior): record (name, type) in
    // the column-mapping marker and hardlink every data file — parquet
    // serves NULL for the new column from every pre-ADD file, real
    // values from files written after. Falls back to the null-backfill
    // rewrite only when the new name collides with a PHYSICAL name
    // still living in (or tombstoned out of) the footers — mapping it
    // would silently alias old bytes into the new column.
    val liveDir = Sinks.versionPath(tr, v)
    // a default's ADD-time folded constant (round-15): the existence
    // value pre-ADD rows read; the original SQL becomes the CURRENT
    // default future inserts fill. Fold ONCE here so the metadata-only
    // and rewrite paths pin the identical instant
    val folded: Map[String, org.apache.spark.sql.catalyst.expressions.Literal] =
      adds.filter(_.defaultValue() != null).map { a =>
        a.fieldNames()(0).toLowerCase -> GraftDefaults.foldForExistence(
          a.fieldNames()(0), a.dataType(), a.defaultValue().getSql,
          "ALTER TABLE ADD COLUMNS")
      }.toMap
    def recordCurrentDefaults(): Unit = adds.foreach { a =>
      if (a.defaultValue() != null)
        graft.ops.TableProps.update(tr)(_ +
          ((GraftDefaults.Prefix + a.fieldNames()(0).toLowerCase) ->
            a.defaultValue().getSql))
    }
    val physNames = Sinks.inferSchema(spark, liveDir).fieldNames
      .map(_.toLowerCase).toSet ++
      graft.ops.ColMap.dropped(liveDir).map(_.toLowerCase)
    if (!adds.exists(a => physNames(a.fieldNames()(0).toLowerCase))) {
      recordCurrentDefaults()
      Sinks.publishColumnMapping(spark, tr, v,
        graft.ops.ColMap.load(liveDir), graft.ops.ColMap.dropped(liveDir),
        opTag = "add-column",
        added = graft.ops.ColMap.added(liveDir) ++ adds.map { a =>
          val meta = folded.get(a.fieldNames()(0).toLowerCase) match {
            case Some(lit) => new org.apache.spark.sql.types.MetadataBuilder()
              .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
                .EXISTS_DEFAULT_COLUMN_METADATA_KEY, lit.sql).build()
            case None => org.apache.spark.sql.types.Metadata.empty
          }
          org.apache.spark.sql.types.StructField(
            a.fieldNames()(0), a.dataType(), nullable = true, meta)
        })
      return loadTable(ident)
    }
    // physical-name collision: the null-backfill REWRITE path — with a
    // default, backfill the folded constant instead (same semantics as
    // the marker: pre-ADD rows read the ADD-time value)
    recordCurrentDefaults()
    val widened = adds.foldLeft(cur) { (df, a) =>
      val fill = folded.get(a.fieldNames()(0).toLowerCase) match {
        case Some(lit) => org.apache.spark.sql.graft.ExprBridge.column(lit)
        case None => org.apache.spark.sql.functions.lit(null)
      }
      df.withColumn(a.fieldNames()(0), fill.cast(a.dataType()))
    }
    Sinks.publishVersioned(widened, tr, Some(v))
    loadTable(ident)
  }

  /** ALTER-time validation of a behavior-bearing `graft.*` property
    * against the table's CURRENT logical schema — the same contract
    * CREATE applies to a declared property (fail loudly, never record a
    * declaration maintenance can't honor). Boolean/enum switches
    * (`graft.dml.mode`, `graft.write.distribute`) pass through: their
    * consumers validate per use.
    */
  private def validateBehaviorProp(spark: SparkSession, tr: String,
      key: String, value: String): Unit = {
    import graft.ops.TableProps._
    def namedCols = value.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    lazy val schema = Sinks.readCurrent(spark, tr).schema
    key match {
      case StatsKey | BloomKey | ClusterKey | NdvKey | HistogramKey =>
        val missing = namedCols.filterNot(c =>
          schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(missing.isEmpty,
          s"$catalogName: $key names column(s) not in the table: " +
            missing.mkString(", "))
        if (key == NdvKey) {
          import org.apache.spark.sql.types._
          val bad = namedCols.flatMap(c =>
            schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap(f =>
              f.dataType match {
                case StringType | BinaryType | ByteType | ShortType |
                     IntegerType | LongType | DateType | TimestampType => None
                case other => Some(s"$c: ${other.simpleString}")
              }))
          require(bad.isEmpty,
            s"$catalogName: $NdvKey supports string, binary, integral " +
              s"and date/timestamp columns; got ${bad.mkString(", ")}")
        }
        if (key == BloomKey) {
          import org.apache.spark.sql.types._
          val bad = namedCols.flatMap(c =>
            schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap(f =>
              f.dataType match {
                case StringType | ByteType | ShortType | IntegerType | LongType => None
                case other => Some(s"$c: ${other.simpleString}")
              }))
          require(bad.isEmpty,
            s"$catalogName: $BloomKey supports string and integral columns " +
              s"only; got ${bad.mkString(", ")} — use $StatsKey range stats " +
              "for those types")
        }
        if (key == HistogramKey) {
          import org.apache.spark.sql.types._
          val bad = namedCols.flatMap(c =>
            schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap(f =>
              f.dataType match {
                case ByteType | ShortType | IntegerType | LongType |
                     FloatType | DoubleType | DateType | TimestampType => None
                case other => Some(s"$c: ${other.simpleString}")
              }))
          require(bad.isEmpty,
            s"$catalogName: $HistogramKey supports the numeric and " +
              s"date/timestamp families; got ${bad.mkString(", ")}")
        }
      case RetainVersionsKey =>
        require(value.trim.toIntOption.exists(_ >= 0),
          s"$catalogName: $RetainVersionsKey must be a non-negative integer, " +
            s"got '$value'")
      case RetainHoursKey =>
        require(value.trim.toDoubleOption.exists(_ >= 0),
          s"$catalogName: $RetainHoursKey must be a non-negative number, " +
            s"got '$value'")
      case ClusterWriteKey | AutoMergeKey =>
        require(Seq("true", "false").contains(value.trim.toLowerCase),
          s"$catalogName: $key must be 'true' or 'false', got '$value'")
      case _ =>
    }
  }

  /** RENAME COLUMN / DROP COLUMN (see [[alterTable]] for the contract):
    * validate every change and every dependent piece of metadata FIRST,
    * then move table properties (partition spec, rewritten CHECK
    * constraints) ahead of the data publish — the staged layout uses the
    * NEW partition names — and finally publish the rewritten data with
    * the `_stats`/`_bloom` sidecars re-annotated under the new column
    * set. A publish failure rolls the properties back, so no failure
    * mode leaves metadata pointing at columns the live version lacks.
    * The fail-loud window in between (a concurrent writer gating on
    * updated constraints against the old schema) errors that writer's
    * statement; it can never corrupt data — the documented limit of
    * data-only OCC, same as [[GraftCheck]]'s concurrent-ALTER note.
    */
  private def evolveSchema(ident: Identifier,
      renames: Seq[TableChange.RenameColumn],
      drops: Seq[TableChange.DeleteColumn]): Table = {
    import org.apache.spark.sql.functions.{col, expr}
    val tr = tableRoot(ident)
    val v = Sinks.currentVersion(tr)
      .getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val liveDir = Sinks.versionPath(tr, v)
    val cur = Sinks.snapshotRead(spark, tr, liveDir)
    val cols = cur.columns.toSeq
    def canonical(n: String): Option[String] = cols.find(_.equalsIgnoreCase(n))

    (renames.map(_.fieldNames().toSeq) ++ drops.map(_.fieldNames().toSeq))
      .foreach(fn => require(fn.length == 1,
        s"$catalogName: only top-level columns can be renamed/dropped; " +
          s"got ${fn.mkString(".")}"))
    val renameMap: Map[String, String] = renames.map { r =>
      val from = canonical(r.fieldNames()(0)).getOrElse(
        throw new IllegalArgumentException(
          s"$catalogName: no such column ${r.fieldNames()(0)}"))
      val to = r.newName()
      require(to.nonEmpty, s"$catalogName: empty rename target for $from")
      // reserved _COLMAP marker prefixes would be misclassified as
      // tombstone/add records on every later read — fail the ALTER here
      graft.ops.ColMap.requireValidLogical(to)
      require(!cols.exists(c => c.equalsIgnoreCase(to) && !c.equalsIgnoreCase(from)),
        s"$catalogName: column $to already exists")
      from -> to
    }.toMap
    require(renameMap.size == renames.size,
      s"$catalogName: duplicate column in RENAME set")
    val dropSet: Set[String] = drops.flatMap { d =>
      canonical(d.fieldNames()(0)) match {
        case Some(c) => Some(c)
        case None if d.ifExists() => None
        case None => throw new IllegalArgumentException(
          s"$catalogName: no such column ${d.fieldNames()(0)}")
      }
    }.toSet
    require(renameMap.keySet.intersect(dropSet).isEmpty,
      s"$catalogName: a column cannot be both renamed and dropped")
    if (dropSet.isEmpty && renameMap.isEmpty) return loadTable(ident)

    // generated columns (round-16): the stored SQL references columns
    // by name — a rename/drop of the generated column or any source
    // would strand the derivation (future inserts would derive from a
    // column that no longer exists). Refuse loudly; DROP the generation
    // (no door yet) or rewrite the table to evolve past it.
    val genSpecs = graft.ops.Generated.specs(tr)
    if (genSpecs.nonEmpty) {
      val touched = renameMap.keySet ++ dropSet
      genSpecs.foreach { s =>
        require(!touched.exists(_.equalsIgnoreCase(s.col)),
          s"$catalogName: cannot rename/drop ${s.col} — it is GENERATED " +
            s"ALWAYS AS (${s.sql})")
        val srcs = graft.ops.Generated.sourceCols(spark, s)
        touched.foreach(c => require(!srcs.contains(c.toLowerCase),
          s"$catalogName: cannot rename/drop $c — generated column " +
            s"${s.col} = (${s.sql}) derives from it"))
      }
    }
    val pcols = TableProps.partitionCols(tr)
    dropSet.foreach(c => require(!pcols.exists(_.equalsIgnoreCase(c)),
      s"$catalogName: cannot drop partition column $c"))
    // hidden partitioning (B161): the derivation needs its source on
    // every future write — dropping it would brick the table's writers
    pcols.flatMap(graft.ops.Transforms.parse).foreach(t =>
      dropSet.foreach(c => require(!t.src.equalsIgnoreCase(c),
        s"$catalogName: cannot drop $c — it is the source of hidden " +
          s"partition transform ${t.spec}; repartition the table first")))
    require(cols.filterNot(dropSet).exists(c => !pcols.exists(_.equalsIgnoreCase(c))),
      s"$catalogName: dropping ${dropSet.mkString(", ")} would leave no " +
        "non-partition column")
    // a renamed PARTITION column becomes a directory-name component; the
    // layout's reserved prefixes (`_`/`.`) are invisible to parquet
    // readers and would silently hide every data file
    renameMap.foreach { case (from, to) =>
      if (pcols.exists(_.equalsIgnoreCase(from)))
        require(validPart(to),
          s"$catalogName: $to is not a legal partition column name " +
            "(reserved prefix or path character)")
    }

    def evolve(n: String): Option[String] =
      if (dropSet.contains(n)) None else Some(renameMap.getOrElse(n, n))
    val evolvedSchema = StructType(
      cur.schema.flatMap(f => evolve(f.name).map(n => f.copy(name = n))))

    // CHECK constraints follow the evolution: expressions are rewritten
    // through renames (attribute-level, so `c_name` inside a function
    // call follows too), then every constraint must RESOLVE against the
    // evolved schema — one that references a dropped column fails the
    // ALTER here, before anything is touched
    val oldProps = TableProps.load(tr)
    val evolvedEmpty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1), evolvedSchema)
    val rewrittenChecks: Map[String, String] = oldProps.collect {
      case (k, text) if k.startsWith(GraftCheck.Prefix) =>
        val newText =
          if (renameMap.isEmpty) text
          else rewriteColumnRefs(spark, text, renameMap)
        try evolvedEmpty.select(expr(newText).cast("boolean")).queryExecution.analyzed
        catch { case e: Exception => throw new IllegalStateException(
          s"$catalogName: constraint ${k.stripPrefix(GraftCheck.Prefix)} " +
            s"('$text') does not resolve against the evolved schema — " +
            s"UNSET the constraint first (${e.getMessage})") }
        k -> newText
    }

    // METADATA-ONLY fast path (Delta-style column mapping): renames AND
    // drops of non-partition columns commit a hardlinked version with
    // an updated `_COLMAP` marker — zero data bytes move, O(1) instead
    // of O(table). A rename binds the unchanged physical name to its
    // new logical name; a DROP tombstones the physical name (bound to
    // no logical name — the read funnel discards it and the sidecar
    // inheritance sheds it), and compaction later purges the bytes for
    // real. Only a PARTITION-column rename still rewrites (the physical
    // name is a directory component).
    if (!renameMap.keys.exists(f => pcols.exists(_.equalsIgnoreCase(f)))) {
      val oldMap = graft.ops.ColMap.load(liveDir) // logical -> physical
      def physOf(l: String): String = oldMap.collectFirst {
        case (ol, p) if ol.equalsIgnoreCase(l) => p
      }.getOrElse(l)
      val newMapping = cols.filterNot(dropSet)
        .map(l => renameMap.getOrElse(l, l) -> physOf(l)).toMap
      val newDropped = graft.ops.ColMap.dropped(liveDir) ++ dropSet.map(physOf)
      // a dropped column that was itself a metadata-only ADD sheds its
      // ADD record too (post-ADD files may carry real bytes for it —
      // the tombstone above keeps those hidden); surviving ADD records
      // carry forward so the synthesized schema outlives renames/drops
      val dropPhysLower = dropSet.map(l => physOf(l).toLowerCase)
      val newAdded = graft.ops.ColMap.added(liveDir)
        .filterNot(f => dropPhysLower(f.name.toLowerCase))
      // stored DEFAULTs follow the evolution too: renamed columns
      // re-key (constants need no rewrite), dropped ones shed theirs
      val newProps0 = GraftDefaults.migrate(
        oldProps.filterNot(_._1.startsWith(GraftCheck.Prefix)) ++ rewrittenChecks,
        renameMap, dropSet)
      TableProps.store(tr, newProps0)
      try Sinks.publishColumnMapping(spark, tr, v, newMapping, newDropped,
        opTag = if (dropSet.nonEmpty) "drop-column" else "rename-column",
        added = newAdded)
      catch { case e: Throwable =>
        TableProps.store(tr, oldProps) // metadata must not outrun the data
        throw e
      }
      return loadTable(ident)
    }

    // skipping sidecars: dropped columns leave the indexed set; renamed
    // ones are re-annotated under the new name (the publish below
    // rewrites every data file, so fresh footer/filter passes are exact)
    def mapped(sidecarCols: Seq[String]): Seq[String] =
      sidecarCols.map(graft.ops.ColMap.toLogicalName(liveDir, _)).flatMap(evolve)
    val statsCols = mapped(graft.ops.Stats.sidecarCols(spark, liveDir))
    val bloomCols = mapped(graft.ops.Bloom.sidecarCols(spark, liveDir))

    val newPartProp = TableProps.partitionSchema(tr).map(st =>
      TableProps.PartitionKey -> StructType(st.map(f =>
        f.copy(name = renameMap.getOrElse(f.name, f.name)))).toDDL)
    val newProps = GraftDefaults.migrate(
      oldProps.filterNot(p => p._1.startsWith(GraftCheck.Prefix) ||
        p._1 == TableProps.PartitionKey) ++ rewrittenChecks ++ newPartProp,
      renameMap, dropSet)

    val evolved = cur.select(cur.columns.toIndexedSeq.flatMap(c =>
      evolve(c).map(n => col(s"`$c`").as(n))): _*)
    TableProps.store(tr, newProps)
    try
      Sinks.publishVersioned(evolved, tr, Some(v), statsCols = statsCols,
        bloomCols = bloomCols)
    catch { case e: Throwable =>
      TableProps.store(tr, oldProps) // metadata must not outrun the data
      throw e
    }
    loadTable(ident)
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE t` — the third schema-evolution
    * class: WIDENING only (byte→short→int→long, float→double), where
    * every stored value maps exactly and every reader/constraint keeps
    * its semantics. Anything lossy (downcasts, long→double's precision
    * cliff, string↔number) fails loudly. The data is rewritten through
    * the OCC commit (same no-column-mapping reasoning as rename/drop),
    * skipping sidecars re-annotated — stats comparison domains are
    * stable under these widenings (integral family stays `lo_l`,
    * float-family stays `lo_d`) and bloom canonicalization
    * (CAST AS STRING) renders 5 and 5L identically, so probes behave
    * unchanged. A widened PARTITION column updates the declared spec in
    * `_PROPS` so readers pin the new type.
    */
  private def widenTypes(ident: Identifier,
      retypes: Seq[TableChange.UpdateColumnType]): Table = {
    import org.apache.spark.sql.types._
    val tr = tableRoot(ident)
    val v = Sinks.currentVersion(tr)
      .getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    val liveDir = Sinks.versionPath(tr, v)
    val cur = Sinks.snapshotRead(spark, tr, liveDir)
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    val typeMap: Map[String, DataType] = retypes.map { u =>
      require(u.fieldNames().length == 1,
        s"$catalogName: only top-level columns can be retyped; " +
          s"got ${u.fieldNames().mkString(".")}")
      val c = cur.columns.find(_.equalsIgnoreCase(u.fieldNames()(0))).getOrElse(
        throw new IllegalArgumentException(
          s"$catalogName: no such column ${u.fieldNames()(0)}"))
      val from = cur.schema(c).dataType
      require(widens(from, u.newDataType()),
        s"$catalogName: ALTER COLUMN $c TYPE ${u.newDataType().simpleString} is " +
          s"not a widening of ${from.simpleString} — only byte→short→int→long " +
          "and float→double preserve every stored value exactly")
      c -> u.newDataType()
    }.toMap
    // METADATA-ONLY (B162, the Delta type-widening behavior): record
    // PHYSICAL name → wide type in the column-mapping marker and
    // hardlink every data file — readers pin the wide type and the
    // parquet reader upcasts narrow footers per file; writes land wide
    // from here on; compaction materializes. Zero data bytes move — the
    // O(table) rewrite the pre-marker ALTER paid is gone. (Stats stay
    // exact: integer-family footer bounds already normalize into the
    // sidecar's long domain, float-family into double.)
    val physWiden = typeMap.map { case (c, t) =>
      graft.ops.ColMap.toPhysicalName(liveDir, c) -> t
    }
    Sinks.publishTypeWidening(spark, tr, v, physWiden)
    loadTable(ident)
  }

  /** Rewrite single-part column references in a SQL expression through a
    * rename map (case-insensitive match, Catalyst-parsed — string
    * replacement would also hit literals and unrelated identifiers).
    */
  private def rewriteColumnRefs(spark: SparkSession, exprText: String,
      renameMap: Map[String, String]): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    spark.sessionState.sqlParser.parseExpression(exprText).transform {
      case a: UnresolvedAttribute if a.nameParts.length == 1 &&
          renameMap.exists(_._1.equalsIgnoreCase(a.nameParts.head)) =>
        UnresolvedAttribute(Seq(
          renameMap.find(_._1.equalsIgnoreCase(a.nameParts.head)).get._2))
    }.sql
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    nsPath(namespace.toSeq) match {
      case None => Array.empty
      case Some(dir) if !Files.isDirectory(dir) => Array.empty
      case Some(dir) =>
        val names = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          names.iterator().asScala
            .filter(p => Sinks.currentVersion(p.toString).isDefined)
            .map(p => Identifier.of(namespace, p.getFileName.toString))
            .toArray
        } finally names.close()
    }
  }

  // ---- views (B178): the DSv2 ViewCatalog surface over GraftViews
  // storage. Spark 4.1's SQL layer does not route view DDL/reads here
  // yet — GraftSqlParser + GraftViewRule bridge — but the interface is
  // implemented fully so the native path works the day Spark wires it. ----

  /** View storage root — same pathing (and identifier validation) as the
    * same-named table would get; `_VIEW` vs `_CURRENT` keeps the two
    * disjoint.
    */
  private[catalog] def viewRootFor(ident: Identifier): String = tableRoot(ident)

  /** The stored definition when `ident` names a view (never throws on
    * illegal identifiers — probes answer "absent").
    */
  private[catalog] def viewDefFor(ident: Identifier): Option[(String, GraftViews.ViewDef)] = {
    val parts = ident.namespace().toSeq :+ ident.name()
    if (!parts.forall(validPart)) None
    else {
      val r = tableRoot(ident)
      GraftViews.load(r).map(d => (r, d))
    }
  }

  override def listViews(namespace: String*): Array[Identifier] =
    nsPath(namespace.toSeq) match {
      case None => Array.empty
      case Some(dir) if !Files.isDirectory(dir) => Array.empty
      case Some(dir) =>
        val names = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          names.iterator().asScala
            .filter(p => GraftViews.isView(p.toString))
            .map(p => Identifier.of(namespace.toArray, p.getFileName.toString))
            .toArray
        } finally names.close()
    }

  override def viewExists(ident: Identifier): Boolean = viewDefFor(ident).isDefined

  override def loadView(ident: Identifier): View = {
    val (_, d) = viewDefFor(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    new View {
      override def name(): String = (ident.namespace() :+ ident.name()).mkString(".")
      override def query(): String = d.sql
      override def currentCatalog(): String = d.ctxCatalog
      override def currentNamespace(): Array[String] = d.ctxNamespace.toArray
      override def schema(): StructType = d.cols
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] = d.cols.fieldNames
      override def columnComments(): Array[String] =
        d.colComments.map(_.orNull).toArray
      override def properties(): util.Map[String, String] = {
        val m = new util.HashMap[String, String]()
        d.properties.foreach { case (k, v) => m.put(k, v) }
        d.comment.foreach(m.put(ViewCatalog.PROP_COMMENT, _))
        m
      }
    }
  }

  /** The native-API half of CREATE VIEW: stores exactly what `info`
    * carries (the SQL door, [[GraftViews.create]], is the validating
    * path — it analyzes the body, refuses temp references and cycles,
    * and pins the output schema; this door trusts its caller the way
    * every ViewCatalog implementation does).
    */
  override def createView(info: ViewInfo): View = {
    val root = viewRootFor(info.ident)
    if (Sinks.currentVersion(root).isDefined)
      throw new TableAlreadyExistsException(info.ident)
    if (GraftViews.isView(root))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    import scala.jdk.CollectionConverters._
    val props = info.properties.asScala.toMap
    GraftViews.store(root, GraftViews.ViewDef(
      info.sql,
      info.schema,
      info.schema.indices.map(i =>
        info.columnComments.lift(i).filter(_ != null)),
      evolve = false,
      props.get(ViewCatalog.PROP_COMMENT),
      info.currentCatalog,
      info.currentNamespace.toSeq,
      props -- ViewCatalog.RESERVED_PROPERTIES.asScala,
      System.currentTimeMillis()))
    loadView(info.ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val (root, d) = viewDefFor(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val props = changes.foldLeft(d.properties) {
      case (m, s: ViewChange.SetProperty) => m + (s.property() -> s.value())
      case (m, r: ViewChange.RemoveProperty) => m - r.property()
      case (m, _) => m
    }
    GraftViews.store(root, d.copy(properties = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewDefFor(ident) match {
      case Some((root, _)) => GraftViews.drop(root); true
      case None => false
    }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val (from, _) = viewDefFor(oldIdent).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent))
    val to = viewRootFor(newIdent)
    if (Sinks.currentVersion(to).isDefined || GraftViews.isView(to))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  // ---- namespaces: directories under root that are not themselves
  // versioned tables (a dir with _CURRENT is a table, not a namespace) ----

  private def subdirs(parts: Seq[String]): Array[String] = {
    nsPath(parts) match {
      case None => Array.empty
      case Some(dir) if !Files.isDirectory(dir) => Array.empty
      case Some(dir) =>
        val names = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          names.iterator().asScala
            .filter(p => isNamespaceDir(p) && !reservedName(p.getFileName.toString))
            .map(_.getFileName.toString)
            .toArray
        } finally names.close()
    }
  }

  override def listNamespaces(): Array[Array[String]] =
    subdirs(Nil).map(Array(_))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    subdirs(namespace.toSeq).map(n => namespace :+ n)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || nsPath(namespace.toSeq).exists(isNamespaceDir)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(name() +: namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.forall(validPart),
      s"illegal namespace (reserved or traversal segment): ${namespace.mkString(".")}")
    val p = Paths.get((root +: namespace.toSeq).mkString("/"))
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
        (name() +: namespace.toSeq).toArray)
    if (Files.exists(p))
      throw new IllegalStateException(
        s"${namespace.mkString(".")} already exists as a TABLE, not a namespace")
    Files.createDirectories(p)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: namespaces carry no metadata to alter")

  // ---- stored procedures: CALL <catalog>.system.<proc>(...) ----

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    // every procedure resolves table arguments through tableRoot, so the
    // reserved-name/traversal guards apply to CALL like any read
    def resolve(tbl: String): String = {
      val parts = tbl.split("\\.").toSeq
      val id = Identifier.of(parts.init.toArray, parts.last)
      val tr = tableRoot(id)
      if (Sinks.currentVersion(tr).isEmpty) throw new NoSuchTableException(id)
      tr
    }
    // CREATE-side resolver (the clone target): same identifier guards,
    // but the table must NOT exist and its parent must be the root or a
    // real namespace — the same fences createTable applies, so CALL
    // cannot conjure a table where CREATE TABLE would refuse
    def resolveNew(tbl: String): String = {
      val parts = tbl.split("\\.").toSeq
      val id = Identifier.of(parts.init.toArray, parts.last)
      val tr = tableRoot(id)
      if (Sinks.currentVersion(tr).isDefined)
        throw new TableAlreadyExistsException(id)
      if (isNamespaceDir(Paths.get(tr)))
        throw new IllegalStateException(
          s"$catalogName.$tbl already exists as a NAMESPACE")
      val parent = Paths.get(tr).getParent
      val parentOk =
        if (id.namespace().isEmpty) { Files.createDirectories(parent); true }
        else isNamespaceDir(parent)
      if (!parentOk)
        throw new NoSuchNamespaceException(name() +: id.namespace().toSeq)
      tr
    }
    if (ident.namespace().toSeq != Seq(GraftProcedures.Namespace))
      throw new RuntimeException(s"$catalogName: unknown procedure $ident")
    ident.name() match {
      case "compact" => new GraftProcedures.Compact(resolve)
      case "restore" => new GraftProcedures.Restore(resolve)
      case "tag" => new GraftProcedures.Tag(resolve)
      case "drop_tag" => new GraftProcedures.DropTag(resolve)
      case "branch" => new GraftProcedures.Branch(resolve, resolveNew)
      case "merge_branch" => new GraftProcedures.MergeBranch(resolve)
      case "neardup_build" => new GraftProcedures.NearDupBuild(resolve, resolveNew)
      case "neardup_append" => new GraftProcedures.NearDupAppend(resolve)
      case "bloom_index" => new GraftProcedures.BloomIndex(resolve)
      case "clone" => new GraftProcedures.Clone(resolve, resolveNew)
      case "repartition_table" => new GraftProcedures.RepartitionTable(resolve)
      case "copy_into" => new GraftProcedures.CopyInto(resolve)
      case "vacuum_orphans" => new GraftProcedures.VacuumOrphans(resolve)
      case "ann_split" => new GraftProcedures.AnnSplit(resolve)
      case "zorder" => new GraftProcedures.Zorder(resolve)
      case "annotate_stats" => new GraftProcedures.AnnotateStats(resolve)
      case "expire_versions" => new GraftProcedures.ExpireVersions(resolve)
      case "purge" => new GraftProcedures.Purge(resolve)
      case "ndv" => new GraftProcedures.Ndv(resolve)
      case "mview_create" => new GraftProcedures.MviewCreate(resolve, resolveNew)
      case "mview_refresh" => new GraftProcedures.MviewRefresh(resolve)
      case "eq_upsert" => new GraftProcedures.EqUpsert(resolve)
      case "eq_checkpoint" => new GraftProcedures.EqCheckpoint(resolve)
      case "bpe_train" => new GraftProcedures.BpeTrain(resolve, resolveNew)
      case "txn_publish" => new GraftProcedures.TxnPublish(resolve, resolveNew,
        tbl => {
          val parts = tbl.split("\\.").toSeq
          Sinks.currentVersion(
            tableRoot(Identifier.of(parts.init.toArray, parts.last))).isDefined
        })
      case other => throw new RuntimeException(
        s"$catalogName: unknown procedure $other (available: " +
          GraftProcedures.Names
            .map(n => s"${GraftProcedures.Namespace}.$n").mkString(", ") + ")")
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq(GraftProcedures.Namespace))
      GraftProcedures.Names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    // namespaceExists validates every segment (nsPath), so a traversal
    // token like a backticked `..` answers "absent" here and can never
    // aim the recursive delete outside the warehouse root
    if (namespace.isEmpty || !namespaceExists(namespace)) false
    else {
      val p = nsPath(namespace.toSeq).get
      // the non-CASCADE guard must see EVERYTHING — loose files, staging
      // dirs, metadata-named dirs — not just what lists as table/namespace
      val entries = Files.list(p)
      val empty = try !entries.findFirst().isPresent finally entries.close()
      if (!empty && !cascade)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      if (!empty) {
        // child TABLES first, each under its own commit lock (same
        // reasoning as dropTable: a racing INSERT either commits fully
        // before the delete or fails its OCC check after — an unlocked
        // bulk delete could race a commit mid-walk and die half-done);
        // child namespaces recurse, then the final sweep removes loose
        // files and ghost dirs
        listTables(namespace).foreach { id =>
          val tr = tableRoot(id)
          Sinks.withTableLock(tr) { graft.io.Fs.deleteRecursively(Paths.get(tr)) }
        }
        subdirs(namespace.toSeq).foreach(n =>
          dropNamespace(namespace :+ n, cascade = true))
      }
      graft.io.Fs.deleteRecursively(p)
      true
    }
  }
}

/** The catalog-independent halves of table construction — shared by
  * [[GraftCatalog]] and the path-based `spark.read.format("graft")`
  * provider ([[GraftDataSource]]): the schema-pinned parquet delegate
  * over one version dir, and the rule-presence gate refusing a bare
  * scan wherever it would be WRONG rather than slow.
  */
private[catalog] object GraftTables {

  /** Refuse rule-less sessions for any version whose bare DSv2 scan
    * would return wrong rows: deletion vectors / equality deletes
    * (deleted rows resurface), column mapping (logical names against
    * physical files read all-null), mixed layouts (leg rows silently
    * dropped), hidden partitioning (derived columns leak). Round-14
    * also closed the equality-delete hole here — the rule handled
    * them, but the rule-less refusal didn't list them.
    */
  private[catalog] def requireReadRule(versionDir: String, tRoot: String,
      what: String): Unit = {
    if (!graft.ops.Dv.exists(versionDir) &&
        !graft.ops.EqDel.exists(versionDir) &&
        !graft.ops.ColMap.exists(versionDir) &&
        !Sinks.hasLayoutLegs(versionDir)) return
    // hidden-partitioned specs are bare-scan-correct on the v2 path
    // (round-15: ALL transform grids — complete rows, schema-hidden,
    // builder-implied pruning needs no session rule), and DV/eq-delete
    // versions the scan wrapper subtracts READER-side need no rule
    // either — the wrapper rides every door unconditionally
    if (MorSpj.readerSide(tRoot, versionDir)) return
    val spark = SparkSession.active
    val active =
      try {
        val m = classOf[org.apache.spark.sql.catalyst.rules.RuleExecutor[_]]
          .getDeclaredMethod("batches")
        m.setAccessible(true)
        m.invoke(spark.sessionState.optimizer).asInstanceOf[Seq[_]].exists { b =>
          val rm = b.getClass.getMethod("rules")
          rm.invoke(b).asInstanceOf[Seq[AnyRef]]
            .exists(_ eq (graft.plans.DvReadRule: AnyRef))
        }
      } catch { case _: Throwable =>
        spark.conf.get("spark.sql.extensions", "").contains("GraftExtensions")
      }
    if (!active) throw new IllegalStateException(
      s"$what carries a deletion vector, equality deletes, column " +
        "mapping, mixed partition layout, or hidden partitioning and this " +
        "session's optimizer lacks DvReadRule — build the session with " +
        "spark.sql.extensions=graft.GraftExtensions (or compact the table " +
        "to purge deletes / materialize renames and layout legs first)")
  }

  /** V2 parquet delegate over one version dir. For a PARTITIONED table
    * the full read schema is pinned ([[Sinks.readSchemaFor]]) so
    * partition-directory type inference can never rewrite a declared
    * STRING partition column into a date/int; a column mapping
    * translates physical footer names to logical; hidden-transform
    * columns drop from the logical schema.
    */
  // every loadTable builds a fresh ParquetTable, and its schema()/fileIndex
  // re-lists the version dir and re-runs partition discovery
  private val delegateMemo = new graft.ops.VersionMemo[ParquetTable](512)

  private[catalog] def delegate(name: String, tRoot: String,
      path: String, physicalNames: Boolean = false): ParquetTable =
    delegateMemo(SparkSession.active, Seq(path), s"$name|$physicalNames") {
      buildDelegate(name, tRoot, path, physicalNames)
    }

  private def buildDelegate(name: String, tRoot: String,
      path: String, physicalNames: Boolean): ParquetTable = {
    val spark = SparkSession.active
    val mapping = graft.ops.ColMap.load(path)
    val gone = graft.ops.ColMap.dropped(path).map(_.toLowerCase)
    val declared0 =
      if (mapping.isEmpty && gone.isEmpty) Sinks.readSchemaFor(spark, tRoot, path)
      else {
        val phys = Sinks.readSchemaFor(spark, tRoot, path)
          .getOrElse(Sinks.inferSchema(spark, path))
        val physToLogical = mapping.map { case (l, p) => p.toLowerCase -> l }
        Some(org.apache.spark.sql.types.StructType(phys
          .filterNot(f => gone.contains(f.name.toLowerCase)) // DROP tombstones
          .map(f =>
            // the SCAN delegate of a reader-side colmap version keeps
            // PHYSICAL names (round-16 SPJ through column mapping): the
            // builder translates pruning/filters logical→physical and
            // the scan wrapper aliases its read schema back — so the
            // footer names are what this delegate must resolve against
            if (physicalNames) f
            else f.copy(name = physToLogical.getOrElse(f.name.toLowerCase, f.name)))))
      }
    val declared = declared0.map(s => org.apache.spark.sql.types.StructType(
      s.filterNot(f => graft.ops.Transforms.parse(f.name).isDefined)))
    ParquetTable(
      name = name,
      sparkSession = spark,
      options = CaseInsensitiveStringMap.empty(),
      paths = Seq(path),
      userSpecifiedSchema = declared,
      fallbackFileFormat = classOf[ParquetFileFormat])
  }
}
