package graft.catalog

import java.util

import graft.ops.Sinks
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The path-based read door (B184): `spark.read.format("graft")` over a
  * versioned table ROOT — no catalog registration needed, which is how
  * ad-hoc tooling, notebooks pointed at someone else's warehouse, and
  * cross-workspace jobs read a table they don't own:
  *
  * {{{
  *   spark.read.format("graft").load("/warehouse/events")          // live
  *   spark.read.format("graft").option("versionAsOf", 2).load(p)   // pin
  *   spark.read.format("graft").option("tag", "baseline").load(p)  // tag
  *   spark.read.format("graft")
  *     .option("timestampAsOf", "2026-08-01 00:00:00").load(p)     // instant
  * }}}
  *
  * The provider resolves the version AT LOAD TIME (snapshot isolation —
  * the returned table is pinned to one immutable version dir, exactly
  * like the catalog's `loadTable`), serves the same schema-pinned
  * parquet delegate the catalog serves ([[GraftTables.delegate]]), and
  * implements [[GraftSnapshotDir]] — so the optimizer tier composes
  * unchanged: deletion-vector/equality-delete subtraction, column
  * mapping, layout legs, hidden partitioning, stats skipping, and
  * metadata-only counts all fire on format-read tables too. Sessions
  * WITHOUT the extensions are refused for any table whose bare scan
  * would be wrong ([[GraftTables.requireReadRule]]) rather than served
  * resurrected rows.
  *
  * The WRITE door (round-16): `df.write.format("graft")` rides the V1
  * [[org.apache.spark.sql.sources.CreatableRelationProvider]] funnel —
  * the v2 table deliberately advertises no write capability, so every
  * SaveMode (including the create modes v2 TableProviders cannot
  * express) falls back to [[createRelation]], which routes through the
  * SAME commit protocol as the catalog door: OCC against the version
  * resolved at write time, identity/generated/CHECK gates, O(delta)
  * linked appends with the insert feed, declared-partitioning layout.
  * A fresh root CREATES the table (empty v0 + partition spec, data as
  * v1 — the catalog's CREATE ordering); time-travel options refuse
  * (writes target the CURRENT version by definition).
  */
class GraftDataSource extends org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  private def resolve(options: CaseInsensitiveStringMap): (String, String) = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "format(\"graft\") requires .load(<table root>)"))
    val vOpt = Option(options.get("versionAsOf")).map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"versionAsOf must be a version number, got '$v'"))
    }.orElse(Option(options.get("tag")).map { t =>
      Sinks.listTags(root).getOrElse(t, throw new IllegalArgumentException(
        s"no tag '$t' on $root (tags: ${Sinks.listTags(root).keys.mkString(", ")})"))
    }).orElse(Option(options.get("timestampAsOf")).map { ts =>
      // same contract as the catalog's TIMESTAMP AS OF: the newest
      // version committed at or before the instant. Accepted spellings
      // match what SQL casts accept: date-only, 'yyyy-MM-dd HH:mm:ss',
      // ISO-8601 local, and zone/offset-suffixed ISO-8601; zone-less
      // forms resolve through the SESSION zone — exactly how Spark
      // derives the micros it hands the catalog's loadTable(ident, ts),
      // so the two doors pin the same version for the same string
      val zone = java.time.ZoneId.of(org.apache.spark.sql.SparkSession.active
        .sessionState.conf.sessionLocalTimeZone)
      val raw = ts.trim.replace(" ", "T")
      val cutoff = scala.util.Try(
          java.time.OffsetDateTime.parse(raw).toInstant.toEpochMilli)
        .orElse(scala.util.Try(
          java.time.ZonedDateTime.parse(raw).toInstant.toEpochMilli))
        .orElse(scala.util.Try(java.time.LocalDateTime.parse(raw)
          .atZone(zone).toInstant.toEpochMilli))
        .orElse(scala.util.Try(java.time.LocalDate.parse(raw)
          .atStartOfDay(zone).toInstant.toEpochMilli))
        .getOrElse(throw new IllegalArgumentException(
          s"timestampAsOf must be a date or timestamp ('yyyy-MM-dd', " +
            s"'yyyy-MM-dd HH:mm:ss', ISO-8601 with optional zone), got '$ts'"))
      val eligible = Sinks.listVersions(root).filter(v =>
        Sinks.commitInstantMs(Sinks.versionPath(root, v)) <= cutoff)
      if (eligible.isEmpty) throw new IllegalArgumentException(
        s"no version of $root committed at or before $ts " +
          s"(oldest retained: v${Sinks.listVersions(root).minOption.getOrElse(-1L)})")
      eligible.max
    })
    val v = vOpt.getOrElse(Sinks.currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no published version under $root")))
    val dir = Sinks.versionPath(root, v)
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)),
      s"version v$v does not exist under $root (expired? " +
        s"available: ${Sinks.listVersions(root).mkString(", ")})")
    (root, dir)
  }

  private def snapshot(options: CaseInsensitiveStringMap): Table = {
    val (root, dir) = resolve(options)
    GraftTables.requireReadRule(dir, root, s"graft path table $root")
    val delegate = GraftTables.delegate(s"graft.`$root`", root, dir)
    // round-16: a reader-side COLUMN-MAPPED version scans through a
    // PHYSICAL-name delegate on this door too (the catalog door's
    // scanDelegate twin) — the builder translates pruning/pushdown
    // logical→physical and the scan re-aliases back, so footer filter
    // pushdown keeps working on renamed columns. The user-facing
    // schema() below stays the LOGICAL delegate's.
    lazy val scanDelegate =
      if (graft.ops.ColMap.load(dir).nonEmpty && MorSpj.readerSide(root, dir))
        GraftTables.delegate(s"graft.`$root`", root, dir, physicalNames = true)
      else delegate
    new Table with SupportsRead with GraftSnapshotDir {
      override def snapshotVersionDir: String = dir
      override def snapshotTableRoot: String = root
      override def name(): String = delegate.name
      // mirror the catalog door's SnapshotTable.schema(): the file-level
      // delegate re-discovers hidden-transform `_tp_*` directory columns
      // (B161/B189) and appends them — the logical schema must hide them
      // on THIS door too, or `SELECT *` via format("graft") exposes
      // internal machinery the catalog read of the same table hides
      override def schema(): StructType =
        GraftDefaults.injectExistence(StructType(delegate.schema
          .filterNot(f => graft.ops.Transforms.parse(f.name).isDefined)
          .map(f => f.copy(metadata = org.apache.spark.sql.types.Metadata.empty))),
          dir)
      override def partitioning(): Array[Transform] = delegate.partitioning()
      override def properties(): util.Map[String, String] = delegate.properties()
      override def capabilities(): util.Set[TableCapability] = {
        val caps = new util.HashSet[TableCapability]()
        caps.add(TableCapability.BATCH_READ)
        caps
      }
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        GraftScans.wrap(scanDelegate.newScanBuilder(options), root, dir)
    }
  }

  // true so the WRITER path hands getTable the frame's schema instead
  // of forcing inferSchema — which must keep failing loudly for a
  // missing root on the READ path (below), but would otherwise kill
  // `df.write.format("graft").save(<fresh root>)` before the V1
  // create funnel gets its chance
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    snapshot(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "format(\"graft\") requires .load/.save(<table root>)"))
    // a root with no published version: a WRITE in flight (the stub's
    // absent capabilities route it to the V1 create funnel) or a read
    // that must fail loudly — at scan build, with the same message the
    // schema-inferred path throws at load
    val declared = schema // the member below would shadow the parameter
    if (Sinks.currentVersion(root).isEmpty &&
        !Seq("versionAsOf", "tag", "timestampAsOf").exists(options.containsKey))
      new Table {
        override def name(): String = s"graft.`$root`"
        override def schema(): StructType = declared
        override def capabilities(): util.Set[TableCapability] =
          new util.HashSet[TableCapability]()
      }
    else snapshot(options)
  }

  /** The V1 write funnel — every `df.write.format("graft")` SaveMode
    * lands here (the v2 table has no write capability, by design).
    */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.execution.datasources.DataSourceUtils
    import org.apache.spark.sql.functions.{col, expr, lit}
    val spark = data.sparkSession
    val root = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.getOrElse(throw new IllegalArgumentException(
      "format(\"graft\") requires .save(<table root>)"))
    require(!Seq("versionAsOf", "tag", "timestampAsOf").exists(k =>
      parameters.keys.exists(_.equalsIgnoreCase(k))),
      "graft writes target the CURRENT version — time-travel options " +
        "(versionAsOf/tag/timestampAsOf) are read-only")
    val partBy: Seq[String] = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(DataSourceUtils.PARTITIONING_COLUMNS_KEY) =>
        DataSourceUtils.decodePartitioningColumns(v)
    }.getOrElse(Nil)

    /** By-name alignment against the table's LOGICAL schema: unknown
      * columns refuse, missing ones fill with their declared DEFAULT
      * (or NULL — the identity/generated compute-me marker), everything
      * casts to the declared type. The same row gates as the catalog's
      * INSERT door, in the same order.
      */
    def gated(tableSchema: StructType): org.apache.spark.sql.DataFrame = {
      val known = tableSchema.fieldNames.map(_.toLowerCase).toSet
      val extra = data.columns.filterNot(c => known(c.toLowerCase))
      require(extra.isEmpty,
        s"column(s) not in $root: ${extra.mkString(", ")} — ALTER TABLE " +
          "ADD COLUMNS first (or use the catalog door's MERGE WITH " +
          "SCHEMA EVOLUTION)")
      val defaults = GraftDefaults.load(root)
      val aligned = data.select(tableSchema.map { f =>
        if (data.columns.exists(_.equalsIgnoreCase(f.name)))
          col(s"`${f.name}`").cast(f.dataType).as(f.name)
        else defaults.get(f.name.toLowerCase)
          .map(sql => expr(sql).cast(f.dataType).as(f.name))
          .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }.toIndexedSeq: _*)
      GraftCheck.enforce(
        graft.ops.Generated.enforce(
          graft.ops.Identity.assign(aligned, root), root), root)
    }

    Sinks.currentVersion(root) match {
      case None =>
        // CREATE: the catalog's ordering — empty flat v0 wins the race,
        // the partition spec lands as props, the data appends as v1
        // (laid out under the declared grid). A graft VIEW's storage
        // dir must not be silently buried under version dirs.
        require(!GraftViews.isView(root),
          s"$root holds a graft VIEW definition — DROP the view or pick " +
            "a different path")
        partBy.foreach(c => require(
          data.columns.exists(_.equalsIgnoreCase(c)),
          s"partitionBy column $c is not in the frame"))
        val empty = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), data.schema)
        Sinks.publishVersioned(empty, root, None)
        if (partBy.nonEmpty)
          graft.ops.TableProps.store(root, Map(
            graft.ops.TableProps.PartitionKey -> StructType(partBy.map(c =>
              data.schema(data.columns.find(_.equalsIgnoreCase(c)).get))).toDDL))
        Sinks.appendVersioned(data, root, Some(0L), emitFeed = true)
      case Some(v) =>
        val declared = graft.ops.TableProps.partitionCols(root)
        require(partBy.isEmpty ||
          partBy.map(_.toLowerCase) == declared.map(_.toLowerCase),
          s"partitionBy(${partBy.mkString(", ")}) does not match the " +
            s"table's declared partitioning (${declared.mkString(", ")}) — " +
            "omit partitionBy: the declared layout applies to every write")
        val tableSchema = Sinks.readCurrent(spark, root).schema
        mode match {
          case SaveMode.ErrorIfExists => throw new IllegalStateException(
            s"$root already holds a graft table (v$v) — use " +
              "mode(\"append\") or mode(\"overwrite\")")
          case SaveMode.Ignore => ()
          case SaveMode.Append =>
            Sinks.appendVersioned(gated(tableSchema), root, Some(v),
              emitFeed = true)
          case SaveMode.Overwrite =>
            // full replace; the skipping tier re-annotates with the live
            // sidecar's columns (the catalog overwrite's discipline)
            val statsCols = graft.ops.Stats.sidecarCols(
              spark, Sinks.versionPath(root, v))
            Sinks.publishVersioned(gated(tableSchema), root, Some(v), statsCols)
        }
    }
    val ctx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  /** The V1 STREAMING source — `spark.readStream.format("graft")
    * .load(root)`: the table's change feed as a stream (the Delta CDF
    * readStream parity spelling of `TableStream.streamFeed`). The v2
    * table advertises no streaming-read capability, so Spark falls
    * back here; the source delegates to Spark's own file-stream source
    * over `feed/` (checkpointed seen-file tracking — robust to the
    * reconciler's out-of-order back-links), each batch stamped with
    * `_commit_version`. Requires `Sinks.enableStreamFeed(root)`, the
    * same contract as the library door.
    */
  private def rootOf(parameters: Map[String, String]): String = {
    val root = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.getOrElse(throw new IllegalArgumentException(
      "format(\"graft\") requires .load/.start(<table root>)"))
    require(!Seq("versionAsOf", "tag", "timestampAsOf").exists(k =>
      parameters.keys.exists(_.equalsIgnoreCase(k))),
      "graft streams read the live change feed — time-travel options " +
        "(versionAsOf/tag/timestampAsOf) are batch-read-only")
    root
  }

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), graft.ops.TableStream.feedSourceSchema(
      sqlContext.sparkSession, rootOf(parameters)))

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    graft.ops.TableStream.feedSource(sqlContext.sparkSession,
      rootOf(parameters), metadataPath, parameters)

  /** The V1 STREAMING sink — `df.writeStream.format("graft")
    * .option("path", root).start()` (the v2 table advertises no
    * streaming-write capability, so Spark falls back here). Each
    * micro-batch rides [[graft.ops.TableStream.sinkBatch]]: the
    * exactly-once dedupe + OCC-retry + high-water-mark contract of the
    * library's `TableStream.streamTo`, with a fresh root created on
    * the first batch. Append output mode only (a versioned table IS an
    * append-only log of versions; use MERGE/eq-delete upserts for
    * update semantics).
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val root = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.getOrElse(throw new IllegalArgumentException(
      "writeStream.format(\"graft\") requires .option(\"path\", <root>) " +
        "or .start(<table root>)"))
    require(!Seq("versionAsOf", "tag", "timestampAsOf").exists(k =>
      parameters.keys.exists(_.equalsIgnoreCase(k))),
      "graft writes target the CURRENT version — time-travel options " +
        "(versionAsOf/tag/timestampAsOf) are read-only")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"the graft streaming sink supports Append output mode only " +
        s"(got $outputMode) — aggregate with watermarks and append, or " +
        "land updates as eq-delete upserts")
    // the writer tag derives from the checkpoint so a RESTARTED query
    // dedupes its replayed batches; distinct checkpoints stay distinct.
    // The option is REQUIRED here, not defaulted to the table root:
    // Spark's V1 Sink API does not hand this method the RESOLVED
    // checkpoint, so two queries relying on the session-default
    // checkpoint dir (distinct resolved checkpoints!) would silently
    // share one root-derived tag and dedupe each other's batch ids — a
    // silent exactly-once violation. Refusing is the only honest move.
    val checkpoint = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("checkpointLocation") => v
    }.getOrElse(throw new IllegalArgumentException(
      "writeStream.format(\"graft\") requires an explicit " +
        ".option(\"checkpointLocation\", ...): the exactly-once batch " +
        "dedupe tag derives from it, and a session-default checkpoint " +
        "is not visible to the sink — two default-checkpointed queries " +
        "writing one table would silently dedupe each other's batches. A " +
        "pipeline moving from the session-default checkpoint to an " +
        "explicit one re-commits its first replayed batch once (a " +
        "one-time duplicate); see the README's streaming-sink note"))
    new org.apache.spark.sql.execution.streaming.Sink {
      override def name(): String = s"graft.`$root`"
      override def addBatch(batchId: Long,
          data: org.apache.spark.sql.DataFrame): Unit = {
        // the V1 contract hands a frame with streaming-flagged leaves
        // (`.write` would refuse) whose execution is already this
        // batch's fixed slice — re-wrap it as a standalone batch frame
        // before the commit funnel runs its own jobs over it
        val fresh = org.apache.spark.sql.GraftSqlShims.sinkBatchFrame(data)
        graft.ops.TableStream.sinkBatch(root, checkpoint, batchId, fresh,
          partitionColumns)
      }
    }
  }
}
