package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.io.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch sink patterns for pipeline reruns (the A4 emit-to-storage analog
  * with production semantics).
  */
object Sinks
    extends SinksRebase with SinksMor with SinksEvolution
    with SinksReplication with SinksMaintenance {

  /** Idempotent partition backfill: dynamic partition overwrite replaces
    * ONLY the partitions present in `df`, leaving the rest of the table
    * untouched — the rerun-safe write a daily 100 TB pipeline needs
    * (static overwrite would truncate the whole table).
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ---------- versioned table layout (atomic publish) ----------
  //
  // Layout: <root>/v<N>/ holds immutable parquet versions; <root>/_CURRENT
  // is a tiny pointer file naming the live version. Writers fully
  // materialize their data in a private staging dir, then COMMIT under a
  // cross-process lock: the version number is allocated inside the lock,
  // the staging dir is renamed to v<N> (one atomic rename), and the
  // pointer flips (another atomic rename). Readers that resolve through
  // the pointer see the old complete version or the new complete version,
  // never a missing/partial table. This is the small-manifest conditional
  // commit that table formats (Delta/Iceberg logs) implement on object
  // stores with a conditional PUT; at 100 TB the layout delegates cleanly
  // to such a format without changing callers.

  /** The bound [[CommitProtocol]] — the seam between the versioned
    * layout's logic (staging, sidecars, OCC, feeds) and the platform's
    * atomic-visibility primitives. Defaults to [[LocalFsCommit]]; an
    * object-store deployment binds its conditional-PUT implementation
    * here and every writer (catalog DML, streaming sink, ANN index,
    * merges) commits through it unchanged.
    */
  @volatile var commitProtocol: CommitProtocol = LocalFsCommit

  /** The live version number, if the table has ever been published. */
  def currentVersion(root: String): Option[Long] =
    commitProtocol.readPointer(root)

  /** Path of version `v` under `root`. */
  def versionPath(root: String, v: Long): String = s"$root/v$v"

  /** Path of the live version directory (readers resolve through this). */
  def resolve(root: String): String = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    versionPath(root, v)
  }

  def readCurrent(spark: SparkSession, root: String): DataFrame =
    snapshotRead(spark, root, resolve(root))

  /** True iff any `*.parquet` data file exists under `p` (recursively,
    * partition dirs included; the layout's own `_`/`.`-prefixed sidecars
    * excluded).
    */
  private[graft] def hasParquetFile(p: java.nio.file.Path): Boolean =
    Fs.walkParquet(p).nonEmpty

  /** Version dir `p` of table `root` as its readers see it — the one read
    * recipe every Scala read, snapshot diff, CDC read, replica bootstrap,
    * compaction, pruned read and SQL swap ([[graft.plans.DvReadRule]],
    * [[graft.plans.StatsSkipRule]], [[graft.plans.MetaCountRewrite]])
    * flows through, so no path can resurface a deleted row or a
    * write-side column. `files = None` scans the whole version;
    * `Some(fs)` scans only those absolute paths (the stats/bloom-pruned
    * reads), each with its scan root as `basePath` so partition-directory
    * columns stay in scope. Pruning stays conservative: a kept file whose
    * rows are all hidden contributes nothing.
    *
    * The read schema is always pinned ([[snapshotSchema]]), so building
    * the plan launches no inference job for a flat version, and
    * partition columns keep their DECLARED types (directory-name
    * inference would turn a STRING `00123` into INT).
    * After the scan, in order:
    *  1. derived hidden-partitioning `_tp_*` columns (B161) drop in the
    *     same projection as the data columns — a Project ABOVE the scan,
    *     so a pushed-down filter still reaches the scan with them in
    *     scope, which is where HiddenPartitionRule injects its directory
    *     predicate;
    *  2. pending equality deletes (round-14) subtract — they need
    *     `_metadata.file_path` for the file-sequence scope;
    *  3. the deletion vector (B135) subtracts, consuming `_metadata`;
    *  4. metadata-only renames/drops map PHYSICAL names to LOGICAL ones
    *     ([[ColMap.toLogical]]).
    * `_metadata` is projected ONLY when a subtraction will run: touching
    * the struct at all materializes `row_index` into every scan
    * (CatalogSpec's column-pruning assert catches it).
    */
  private[graft] def snapshotRead(spark: SparkSession, root: String, dir: String,
      files: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    // nothing survived the prune: no rows, the version's schema
    if (files.exists(_.isEmpty))
      return ColMap.toLogical(Transforms.dropHidden(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        snapshotSchema(spark, root, dir))), dir)
    val subtracts = EqDel.exists(dir) || Dv.exists(dir)
    val base =
      if (hasLayoutLegs(dir)) scanVersion(spark, root, dir, files, subtracts)
      else scanRoot(spark, dir, files, subtracts, snapshotSchema(spark, root, dir))
    val dataCols = base.columns.toSeq.filterNot(_ == "_metadata")
    val subtracted =
      if (!subtracts) base
      else {
        val eqApplied = if (EqDel.exists(dir)) EqDel.subtract(base, dir) else base
        if (Dv.exists(dir)) Dv.subtract(eqApplied, dir, dataCols)
        else eqApplied.select(dataCols.map(col).toIndexedSeq: _*)
      }
    ColMap.toLogical(subtracted, dir)
  }

  /** One scan root (a version dir, or a `_layout<k>/` leg of one) read
    * under `schema`: the whole root, or only `files` with the root as
    * `basePath`. Derived `_tp_*` directory columns are left out of the
    * projection, which carries `_metadata` last when `withMeta`.
    */
  private def scanRoot(spark: SparkSession, scanDir: String,
      files: Option[Seq[String]], withMeta: Boolean,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    val rd = spark.read.schema(schema)
    val df = files.fold(rd.parquet(scanDir))(fs =>
      rd.option("basePath", scanDir).parquet(fs: _*))
    val cols = df.columns.toSeq.filterNot(c => Transforms.parse(c).isDefined)
      .map(c => col(s"`$c`"))
    df.select((if (withMeta) cols :+ col("_metadata") else cols).toIndexedSeq: _*)
  }

  // -------------------- mixed-layout versions (metadata-only evolution)

  /** Reserved prefix of legacy-layout leg directories inside a version
    * dir — see [[graft.io.Fs.isLayoutLeg]]. A metadata-only partition
    * evolution ([[repartitionTable]] with `metadataOnly = true`) moves
    * the then-current files (by hardlink — inode-preserving, zero data
    * movement) under `_layout<k>/`, each leg keeping its own `_PSPEC`
    * stamp; files written after the evolution land at the top level
    * under the new spec. Readers union the legs; compaction (and any
    * COW rewrite) materializes them away.
    */
  private[graft] val LayoutDirPrefix = "_layout"

  /** Legacy-layout leg dirs under version dir `p`, ascending by index
    * (creation order — leg 0 is the oldest layout, so its column order
    * is the canonical pre-evolution table order the union preserves).
    */
  private[graft] def layoutLegs(p: String): Seq[Path] = {
    val d = Paths.get(p)
    if (!Files.isDirectory(d)) Nil
    else Fs.listDir(d)
      .filter(c => Files.isDirectory(c) && Fs.isLayoutLeg(c.getFileName.toString))
      .sortBy(_.getFileName.toString.drop(LayoutDirPrefix.length).toLong)
  }

  private[graft] def hasLayoutLegs(p: String): Boolean = layoutLegs(p).nonEmpty

  /** True iff any CURRENT-layout (top-level, Spark-visible) data file
    * exists under version dir `p` — right after a metadata-only
    * evolution there are none (everything moved into the new leg).
    */
  private[graft] def topLevelParquetExists(p: String): Boolean = {
    val d = Paths.get(p)
    Fs.walkParquet(d).exists(f =>
      !Fs.isLayoutLeg(d.relativize(f).getName(0).toString))
  }

  /** The scan roots of version dir `p` that hold data: its non-empty
    * layout legs in creation order, then the top level. Legs emptied by
    * churn are skipped.
    */
  private def scanRoots(p: String): Seq[String] =
    layoutLegs(p).filter(l => Fs.walkParquet(l).nonEmpty).map(_.toString) ++
      (if (topLevelParquetExists(p)) Seq(p) else Nil)

  /** Read schema of one scan root inside version dir `p`: partition
    * types pinned from the scan root's own spec (a leg's own `_PSPEC`
    * stamp, always written by the evolution commit, or the version's
    * spec via [[partitionSchemaFor]] for the top level), metadata-ADDED
    * columns ([[ColMap.added]]) appended so parquet serves NULL from
    * files that predate the ADD, and metadata-only widenings
    * ([[ColMap.widened]], B162) pinned to the declared WIDE type — the
    * parquet reader upcasts narrow footers per file. Added and widened
    * columns are version-level and apply to every leg alike.
    */
  private def legReadSchema(spark: SparkSession, root: String, p: String,
      scanDir: String): org.apache.spark.sql.types.StructType = {
    val inferred = inferSchema(spark, scanDir)
    val spec =
      if (scanDir == p) partitionSchemaFor(root, p)
      else specStamp(scanDir).getOrElse(throw new IllegalArgumentException(
        s"layout leg $scanDir lacks its $PartitionSpecFile stamp — the " +
          "version dir is corrupt (evolution commits always stamp legs)"))
    val pinned = spec match {
      case None => inferred
      case Some(declared) =>
        org.apache.spark.sql.types.StructType(inferred.map { f =>
          declared.find(_.name.equalsIgnoreCase(f.name))
            .map(d => f.copy(dataType = d.dataType)).getOrElse(f)
        })
    }
    // a field already present in the footers (a post-ADD linked commit
    // wrote it, or inference picked a new file) is not appended twice
    val have = pinned.fieldNames.map(_.toLowerCase).toSet
    val withAdded = ColMap.added(p).foldLeft(pinned)((s, f) =>
      if (have(f.name.toLowerCase)) s else s.add(f.copy(nullable = true)))
    ColMap.applyWidened(p, withAdded)
  }

  /** Data files of mixed-layout version dir `p` as ONE physical-named
    * frame, `_metadata` as its last column when `withMeta` — the scan
    * base of [[snapshotRead]] and [[liveWithPositions]] for such
    * versions. `files = None` reads every scan root whole; `Some(fs)`
    * groups the files by their owning scan root (a `_layout<k>/` leg or
    * the top level). Each root reads under its own partition spec, and
    * `unionByName` aligns the differing column orders (a leg's partition
    * columns are directories there, data columns elsewhere) with the
    * oldest leg's order winning. Derived `_tp_*` columns never surface:
    * legs under DIFFERENT hidden specs would break the union if they did.
    * Deletion-vector and eq-delete keys are version-dir-relative
    * (`_layout<k>/…` for leg rows), so one subtraction over the union
    * stays exact.
    */
  private[graft] def scanVersion(spark: SparkSession, root: String, p: String,
      files: Option[Seq[String]] = None, withMeta: Boolean = true): DataFrame = {
    val roots: Seq[(String, Option[Seq[String]])] = files match {
      case None => scanRoots(p).map(_ -> None)
      case Some(fs) =>
        val base = Paths.get(p)
        val groups = fs.groupBy { f =>
          val head = base.relativize(Paths.get(f)).getName(0).toString
          if (Fs.isLayoutLeg(head)) base.resolve(head).toString else p
        }
        (layoutLegs(p).map(_.toString) :+ p).filter(groups.contains)
          .map(r => r -> Some(groups(r)))
    }
    require(roots.nonEmpty, s"no data files under version dir $p")
    roots.map { case (r, fs) =>
      scanRoot(spark, r, fs, withMeta, legReadSchema(spark, root, p, r))
    }.reduce(_ unionByName _)
  }

  /** Version-local partition spec stamp: the partition-column DDL of the
    * layout THIS version's files actually have (empty string =
    * unpartitioned). Written by every commit, carried by RESTORE/CLONE,
    * preferred by readers — so `VERSION AS OF` across a partition
    * evolution ([[repartitionTable]]) reads each version under its own
    * layout instead of the table's current one.
    */
  private[graft] val PartitionSpecFile = "_PSPEC"

  /** The `_PSPEC` stamp of scan root `dir`: None when there is no stamp,
    * Some(None) when it says unpartitioned.
    */
  private def specStamp(dir: String): Option[Option[org.apache.spark.sql.types.StructType]] = {
    val f = Paths.get(dir, PartitionSpecFile)
    if (!Files.exists(f)) None
    else {
      val ddl = new String(Files.readAllBytes(f), "UTF-8").trim
      Some(if (ddl.isEmpty) None
        else Some(org.apache.spark.sql.types.StructType.fromDDL(ddl)))
    }
  }

  /** The partition schema version dir `p` was committed under: its own
    * `_PSPEC` when present (None inside = explicitly unpartitioned),
    * falling back to the table-level spec for versions committed before
    * the stamp existed.
    */
  private[graft] def partitionSchemaFor(root: String,
      p: String): Option[org.apache.spark.sql.types.StructType] =
    specStamp(p).getOrElse(TableProps.partitionSchema(root))

  /** Parquet schema inference over one directory, memoized per stamped
    * version dir ([[VersionMemo]]): one DDL/DML statement's analysis
    * infers the same version dir several times. A flat directory (no
    * partition subdirectories) is inferred on the driver from one
    * footer ([[footerSchema]]) — no Spark job. A partitioned directory
    * keeps Spark's own inference, which also discovers the partition
    * columns and runs as a driver-blocking job.
    */
  private val inferMemo = new VersionMemo[org.apache.spark.sql.types.StructType](4096)
  private[graft] def inferSchema(spark: SparkSession, p: String)
      : org.apache.spark.sql.types.StructType =
    inferMemo(spark, Seq(p)) {
      footerSchema(spark, p).getOrElse(spark.read.parquet(p).schema)
    }

  /** Spark's non-merging parquet inference of FLAT directory `p`, run on
    * the driver: the first visible data file by path — the one file
    * `ParquetUtils.splitFiles` hands the inference job — has its footer
    * read through parquet-hadoop and converted by Spark's own
    * footer-to-schema rule under the session's parquet confs, then made
    * nullable as a file-source relation does. One footer read on top of
    * one directory listing. None when `p` is no directory, holds a
    * partition subdirectory, a summary file, no data file, or an unreadable
    * footer: the caller then runs Spark's inference, which also owns
    * the errors.
    */
  private def footerSchema(spark: SparkSession,
      p: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    // Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName)
    def hidden(n: String) = n.startsWith(".") || n.endsWith("._COPYING_") ||
      (n.startsWith("_") && !n.contains("="))
    if (!Files.isDirectory(Paths.get(p))) return None
    val entries = Fs.listDir(Paths.get(p))
    val summary = entries.exists { c =>
      val n = c.getFileName.toString
      n.startsWith("_metadata") || n.startsWith("_common_metadata")
    }
    val visible = entries.filterNot(c => hidden(c.getFileName.toString))
    if (summary || visible.exists(Files.isDirectory(_))) None
    else visible.sortBy(_.getFileName.toString).headOption.flatMap { f =>
      val conf = spark.sessionState.conf
      // the converter Spark's inference job builds (mergeSchemasInParallel)
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      val path = new org.apache.hadoop.fs.Path(f.toUri)
      try {
        val footer = ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path,
            spark.sessionState.newHadoopConf()),
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(org.apache.spark.sql.graft.PlanBridge.asNullable(
          ParquetFileFormat.readSchemaFromFooter(
            new org.apache.parquet.hadoop.Footer(path, footer), converter)))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** The full read schema of version dir `p` with declared partition
    * types substituted — what a reader (or the catalog's user-specified
    * schema) must pin so inference never rewrites partition types. None
    * when nothing needs pinning: an unpartitioned single-layout version
    * with no metadata-added or widened column (let the reader infer as
    * usual).
    */
  private[graft] def readSchemaFor(spark: SparkSession, root: String,
      p: String): Option[org.apache.spark.sql.types.StructType] =
    if (layoutLegs(p).exists(l => Fs.walkParquet(l).nonEmpty) ||
        partitionSchemaFor(root, p).isDefined || ColMap.added(p).nonEmpty ||
        ColMap.widened(p).nonEmpty) Some(snapshotSchema(spark, root, p))
    else None

  /** The physical read schema of version dir `p`: [[readSchemaFor]]'s
    * pin where there is one, else the memoized [[inferSchema]]. A
    * mixed-layout version's is leg 0's (the pre-evolution table order
    * [[scanVersion]]'s union preserves), extended by any column only
    * later legs / the top level carry (none in practice — evolution
    * never changes the column set).
    */
  private[graft] def snapshotSchema(spark: SparkSession, root: String,
      p: String): org.apache.spark.sql.types.StructType =
    if (!layoutLegs(p).exists(l => Fs.walkParquet(l).nonEmpty))
      legReadSchema(spark, root, p, p)
    else scanRoots(p).map(legReadSchema(spark, root, p, _)).reduce { (acc, s) =>
      s.foldLeft(acc)((a, f) =>
        if (a.fieldNames.exists(_.equalsIgnoreCase(f.name))) a else a.add(f))
    }

  /** Snapshot versions present under `root`, ascending — the time-travel
    * inventory. Every listed version directory holds complete, immutable
    * data (the stage→v<N> rename is atomic, so a directory either exists
    * in full or not at all); a crash between rename and pointer flip can
    * leave a version that was never live, which still reads fine.
    * Versions below the last compaction base are vacuumed — pin within
    * the retention window (see [[compactVersioned]]).
    */
  def listVersions(root: String): Seq[Long] =
    Fs.listDir(Paths.get(root)).flatMap { p =>
      val name = p.getFileName.toString
      if (name.startsWith("v") && name.length > 1 && name.drop(1).forall(_.isDigit))
        Some(name.drop(1).toLong)
      else None
    }.sorted

  // ---------------------------------------------------------------- tags

  /** Named snapshot tags (the Iceberg tag / Delta named-ref analog):
    * `<root>/_tags/<name>` holds the pinned version number. Tags are
    * metadata-only (a few bytes, atomic tmp→rename write), resolve in
    * `VERSION AS OF '<name>'` ([[graft.catalog.GraftCatalog]]), and PIN
    * their version against compaction's retention vacuum — an eval
    * snapshot or a release stays readable at any retention setting
    * until its tag is dropped. Tag names must not be all-digits (they
    * would shadow numeric version literals in `VERSION AS OF`).
    */
  private val TagsDir = "_tags"

  private def tagName(name: String): String = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    require(!name.forall(_.isDigit),
      s"tag name must not be all digits (shadows numeric time travel): '$name'")
    name
  }

  /** Create or move a tag to `version` (must be a retained version).
    * Atomic: readers see the old pin or the new one, never a torn file.
    * Runs under the commit lock so it serializes with compaction's
    * vacuum: either the tag lands before the vacuum reads the tag set
    * (version pinned) or the version was already evicted and the
    * existence check here fails loudly — a tag can never dangle.
    */
  def tagVersion(root: String, name: String, version: Long): Unit =
    withCommitLock(root) {
      require(listVersions(root).contains(version),
        s"tag '$name': version $version not present under $root " +
          s"(have ${listVersions(root).mkString(", ")})")
      val dir = Paths.get(root, TagsDir)
      Files.createDirectories(dir)
      val tmp = dir.resolve(s".${tagName(name)}.tmp${ProcessHandle.current().pid()}")
      Files.write(tmp, version.toString.getBytes("UTF-8"))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  /** Drop a tag; idempotent (a missing tag is not an error — the caller
    * wanted it gone and it is). Dropping releases the version back to
    * normal retention at the next compaction.
    */
  def dropTag(root: String, name: String): Unit =
    Files.deleteIfExists(Paths.get(root, TagsDir, tagName(name)))

  /** All tags under `root`: name → pinned version. */
  def listTags(root: String): Map[String, Long] = {
    val dir = Paths.get(root, TagsDir)
    if (!Files.isDirectory(dir)) Map.empty
    else Fs.listDir(dir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.startsWith(".")) None // in-flight tmp writes
      else (try new String(Files.readAllBytes(p), "UTF-8").trim.toLongOption
            catch { case _: java.io.IOException => None })
        .map(n -> _)
    }.toMap
  }

  /** Resolve a tag to its pinned version, if present. */
  def resolveTag(root: String, name: String): Option[Long] =
    listTags(root).get(name)

  /** The durable commit-instant marker inside every version dir
    * ([[graft.ops.LocalFsCommit.publishVersionDir]] writes it at the
    * commit rename). */
  val CommitTsFile = "_COMMIT_TS"

  /** A version's commit instant (millis): the durable `_COMMIT_TS`
    * marker when present, else the dir mtime (pre-marker versions, or a
    * crash between the commit rename and the marker write). EVERY
    * commit-time consumer — TIMESTAMP AS OF, `history`, time-based
    * retention — resolves through this one reader, so the guarantees
    * stay aligned even after a backup/copy/restore rewrites mtimes.
    */
  def commitInstantMs(dir: String): Long = {
    val marker = Paths.get(dir, CommitTsFile)
    if (Files.exists(marker))
      try new String(Files.readAllBytes(marker), "UTF-8").trim.toLong
      catch { case _: NumberFormatException =>
        Files.getLastModifiedTime(Paths.get(dir)).toMillis }
    else Files.getLastModifiedTime(Paths.get(dir)).toMillis
  }

  /** Table history (the DESCRIBE HISTORY analog): one row per retained
    * version with its commit instant ([[publishVersioned]] stamps the
    * version dir at the commit rename) and whether it is current.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(root)
    listVersions(root).map { v =>
      (v,
        new java.sql.Timestamp(commitInstantMs(versionPath(root, v))),
        opOf(versionPath(root, v)),
        cur.contains(v))
    }.toDF("version", "committed_at", "operation", "is_current")
  }

  /** Per-file inventory of the LIVE version — the `.files`
    * metadata-table analog: one row per data file with its relative
    * path, on-disk bytes, and footer row count
    * ([[Stats.fileInventory]] — footers only, no data pages). The
    * small-file / row-spread diagnostic `CALL system.compact` acts on.
    */
  def files(spark: SparkSession, root: String): DataFrame = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    Stats.fileInventory(spark, versionPath(root, cur))
  }

  /** One-row operational summary of the LIVE version — the DESCRIBE
    * DETAIL analog: file/byte footprint, retained-version count, and
    * which acceleration metadata this table carries (partition spec,
    * stats columns, bloom columns, ANN quantizer, change feed). All of
    * it is driver-side directory metadata — no data file is opened.
    */
  def detail(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val live = versionPath(root, cur)
    val files = Fs.walkParquet(Paths.get(live))
    // deletion-vector cardinality and the pending-tombstone count are
    // the two numbers that are data (small sidecar reads); everything
    // else stays directory metadata. Pending tombstones (B170) are THE
    // operational signal to schedule a compaction: every reader pays
    // the reconciliation anti-join until they fold.
    val nDeleted = Dv.cardinality(spark, live)
    val nTombstones =
      if (!EqDel.exists(live)) 0L else EqDel.pending(spark, live).count()
    // props fold ∪ retained receipts — the same union COPY INTO's
    // idempotence check trusts, so an ingestion whose receipt hasn't
    // been folded yet (writer crashed before the props update) still
    // counts; the props fold alone would under-report that window
    val nIngested = ingestedSources(spark, root).size
    Seq((root, "parquet", cur, listVersions(root).size.toLong,
        files.size.toLong, files.map(Files.size).sum,
        // hidden transforms surface in their human spelling (`day(ts)`),
        // identity columns as themselves
        TableProps.partitionCols(root)
          .map(c => Transforms.parse(c).fold(c)(_.spec)).mkString(","),
        // sidecars speak physical names; DESCRIBE DETAIL speaks logical
        Stats.sidecarCols(spark, live)
          .map(ColMap.toLogicalName(live, _)).mkString(","),
        Bloom.sidecarCols(spark, live)
          .map(ColMap.toLogicalName(live, _)).mkString(","),
        Files.isDirectory(Paths.get(live, AnnIndex.CentroidsSidecar)),
        Files.isDirectory(Paths.get(live, ChangesSidecar)),
        nDeleted, nTombstones, nIngested.toLong,
        // snapshot tags (B149) are retention pins an operator must SEE
        // before reasoning about vacuum behavior
        listTags(root).toSeq.sorted.map { case (n, v) => s"$n=v$v" }
          .mkString(",")))
      .toDF("location", "format", "version", "n_versions", "n_files",
        "size_bytes", "partition_cols", "stats_cols", "bloom_cols",
        "is_ann_index", "has_change_feed",
        "n_deleted_positions", "n_pending_tombstones", "n_ingested_files",
        "tags")
  }

  /** Time-travel read: the immutable contents of version `v`, unaffected
    * by any later publish — a reader that pins a version keeps a
    * consistent snapshot for its whole job (the versioned-layout
    * equivalent of a table format's `VERSION AS OF`).
    */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val p = versionPath(root, v)
    if (!Files.exists(Paths.get(p)))
      throw new IllegalStateException(
        s"version $v does not exist under $root (available: ${listVersions(root).mkString(", ")})" +
          " — it may have been vacuumed by compaction")
    snapshotRead(spark, root, p)
  }

  /** Name of the write-side change-feed sidecar inside a version dir
    * (leading underscore: invisible to plain parquet reads of the dir).
    */
  val ChangesSidecar = "_changes"

  /** Per-version sidecar holding rows an expectations gate rejected at
    * publish time (with their `_violations`). Underscore-prefixed, so
    * plain parquet reads of the version dir never see it.
    */
  val QuarantineSidecar = "_quarantine"

  /** Quarantined rows of `version`, if that publish carried an
    * expectations gate ([[publishGated]] / [[Merge.applyTo]] with rules);
    * None for ungated versions.
    */
  def readQuarantine(spark: SparkSession, root: String, version: Long): Option[DataFrame] = {
    val p = Paths.get(versionPath(root, version), QuarantineSidecar)
    if (Files.isDirectory(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** As [[publishVersioned]], gated by `rules`: rows violating any rule
    * are split into the version's `_quarantine` sidecar and only clean
    * rows become table data — committed in the SAME atomic rename, so no
    * crash can publish unclean data or lose the quarantine (the hazard
    * of running [[Expect.split]] and two separate writes). The annotated
    * frame is pinned once (`localCheckpoint`) so a non-deterministic
    * input cannot route a row to both sides or neither.
    */
  def publishGated(df: DataFrame, root: String, expected: Option[Long],
      rules: Seq[Expect.Rule], statsCols: Seq[String] = Nil,
      changeFeed: Option[DataFrame] = None): Long = {
    require(rules.nonEmpty, "publishGated needs at least one rule (use publishVersioned)")
    val (clean, quarantine) = Expect.splitPinned(df, rules)
    publishVersioned(clean, root, expected, statsCols, changeFeed, Some(quarantine))
  }

  /** Publish `df` as the next version. Returns the published version.
    *
    * Concurrency (optimistic): the data lands in a writer-private staging
    * dir first; the COMMIT — check the table is still at `expected`,
    * allocate the next free version number, rename staging → v<N>, flip
    * the pointer — runs under a JVM mutex + cross-process file lock. A
    * writer whose base version was superseded gets a
    * `ConcurrentModificationException` (recompute against the new current
    * and retry) instead of silently clobbering the winner. Version
    * numbers are allocated inside the lock, so no two writers ever share
    * a v<N>; a crash before the commit leaves only a hidden `.stage-*`
    * dir, and a crash between the two renames leaves an unreferenced
    * v<N> that later commits simply skip past.
    */
  def publishVersioned(df: DataFrame, root: String): Long =
    publishVersioned(df, root, currentVersion(root))

  /** As [[publishVersioned]], with an explicit expected base version
    * (None = expecting to create the table). Callers that READ the table
    * to derive `df` must pass the version they read (see
    * [[graft.ops.Merge.applyTo]]) — re-reading the pointer at commit time
    * would let a concurrent publish slip between the read and the check.
    *
    * `statsCols` (optional) collects per-file min/max footer statistics
    * for those columns into the version's `_stats` sidecar
    * ([[Stats.annotate]]) BEFORE the commit rename — data and skipping
    * metadata become visible in the same atomic commit, so
    * [[Stats.readCurrentWhere]] never sees a version whose sidecar is
    * missing or half-written.
    *
    * `bloomCols` (optional) builds the B123 point-lookup `_bloom`
    * sidecar in staging, so data and bloom index become visible in the
    * same atomic commit; linked commits (appends, COW DML) then inherit
    * and extend it at O(delta) without being asked.
    *
    * `changeFeed` (optional) persists the writer's row-level change
    * classification for THIS commit (vs the version it replaces) into a
    * `_changes` sidecar, also inside the atomic commit — the write-side
    * CDF that lets [[changeFeed]] readers consume O(changed rows) instead
    * of re-diffing two snapshots. The writer is responsible for the
    * feed's truth (see [[Merge.upsertChanges]], derived from the merge's
    * own join); ScaleSpec pins it against [[changesBetween]].
    */
  def publishVersioned(df: DataFrame, root: String, expected: Option[Long],
      statsCols: Seq[String] = Nil, changeFeed: Option[DataFrame] = None,
      quarantine: Option[DataFrame] = None,
      bloomCols: Seq[String] = Nil,
      sidecars: Seq[(String, DataFrame)] = Nil,
      opTag: String = "publish"): Long = {
    Files.createDirectories(Paths.get(root))
    val stage = Paths.get(s"$root/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    // Any failure before the stage→v<N> rename (a failed write, a lost
    // CME race, a commit-lock error) must not leak the staging dir; the
    // rename itself removes `stage`, so the cleanup below is a no-op on
    // the success path.
    try {
      // a table created PARTITIONED BY carries its partition spec in the
      // _PROPS sidecar — EVERY publish (SQL INSERT, DML rewrite, merge,
      // ALTER, compaction) lays the version out Hive-partitioned without
      // call-site cooperation, so partition pruning survives any writer
      val pcols = TableProps.partitionCols(root)
      // hidden partitioning (B161): derive (or RE-derive) the transform
      // columns from their sources so the directory value can never go
      // stale; refuse data columns squatting on the reserved namespace
      // (readers hide everything shaped like a derived column)
      Transforms.requireNoReservedData(df.columns.toSeq, pcols,
        s"publish to $root")
      val toStage = distributeForWrite(Transforms.derive(df, pcols), root, pcols)
      if (pcols.isEmpty) toStage.write.mode("overwrite").parquet(stage.toString)
      else {
        toStage.write.mode("overwrite").partitionBy(pcols: _*).parquet(stage.toString)
        // an empty result under partitionBy writes no footer-bearing
        // file (no partition dirs exist), which would lose the schema —
        // land an empty FLAT file instead (partition cols in the file,
        // exactly like an unpartitioned empty publish); readers see the
        // same schema either way
        if (!hasParquetFile(stage)) {
          val spark = df.sparkSession
          spark.createDataFrame(
              spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
              df.schema)
            .write.mode("overwrite").parquet(stage.toString)
        }
      }
      // explicit statsCols win; otherwise the table's DECLARED
      // auto-stats columns ('graft.stats.columns') annotate every
      // snapshot publish too — CTAS/OVERWRITE through the SQL door
      // never leaves a declared-skippable table un-annotated. Declared
      // CLUSTER columns ('graft.cluster.columns', round-14) always join
      // the set: clustering exists to make min/max pruning effective,
      // so a clustered table's stats must cover its clustering key.
      // declared NDV columns ('graft.ndv.columns', B180) join the stats
      // set AND mark themselves for the per-file HLL sketch
      val effNdv = TableProps.ndvColumns(root)
        .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
      // declared histogram columns (round-16) join the stats set and
      // mark themselves for the per-file equi-height quantile pass
      val effHist = TableProps.histogramColumns(root)
        .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
      val effStats =
        ((if (statsCols.nonEmpty) statsCols
          else TableProps.statsColumns(root)) ++ TableProps.clusterColumns(root)
          ++ effNdv ++ effHist)
          .distinct.filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
      if (effStats.nonEmpty)
        Stats.annotate(df.sparkSession, stage.toString, effStats, effNdv,
          histCols = effHist)
      // B123: build the point-lookup sidecar in staging so data and
      // bloom index land in ONE atomic commit (the post-commit
      // Bloom.annotate path stays available for existing tables).
      // Declared auto-bloom columns ('graft.bloom.columns', round-14)
      // annotate every snapshot publish with zero call-site cooperation
      // — a compaction or CTAS can no longer silently demote a declared
      // point-skippable table to full scans.
      val effBloom =
        if (bloomCols.nonEmpty) bloomCols
        else TableProps.bloomColumns(root)
          .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
      if (effBloom.nonEmpty) Bloom.annotate(df.sparkSession, stage.toString, effBloom)
      changeFeed.foreach { ch =>
        require(ch.columns.contains("_change_type"),
          "changeFeed must carry a _change_type column")
        ch.write.mode("overwrite").parquet(s"$stage/$ChangesSidecar")
        // the feed is only meaningful relative to the version it was
        // computed against; readers validate the base CHAIN (an orphan
        // version left by a crash between rename and pointer flip also
        // carries a feed, but its base equals its successor's — walking
        // the chain from the target version skips it)
        Files.write(Paths.get(s"$stage/$ChangesSidecar", "_BASE"),
          expected.getOrElse(-1L).toString.getBytes("UTF-8"))
      }
      // quarantined rows ride the same staged dir: the rename below is
      // the single commit point for data + stats + feed + quarantine
      quarantine.foreach(_.write.mode("overwrite")
        .parquet(s"$stage/$QuarantineSidecar"))
      // caller-supplied REQUIRED sidecars (the ANN quantizer) ride the
      // same staged commit: a table that needs its sidecar to be usable
      // must never have a window where data committed without it
      sidecars.foreach { case (name, sdf) =>
        require(name.startsWith("_"),
          s"sidecar name must be _-prefixed (invisible to plain reads): $name")
        sdf.coalesce(1).write.mode("overwrite").parquet(s"$stage/$name")
      }
      stampOp(stage, opTag)
      commitStaged(root, stage, expected)
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }

  /** Optimized write ([[TableProps.DistributeKey]]): cluster the staged
    * frame by its partition columns so each partition value lands from
    * ONE task — one file per value per commit instead of
    * (tasks × values). No-op for unpartitioned tables or tables that
    * did not opt in. Runs AFTER transform derivation so hidden specs
    * distribute by the derived directory value.
    */
  private def distributeForWrite(df: DataFrame, root: String,
      pcols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // write-time clustering (round-14, 'graft.cluster.write'): the
    // staged delta range-clusters by (partition cols ++ the declared
    // clustering key) so every commit lands range-skippable files
    // without waiting for compaction. No explicit partition count —
    // AQE coalesces a small delta's range shuffle into few files.
    val ckeys =
      if (!TableProps.clusterWrites(root)) Nil
      else TableProps.clusterColumns(root)
        .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
    if (ckeys.nonEmpty) {
      // multi-column keys Z-order at write time too (round-14 upgrade:
      // before this, only compaction's re-lay was multi-dimensional and
      // commits between compactions were prunable on the leading column
      // only). clusterFrame's grid normalization costs one min/max agg
      // over the DELTA — the opt-in property's price; nFiles = None
      // leaves the partition count to AQE exactly as before.
      clusterFrame(df, ckeys, pcols, None)
    }
    else if (pcols.isEmpty || !TableProps.distributeWrites(root)) df
    else df.repartition(pcols.map(c => col(s"`$c`")).toIndexedSeq: _*)
  }

  /** Label the jobs `body` submits (guide §1.5): commit funnels run
    * several actions per statement, and an unlabeled job listing is
    * unreadable in the UI and in per-job profiling. Thread-local, so
    * concurrent writers label independently; restores the caller's own
    * description (a labeled action inside a labeled query keeps the
    * inner name).
    */
  private[graft] def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft: $desc")
    try body finally sc.setJobDescription(prev)
  }

  /** Per-version operation marker (`_OP`) — what DESCRIBE HISTORY's
    * `operation` column reads; written into the stage so it rides the
    * atomic commit. Pre-marker versions surface as "write".
    */
  private[graft] val OpFile = "_OP"
  private[graft] def stampOp(stage: Path, op: String): Unit = {
    Files.createDirectories(stage)
    Files.write(stage.resolve(OpFile), op.getBytes("UTF-8"))
    ()
  }
  private[graft] def opOf(dir: String): String = {
    val f = Paths.get(dir, OpFile)
    if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8").trim
    else "write"
  }

  /** The commit half every versioned writer shares: check the table is
    * still at `expected`, allocate the next free version, rename
    * stage → v<N>, stamp the commit instant, flip the pointer, and — when
    * the table has a streaming feed directory — reconcile it. All under
    * the commit lock.
    */
  private[ops] def commitStaged(root: String, stage: Path, expected: Option[Long]): Long =
    withCommitLock(root) {
      val cur = currentVersion(root)
      if (cur != expected) {
        throw new java.util.ConcurrentModificationException(
          s"$root moved to ${cur.fold("absent")("v" + _)} while this writer " +
            s"was basing on ${expected.fold("absent")("v" + _)}; " +
            "recompute against the new current and retry")
      }
      // allocate past any orphan left by a crash between rename and flip
      var next = cur.map(_ + 1).getOrElse(0L)
      while (commitProtocol.versionExists(root, next)) next += 1
      // record the base so chain walks can traverse EVERY commit, not
      // just the feed-carrying ones
      Files.write(stage.resolve(VersionBaseFile),
        expected.getOrElse(-1L).toString.getBytes("UTF-8"))
      // version-local partition spec: every commit records the layout its
      // files actually have. A freshly-staged commit inherits the table's
      // current spec; a stage that ALREADY carries a `_PSPEC` (RESTORE's
      // hardlink carry of an old version, a cross-spec clone) describes
      // data laid out under THAT spec — the table-level spec then syncs
      // BACK to it here, inside the lock, so the next writer lays its
      // files compatibly and a mixed-layout version can never be
      // committed. Readers prefer the version-local spec (readSchemaFor),
      // which keeps time travel across a partition evolution correct.
      val pspec = stage.resolve(PartitionSpecFile)
      if (Files.exists(pspec)) {
        val ddl = new String(Files.readAllBytes(pspec), "UTF-8").trim
        TableProps.updateLocked(root)(m =>
          if (ddl.isEmpty) m - TableProps.PartitionKey
          else m + (TableProps.PartitionKey -> ddl))
      } else {
        Files.write(pspec,
          TableProps.load(root).getOrElse(TableProps.PartitionKey, "")
            .getBytes("UTF-8"))
      }
      commitProtocol.publishVersionDir(stage, Paths.get(versionPath(root, next)))
      commitProtocol.flipPointer(root, next)
      // past this point the commit IS durable and visible: a reconcile
      // failure (ENOSPC on a link, a chmod'd feed dir) must not make the
      // caller believe the commit failed — a retried "failed" INSERT
      // would double-insert. Links self-heal on the next commit's pass.
      try reconcileFeedLocked(root)
      catch { case e: Exception =>
        System.err.println(s"[graft] feed reconcile after commit v$next of " +
          s"$root failed (links self-heal on the next commit): $e")
      }
      next
    }

  /** The table's commit lock, for callers whose mutation must not
    * interleave with a publish — destructive DDL (drop/rename) takes it
    * so a concurrent writer can never observe a half-deleted table or
    * resurrect one mid-commit.
    */
  def withTableLock[T](root: String)(body: => T): T = withCommitLock(root)(body)

  private[ops] def withCommitLock[T](root: String)(body: => T): T =
    commitProtocol.withCommitLock(root)(body)

  // ---------- O(delta) appends and linked publishes ----------
  //
  // A snapshot publish rewrites the whole table per commit — correct,
  // but O(table) even when the commit adds one row. Appends instead
  // CARRY the live version's immutable data files into the new version
  // by hardlink (same inode, no data movement) and write only the new
  // rows; on an object store / table format this carry-over step is the
  // manifest re-reference Delta and Iceberg logs perform, and hardlinks
  // are its local-filesystem spelling. Readers are unchanged: every
  // version directory still reads as a complete snapshot, time travel
  // and vacuum keep working (the filesystem refcounts shared inodes, so
  // deleting an old version dir never invalidates a newer one).


  /** Marker file a streaming writer stamps into versions it commits
    * ([[graft.ops.TableStream.streamTo]] restart dedupe). Content:
    * `<writer-tag>:<batch-id>`.
    */
  private[graft] val BatchIdFile = "_BATCHID"

  /** Version-level base marker every commit writes ([[commitStaged]]):
    * the version this commit was based on (-1 for table creation). Lets
    * chain walks (feed reconcile) traverse commits that carry no
    * `_changes` sidecar — a compaction or plain publish must not strand
    * the versions behind it — while still never visiting an orphan
    * (a crash-abandoned rename that was never live is not on any
    * live version's base chain).
    */
  private[graft] val VersionBaseFile = "_VBASE"

  /** Sidecar-file count past which an append re-footers the whole
    * staged table into ONE fresh sidecar instead of carrying the pile
    * forward plus one — the log-checkpoint analog (bounds sidecar reads
    * and carry-over work; amortized O(1) footer reads per commit).
    */
  private[graft] val StatsCheckpointEvery = 32

  /** Publish `df` as the next version by APPEND: new rows are written,
    * the `expected` live version's data files are carried over by
    * hardlink, and the commit runs through the same OCC protocol as
    * [[publishVersioned]]. O(appended rows), not O(table).
    *
    * Contract: `df`'s schema must match the live version's (same names
    * and compatible types, any column order — columns are realigned to
    * the table's order before the write). Appends are not schema
    * evolution; evolving writers go through [[Merge.applyTo]]. With
    * `expected = None` the append creates the table (nothing to carry).
    *
    * `statsCols`: footer stats are computed for the NEW files only and
    * the prior version's `_stats` sidecar rows are carried alongside —
    * the skipping metadata stays O(delta) per commit too. When empty,
    * the live sidecar's columns are INHERITED (an append never demotes a
    * skippable table to full scans). If the prior version has no sidecar
    * its files simply stay unpruned (conservative keep), never a wrong
    * answer.
    *
    * `emitFeed`: persist the appended rows as this commit's `_changes`
    * sidecar (all `insert`, the append CDF). The feed rows are READ BACK
    * from the staged data files rather than recomputed from `df`, so a
    * non-deterministic input (sampling, unstable limits) cannot make the
    * committed feed disagree with the committed data.
    *
    * `batchTag`: provenance marker for streaming writers (see
    * [[BatchIdFile]]). A tagged commit is a streaming micro-batch: when
    * it stages no row (and no tombstone) on an existing table it
    * publishes nothing and returns the base version — the streaming
    * doors still advance their high-water mark. Untagged writers
    * publish empty commits.
    *
    * `rebase` (default true): a lost commit race auto-rebases — the
    * append re-stages against the moved table and commits, O(delta),
    * when [[rebaseSafe]] proves the interleaved commits commute (blind
    * appends always do; the gate refuses on any contract change). A
    * caller whose PRE-STAGE reads make the append non-blind (COPY
    * INTO's receipt dedupe) passes false and keeps the honest CME.
    */
  def appendVersioned(df: DataFrame, root: String, expected: Option[Long],
      statsCols: Seq[String] = Nil, emitFeed: Boolean = false,
      batchTag: Option[String] = None,
      commitSidecars: Seq[(String, DataFrame)] = Nil,
      opTag: String = "append",
      rebase: Boolean = true): Long =
    stageLinkedPublish(alignToLive(df, root, expected), root, expected,
      statsCols, emitFeed, batchTag,
      carry = _ => true, commitSidecars = commitSidecars, opTag = opTag,
      rebase =
        if (rebase) AppendRebase(exp => alignToLive(df, root, exp))
        else NoRebase)

  /** Align an append frame to the live schema: same column set and
    * order, or fail loudly — shared by [[appendVersioned]] and the
    * linked writes of a multi-table transaction ([[Txn.publishAll]]),
    * so a TxnWrite whose column order drifts cannot commit a
    * mixed-schema version that single-table appends would have refused.
    */
  private[graft] def alignToLive(df: DataFrame, root: String,
      expected: Option[Long]): DataFrame = expected match {
    case None => df
    // an expected version whose dir is gone (never existed, or
    // vacuumed) cannot be aligned against — skip straight to the
    // commit check, which reports it as the CME it is
    case Some(v) if !Files.exists(Paths.get(versionPath(root, v))) => df
    case Some(v) =>
      val p = versionPath(root, v)
      val live =
        if (hasLayoutLegs(p)) snapshotRead(df.sparkSession, root, p).schema
        else liveSchema(df.sparkSession, root, p)
      val missing = live.fieldNames.filterNot(df.columns.contains)
      val extra = df.columns.filterNot(live.fieldNames.contains)
      require(missing.isEmpty && extra.isEmpty,
        s"append schema mismatch vs v$v (missing: ${missing.mkString(", ")}; " +
          s"extra: ${extra.mkString(", ")}) — appends are not schema " +
          "evolution, use Merge.applyTo")
      // TYPES must match too: a type-drifted file committed next to
      // the carried files is corruption readers discover later, far
      // from the cause (simpleString comparison: structural type,
      // nullability ignored)
      val retyped = live.filter(f =>
        df.schema(f.name).dataType.simpleString != f.dataType.simpleString)
      require(retyped.isEmpty,
        s"append type mismatch vs v$v: " +
          retyped.map(f => s"${f.name} is ${f.dataType.simpleString} but the " +
            s"append carries ${df.schema(f.name).dataType.simpleString}")
            .mkString("; ") + " — cast before appending")
      df.select(live.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
  }

  /** The logical schema [[snapshotRead]] gives single-layout version dir `p`,
    * from metadata alone: the pinned read schema in a file-source
    * relation's column order (data columns, then partition columns),
    * derived `_tp_*` columns dropped, [[ColMap]]'s logical names
    * applied. The eq-delete and DV subtractions keep the data columns
    * unchanged, so they are not built — building them reads the
    * sidecars.
    */
  private def liveSchema(spark: SparkSession, root: String,
      p: String): org.apache.spark.sql.types.StructType = {
    val pinned = snapshotSchema(spark, root, p)
    val parts = partitionSchemaFor(root, p).toSeq.flatMap(_.fieldNames)
    val (partFields, dataFields) =
      pinned.fields.toSeq.partition(f => parts.exists(_.equalsIgnoreCase(f.name)))
    val visible = (dataFields ++ partFields)
      .filterNot(f => Transforms.parse(f.name).isDefined)
    ColMap.toLogicalSchema(org.apache.spark.sql.types.StructType(visible), p)
  }

  /** Copy-on-write publish (file-granular DML): `rewritten` replaces the
    * rows of the `touchedRel` data files (version-dir-relative paths)
    * while every OTHER live file is carried into the new version by
    * hardlink — the Delta-style rewrite. Commit cost scales with the
    * files the predicate touches, not with the table: untouched files
    * move zero bytes, their stats sidecar rows ride along (rows keyed by
    * replaced files go stale and are ignored by pruning — the periodic
    * sidecar checkpoint sweeps them), and fresh footer stats cover the
    * rewritten files. `rewritten` must already be projected to the
    * table's schema in table column order.
    */
  private[graft] def cowPublish(spark: SparkSession, root: String, expected: Long,
      touchedRel: Set[String], rewritten: DataFrame,
      checkEmpty: Boolean = true,
      changeFeed: Option[DataFrame] = None): Long = {
    // a COW rewrite reads touched files RAW — under a deletion vector
    // that would resurrect deleted rows into the rewritten files.
    // Refuse with the purge hint (the Delta phasing: DV tables gate
    // row-rewriting DML until the vector is compacted away).
    Dv.requireNone(versionPath(root, expected), "copy-on-write DML")
    // same hazard under pending equality deletes: a raw rewrite would
    // resurrect tombstoned rows into fresh-seq files — compact first
    EqDel.requireNone(versionPath(root, expected), "copy-on-write DML")
    // same class of hazard for a column-mapped version: the rewrite's
    // new files would carry LOGICAL footer names next to carried
    // PHYSICAL-named files — a mixed-schema version no reader can
    // serve. DML routes merge-on-read on mapped tables; this is the
    // backstop for direct callers.
    require(!ColMap.exists(versionPath(root, expected)),
      "copy-on-write DML cannot run on a column-mapped version " +
        s"(${versionPath(root, expected)}/${ColMap.MarkerFile}): DML " +
        "routes merge-on-read automatically, or compact the table to " +
        "materialize the renames first")
    // same backstop for mixed-layout versions: the caller's pruned
    // explicit-file scan cannot serve files whose partition directories
    // disagree — DML routes merge-on-read, compaction materializes
    require(!hasLayoutLegs(versionPath(root, expected)),
      "copy-on-write DML cannot run on a mixed-layout version " +
        s"(${versionPath(root, expected)} has _layout legs): DML routes " +
        "merge-on-read automatically, or compact the table to " +
        "materialize the partition evolution first")
    // a no-op statement (predicate matched nothing) still commits a
    // version — but writing its empty frame would land a zero-row file
    // alongside every carried one; skip the write (the empty check is a
    // trivial job here, the plan scans zero touched files). Callers
    // whose `rewritten` is an expensive plan over an empty touched set
    // (insert-only MERGE) pass checkEmpty = false — the probe would
    // execute the plan twice.
    val skipWrite = checkEmpty && touchedRel.isEmpty && rewritten.isEmpty
    stageLinkedPublish(rewritten, root, Some(expected), Nil,
      emitFeed = false, batchTag = None,
      carry = rel => !touchedRel.contains(rel), skipDataWrite = skipWrite,
      changeFeedDf = changeFeed, opTag = "cow-dml",
      // round-13: a lost race re-stages under file-granular
      // disjointness instead of aborting (see CowRebase) — COW-vs-
      // append and disjoint COW-vs-COW both commit; overlap refuses
      rebase = CowRebase(touchedRel))
  }

  /** The shared linked-publish core: write `df` as the staged delta,
    * carry the live files `carry` admits (by version-dir-relative path),
    * maintain the skipping sidecar, optionally emit the insert feed and
    * the streaming batch stamp, and commit through the OCC protocol.
    *
    * With a non-trivial `rebase` policy, a lost commit race re-stages
    * against the table's new live version and retries instead of
    * surfacing the CME — but ONLY when [[rebaseSafe]] can prove the
    * interleaved commits commute with this one (see the auto-rebase
    * block above). The re-stage is O(delta) + hardlinks, the same cost
    * as the first attempt; `MaxRebaseAttempts` bounds the spin.
    */
  private[graft] def stageLinkedPublish(aligned: DataFrame, root: String,
      expected: Option[Long], statsCols: Seq[String], emitFeed: Boolean,
      batchTag: Option[String], carry: String => Boolean,
      skipDataWrite: Boolean = false,
      changeFeedDf: Option[DataFrame] = None,
      dvDelta: Option[DataFrame] = None,
      commitSidecars: Seq[(String, DataFrame)] = Nil,
      opTag: String = "append",
      replaceSidecars: Seq[(String, DataFrame)] = Nil,
      rebase: RebasePolicy = NoRebase,
      eqDelete: Option[EqDel.Tombstones] = None): Long = {
    def stageFor(frame: DataFrame, exp: Option[Long]): Option[Path] =
      stageLinkedNoCommit(frame, root, exp, statsCols,
        emitFeed, batchTag, carry, skipDataWrite, changeFeedDf, dvDelta,
        commitSidecars, opTag, replaceSidecars, eqDelete)
    val propsAtStage = TableProps.load(root)
    var exp = expected
    var staged = stageFor(aligned, exp)
    var attempts = 0
    while (staged.isDefined) {
      val stage = staged.get
      try return commitStaged(root, stage, exp)
      catch {
        case cme: java.util.ConcurrentModificationException =>
          Fs.deleteRecursively(stage)
          attempts += 1
          val newCur = currentVersion(root)
          if (attempts >= MaxRebaseAttempts ||
              !rebaseSafe(aligned.sparkSession, root, exp, newCur, rebase,
                propsAtStage))
            throw cme
          rebaseRetries.incrementAndGet()
          exp = newCur
          // a failed re-stage (a drift the gate could not see — the
          // realign guard refusing, a vacuumed base) reports as the CME
          // it is; the staging error rides along as suppressed detail
          staged =
            try {
              val frame = rebase match {
                case AppendRebase(realign) => realign(exp)
                case _ => aligned
              }
              stageFor(frame, exp)
            } catch {
              case e: Throwable => cme.addSuppressed(e); throw cme
            }
        case e: Throwable => Fs.deleteRecursively(stage); throw e
      }
    }
    // an empty streaming micro-batch staged nothing: the table stays at
    // the base it staged against
    exp.get
  }

  /** The staging half of [[stageLinkedPublish]], WITHOUT the commit —
    * for callers that coordinate the commit themselves ([[Txn]]'s
    * multi-table linked appends). Returns the fully-staged dir (data +
    * carried files + sidecars); the caller owns committing it through
    * the protocol or deleting it on failure. None (stage deleted) for a
    * streaming micro-batch — a `batchTag` — on an existing table that
    * staged no row and no tombstone: counted from the observed
    * tombstone keys, else from the staged footers (an empty write still
    * lands task 0's zero-row file).
    */
  private[graft] def stageLinkedNoCommit(aligned: DataFrame, root: String,
      expected: Option[Long], statsCols: Seq[String], emitFeed: Boolean,
      batchTag: Option[String], carry: String => Boolean,
      skipDataWrite: Boolean = false,
      changeFeedDf: Option[DataFrame] = None,
      dvDelta: Option[DataFrame] = None,
      commitSidecars: Seq[(String, DataFrame)] = Nil,
      opTag: String = "append",
      replaceSidecars: Seq[(String, DataFrame)] = Nil,
      eqDelete: Option[EqDel.Tombstones] = None): Option[Path] = {
    require(!(emitFeed && changeFeedDf.isDefined),
      "emitFeed derives the insert feed from the staged files; a caller " +
        "supplying its own feed must not also request it")
    require(!(emitFeed && dvDelta.isDefined),
      "a deletion-vector commit stages no new data files to feed from")
    require(!(emitFeed && eqDelete.isDefined),
      "an equality-delete upsert's delta is not insert-only; it cannot " +
        "emit the insert feed")
    Files.createDirectories(Paths.get(root))
    val spark = aligned.sparkSession
    val stage = Paths.get(s"$root/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try {
      val pcols = TableProps.partitionCols(root)
      // metadata-only renames ([[ColMap]]): new rows arrive under
      // LOGICAL names but must land in the carried files' PHYSICAL
      // footer schema; the marker travels with the commit so readers
      // keep translating. Caller-named stats columns (logical) follow
      // the same translation; inherited sidecar columns are already
      // physical. Written FIRST so the emitFeed readback below sees it.
      val baseMapDir = expected.map(v => versionPath(root, v)).filter(ColMap.exists)
      val toWrite0 = baseMapDir.fold(aligned)(d => ColMap.toPhysical(aligned, d))
      // hidden partitioning (B161): re-derive the transform columns on
      // every linked commit too (a MOR UPDATE moving the source value
      // must move the row's directory; an appended frame never carries
      // them — the read funnel hides them)
      Transforms.requireNoReservedData(toWrite0.columns.toSeq, pcols,
        s"linked publish to $root")
      val toWrite =
        distributeForWrite(Transforms.derive(toWrite0, pcols), root, pcols)
      if (skipDataWrite) Files.createDirectories(stage)
      else labeled(spark, s"$opTag data stage") {
        if (pcols.isEmpty) toWrite.write.mode("overwrite").parquet(stage.toString)
        else toWrite.write.mode("overwrite").partitionBy(pcols: _*).parquet(stage.toString)
      }
      // equality deletes (round-14, B170): this commit's tombstones land
      // as a fresh `_eqdel` part with seq = base + 1 (strictly above
      // every committed tombstone of the lineage — OCC kills any stage
      // whose base moved), keyed by PHYSICAL names like the data
      // (round-16): the funnel subtracts in physical space, and upserts
      // before and after a key RENAME must write parts with the same
      // column names. Null-keyed tombstone rows are inert (the reader's
      // anti-join never matches null keys) and pass through. Prior
      // parts carry by hardlink below.
      val eqSeq = expected.getOrElse(-1L) + 1
      val eqDir = stage.resolve(EqDel.Sidecar)
      eqDelete.foreach(_.stage(eqDir, eqSeq,
        c => baseMapDir.fold(c)(d => ColMap.toPhysicalName(d, c))))
      // every upserted row's key is a tombstone, so a commit with
      // tombstones is empty iff it has none
      if (batchTag.isDefined && expected.isDefined && !skipDataWrite &&
          eqDelete.fold(Fs.parquetRows(Fs.walkParquet(stage)))(_.count(eqDir)) == 0) {
        Fs.deleteRecursively(stage)
        return None
      }
      baseMapDir.foreach(d => ColMap.carry(Paths.get(d), stage))
      // an append must not silently demote the table from skippable to
      // full-scan (the same guarantee compaction gives): when the caller
      // names no stats columns, inherit the live sidecar's UNION the
      // table's DECLARED auto-stats columns ('graft.stats.columns',
      // round-13) — so a SQL INSERT, DML commit, or streaming batch
      // keeps the skipping tier intact with zero call-site cooperation,
      // the Delta/Iceberg collect-stats-inside-every-commit behavior
      val effNdv = TableProps.ndvColumns(root).map(c =>
        baseMapDir.fold(c)(d => ColMap.toPhysicalName(d, c)))
      val effHist = TableProps.histogramColumns(root).map(c =>
        baseMapDir.fold(c)(d => ColMap.toPhysicalName(d, c)))
      val declaredStats = (TableProps.statsColumns(root) ++
          TableProps.clusterColumns(root) ++ effNdv ++ effHist).distinct.map(c =>
        baseMapDir.fold(c)(d => ColMap.toPhysicalName(d, c)))
      val effStats =
        if (statsCols.nonEmpty)
          (baseMapDir.fold(statsCols)(d =>
            statsCols.map(ColMap.toPhysicalName(d, _))) ++ effNdv ++ effHist)
            .distinct
        else (expected.toSeq.flatMap(v =>
          Stats.sidecarCols(spark, versionPath(root, v))) ++ declaredStats)
          .distinct
      // each append adds one sidecar file (the delta's); past the
      // checkpoint threshold, re-footer the WHOLE staged table into one
      // fresh sidecar instead of carrying the pile forward — the
      // log-checkpoint analog, amortized O(1) per commit
      val prevStatsFiles = expected.map(v =>
          Paths.get(versionPath(root, v), Stats.Sidecar))
        .filter(Files.isDirectory(_))
        .map(d => Fs.listDir(d).filter(_.getFileName.toString.endsWith(".parquet")))
        .getOrElse(Nil)
      val checkpointStats = effStats.nonEmpty &&
        prevStatsFiles.size >= StatsCheckpointEvery
      val hasNew = hasParquetFile(stage)
      // bloom sidecar inheritance (B123): filters describe IMMUTABLE
      // files by relative key, so a linked commit keeps the index at
      // O(delta) — build filters for only the staged delta here (the
      // stage holds nothing else yet), carry the prior sidecar files
      // verbatim below; rows keyed by files the carry filter drops (COW
      // rewrites) go stale and are ignored by the probe's file walk.
      // DECLARED auto-bloom columns ('graft.bloom.columns', round-14)
      // union in: a declaration made after data exists lights up on the
      // very next commit (delta files only — compaction retrofits the
      // rest), and an empty inherited sidecar can't shed the property.
      val declaredBloom = TableProps.bloomColumns(root)
        .filter(c => aligned.columns.exists(_.equalsIgnoreCase(c)))
        .map(c => baseMapDir.fold(c)(d => ColMap.toPhysicalName(d, c)))
      val bloomInherit = (expected.toSeq.flatMap(v =>
        Bloom.sidecarCols(spark, versionPath(root, v))) ++ declaredBloom).distinct
      if (bloomInherit.nonEmpty && hasNew)
        Bloom.annotate(spark, stage.toString, bloomInherit)
      // whenever the lineage is under eq-delete maintenance, EVERY newly
      // staged data file is seq-stamped into `_eqseq`, so pending
      // tombstones can be scoped to strictly-older files (a plain
      // append's rows must never be killed by an earlier upsert's
      // tombstone)
      val underEqDel = eqDelete.isDefined || expected.exists(v =>
        EqDel.maintained(versionPath(root, v)))
      if (underEqDel && hasNew) {
        // driver-side single-part write (round-18): the stamp table is
        // O(files-per-commit) rows of metadata the driver just walked —
        // the Spark job that used to write it was pure scheduling
        // overhead on every maintained-table commit (one of the
        // per-microbatch jobs the streaming upsert pays)
        Fs.writePart(spark, stage.resolve(EqDel.SeqSidecar), EqDel.SeqSchema,
          Fs.walkParquet(stage).iterator.map(p =>
            org.apache.spark.sql.Row(stage.relativize(p).toString, eqSeq)))
      }
      if (emitFeed) {
        import org.apache.spark.sql.functions.lit
        // read back the staged delta (file listing happens here, before
        // any carry-over or the _changes write below lands in the dir)
        val back =
          if (hasNew) snapshotRead(spark, root, stage.toString)
          else aligned.limit(0)
        labeled(spark, "insert feed readback") {
          back.withColumn("_change_type", lit("insert"))
            .write.mode("overwrite").parquet(s"$stage/$ChangesSidecar")
        }
        Files.write(Paths.get(s"$stage/$ChangesSidecar", "_BASE"),
          expected.getOrElse(-1L).toString.getBytes("UTF-8"))
      }
      // a caller-computed row-level feed (COW DML) rides the same staged
      // commit as data + stats — the CDF contract every writer shares
      changeFeedDf.foreach { ch =>
        require(ch.columns.contains("_change_type"),
          "changeFeed must carry a _change_type column")
        ch.write.mode("overwrite").parquet(s"$stage/$ChangesSidecar")
        Files.write(Paths.get(s"$stage/$ChangesSidecar", "_BASE"),
          expected.getOrElse(-1L).toString.getBytes("UTF-8"))
      }
      batchTag.foreach(t =>
        Files.write(stage.resolve(BatchIdFile), t.getBytes("UTF-8")))
      // B135: a MOR commit stages ONLY its own per-file bitmap delta as
      // a new sidecar part; the prior vector parts are carried by
      // hardlink below and OR-merged at read time — commit bytes are
      // O(this commit's matched rows), never the cumulative vector
      dvDelta.foreach(_.coalesce(1).write.mode("overwrite")
        .parquet(s"$stage/${Dv.Sidecar}"))
      // commit-scoped sidecars (B137's _copyin ingestion receipt):
      // describe THIS commit, ride its atomic rename, and are NOT
      // carried forward by later linked commits
      commitSidecars.foreach { case (name, sdf) =>
        require(name.startsWith("_"),
          s"sidecar name must be _-prefixed (invisible to plain reads): $name")
        sdf.coalesce(1).write.mode("overwrite").parquet(s"$stage/$name")
      }
      // carry-over: link the live version's data files (and its skipping
      // sidecar) into the stage, preserving dir-relative paths so the
      // sidecar's file keys stay valid. The source version is immutable
      // and — being `expected` = current — cannot be vacuumed before our
      // commit check passes, so linking outside the lock is safe: if the
      // table moves meanwhile the commit throws CME and the stage dies.
      expected.foreach { v =>
        val live = Paths.get(versionPath(root, v))
        Fs.walkParquet(live).foreach { f =>
          val rel = live.relativize(f)
          if (carry(rel.toString)) {
            val dst = stage.resolve(rel)
            Files.createDirectories(dst.getParent)
            if (Files.exists(dst))
              throw new IllegalStateException(
                s"append carry-over collision on $rel — " +
                  "staged delta reused a committed file name")
            linkOrCopy(f, dst)
          }
        }
        // mixed-layout versions: each carried leg needs its spec stamp
        // or the new version can't read the leg under its own layout
        carryLayoutStamps(live, stage)
        // carry the prior sidecar files under their ORIGINAL names (UUID
        // part-file names never collide, and a carried-of-carried file
        // keeps a stable name — names must not compound across appends
        // or they eventually exceed NAME_MAX)
        if (!checkpointStats && Files.isDirectory(live.resolve(Stats.Sidecar))) {
          val dstStats = stage.resolve(Stats.Sidecar)
          Files.createDirectories(dstStats)
          Fs.listDir(live.resolve(Stats.Sidecar))
            .filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
              val dst = dstStats.resolve(f.getFileName)
              if (Files.exists(dst))
                throw new IllegalStateException(
                  s"append sidecar carry-over collision on ${f.getFileName}")
              linkOrCopy(f, dst)
            }
        }
        // bloom sidecar rides the same carry (original UUID names, no
        // compounding); past the checkpoint threshold the whole pile is
        // rewritten to one file of live keys — metadata-scale, never a
        // corpus scan (Bloom.compactSidecar)
        if (Files.isDirectory(live.resolve(Bloom.Sidecar))) {
          val prevBloomFiles = Fs.listDir(live.resolve(Bloom.Sidecar))
            .filter(_.getFileName.toString.endsWith(".parquet"))
          val dstBloom = stage.resolve(Bloom.Sidecar)
          Files.createDirectories(dstBloom)
          prevBloomFiles.foreach { f =>
            val dst = dstBloom.resolve(f.getFileName)
            if (Files.exists(dst))
              throw new IllegalStateException(
                s"append bloom sidecar carry-over collision on ${f.getFileName}")
            linkOrCopy(f, dst)
          }
          if (prevBloomFiles.size >= StatsCheckpointEvery)
            Bloom.compactSidecar(spark, stage.toString)
        }
        // an existing deletion vector describes carried files by
        // relative key, so it rides EVERY linked commit — appends,
        // streaming batches, AND MOR commits (whose own delta part was
        // already staged above; vector parts OR-merge at read time, so
        // delta + carried parts compose exactly). (COW rewrites never
        // reach here on a DV version: cowPublish refuses with the
        // compact-to-purge hint.) Past the checkpoint threshold — or
        // when any carried part is the legacy row-per-position format —
        // a MOR commit folds the whole pile into one fresh v2 part:
        // the log-checkpoint analog, amortized O(1) per commit, and
        // sidecar dirs stay single-format.
        if (Files.isDirectory(live.resolve(Dv.Sidecar))) {
          val prevDvFiles = Fs.listDir(live.resolve(Dv.Sidecar))
            .filter(_.getFileName.toString.endsWith(".parquet"))
          val dstDv = stage.resolve(Dv.Sidecar)
          Files.createDirectories(dstDv)
          prevDvFiles.foreach { f =>
            val dst = dstDv.resolve(f.getFileName)
            if (Files.exists(dst))
              throw new IllegalStateException(
                s"append dv sidecar carry-over collision on ${f.getFileName}")
            linkOrCopy(f, dst)
          }
          if (dvDelta.isDefined &&
              (prevDvFiles.size >= StatsCheckpointEvery ||
                Dv.hasLegacyParts(spark, versionPath(root, v))))
            Dv.compactSidecar(spark, stage.toString)
        }
        // equality-delete sidecars ride every linked commit: tombstones
        // stay pending until compaction folds them into files, and file
        // sequence stamps describe carried files by relative key — both
        // exactly valid in the new version. Past the checkpoint
        // threshold the pile folds (max-seq per key / live-keys only) —
        // metadata-scale, the same amortized-O(1) contract as _stats.
        // SeqSidecar first: the _eqdel fold's dead-tombstone sweep
        // (round-14) reads the staged seq pile for the live floor
        Seq(EqDel.SeqSidecar, EqDel.Sidecar).foreach { sc =>
          if (Files.isDirectory(live.resolve(sc))) {
            val prev = Fs.listDir(live.resolve(sc))
              .filter(_.getFileName.toString.endsWith(".parquet"))
            val dst = stage.resolve(sc)
            Files.createDirectories(dst)
            prev.foreach { f =>
              val d = dst.resolve(f.getFileName)
              if (Files.exists(d))
                throw new IllegalStateException(
                  s"append $sc sidecar carry-over collision on ${f.getFileName}")
              linkOrCopy(f, d)
            }
            if (prev.size >= StatsCheckpointEvery)
              EqDel.compactSidecar(spark, stage.toString, sc)
          }
        }
        // the ANN quantizer and PQ codebooks describe the BUCKETING /
        // ENCODING SCHEME, not any file set — a linked commit preserves
        // the bucket and code columns as data, so both stay exactly
        // valid and must ride along (without them, one append would
        // brick AnnIndex.search/searchPq on the new version)
        Seq(AnnIndex.CentroidsSidecar, Pq.Sidecar).foreach { sc =>
          if (Files.isDirectory(live.resolve(sc))) {
            val dstC = stage.resolve(sc)
            Files.createDirectories(dstC)
            Fs.listDir(live.resolve(sc))
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .foreach(f => linkOrCopy(f, dstC.resolve(f.getFileName)))
          }
        }
      }
      // a commit that CHANGES a carried scheme sidecar (an IVF bucket
      // split swapping the quantizer) replaces it wholesale inside the
      // same staged dir — data and new scheme become visible in one
      // atomic rename, exactly like the build-time contract
      replaceSidecars.foreach { case (name, sdf) =>
        require(name.startsWith("_"),
          s"sidecar name must be _-prefixed (invisible to plain reads): $name")
        Fs.deleteRecursively(stage.resolve(name))
        sdf.coalesce(1).write.mode("overwrite").parquet(stage.resolve(name).toString)
      }
      // an empty append creating an empty table still needs a
      // footer-bearing file or the version loses its schema (PHYSICAL
      // names, like every data file of the version)
      if (!hasParquetFile(stage)) {
        spark.createDataFrame(
            spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
            toWrite.schema)
          .write.mode("overwrite").parquet(stage.toString)
      }
      // stats maintenance, non-checkpoint path (runs AFTER carry-over so
      // the full staged file set is visible): annotate every staged file
      // missing sidecar coverage for any stats column — the fresh delta
      // (the commit's O(delta) cost, as before) PLUS any carried file an
      // earlier version never covered (one footer read each, ONCE — a
      // 'graft.stats.columns' declared after data therefore retrofits on
      // the very next commit, and the empty schema-anchor file of a
      // CTAS'd table gets a rows=0 entry that prunes it outright).
      // Afterwards every row rides the carry and commits stay O(delta).
      if (effStats.nonEmpty && !checkpointStats) {
        val colSet = effStats.map(_.toLowerCase).toSet // physical names
        val covered: Map[String, Set[String]] =
          if (Files.isDirectory(stage.resolve(Stats.Sidecar)))
            Stats.sidecar(spark, stage.toString).select("file", "col")
              .collect().groupBy(_.getString(0))
              .map { case (f, rs) => f -> rs.map(_.getString(1).toLowerCase).toSet }
          else Map.empty
        val missing = Fs.walkParquet(stage)
          .map(p => (p.toString, stage.relativize(p).toString))
          .filter { case (_, key) => !colSet.subsetOf(covered.getOrElse(key, Set.empty)) }
        Stats.annotatePairs(spark, stage.toString, missing, effStats,
          append = true, ndvCols = effNdv, histCols = effHist)
      }
      // sidecar checkpoint: one fresh footer pass over the whole staged
      // table (carried + new files — metadata-scale) replaces the pile
      if (checkpointStats)
        Stats.annotate(spark, stage.toString, effStats, effNdv,
          histCols = effHist)
      stampOp(stage, opTag)
      Some(stage)
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }

  /** RESTORE: republish the immutable contents of `v` as a NEW version
    * (linked, no data movement) and flip the pointer — the administrative
    * rewind (`RESTORE TABLE ... TO VERSION AS OF`). History is preserved:
    * the bad versions stay readable until vacuumed, and the restore
    * itself is an ordinary OCC commit. No `_changes` sidecar is emitted
    * (a restore's delta is not insert-only); incremental consumers
    * observe the chain break and fall back to a snapshot diff / resync,
    * which is the honest contract for a rewind. Returns the new version
    * (or the current one unchanged when `v` is already live).
    */
  def restoreVersion(spark: SparkSession, root: String, v: Long): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    if (v == cur) return cur
    val src = Paths.get(versionPath(root, v))
    if (!Files.exists(src))
      throw new IllegalStateException(
        s"version $v does not exist under $root (available: ${listVersions(root).mkString(", ")})" +
          " — it may have been vacuumed by compaction")
    val stage = Paths.get(s"$root/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try {
      stageSnapshotLinks(src, stage)
      stampOp(stage, "restore")
      commitStaged(root, stage, Some(cur))
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }

  /** Hardlink the immutable contents of version dir `src` into `stage`:
    * every data file plus every sidecar that DESCRIBES those files —
    * stats, bloom filters, the ANN quantizer: all remain exactly valid
    * for this file set. The `_changes` feed is deliberately NOT carried:
    * it describes the source version's original delta relative to ITS
    * predecessor, and surfacing it as the new commit's change feed would
    * be a lie (a restore's logical change is "table rewound", a clone's
    * history starts fresh). `_BASE`/`_COMMIT_TS`/`_BATCHID` markers are
    * likewise left behind — the commit writes its own (linking them
    * would let the new commit's stamp writes reach the SOURCE's inode).
    */
  /** Copy each `_layout<k>/_PSPEC` leg stamp of `src` into `stage` —
    * the leg spec is what makes a carried mixed-layout version readable
    * (data files travel through the parquet walk; the stamps must ride
    * along). No-op for flat versions.
    */
  private def carryLayoutStamps(src: Path, stage: Path): Unit =
    layoutLegs(src.toString).foreach { l =>
      val stamp = l.resolve(PartitionSpecFile)
      if (Files.exists(stamp)) {
        val dst = stage.resolve(l.getFileName)
        Files.createDirectories(dst)
        val dstStamp = dst.resolve(PartitionSpecFile)
        if (!Files.exists(dstStamp)) Files.copy(stamp, dstStamp)
      }
    }

  private[ops] def stageSnapshotLinks(src: Path, stage: Path): Unit = {
    Fs.walkParquet(src).foreach { f =>
      val dst = stage.resolve(src.relativize(f))
      Files.createDirectories(dst.getParent)
      linkOrCopy(f, dst)
    }
    carryLayoutStamps(src, stage)
    // the snapshot's own partition-spec stamp describes ITS layout and
    // must travel (copied, not linked — the commit may rewrite it);
    // commitStaged then syncs the table-level spec back to it, so a
    // restore across a partition evolution also restores the spec
    val pspec = src.resolve(PartitionSpecFile)
    if (Files.exists(pspec)) {
      Files.createDirectories(stage)
      Files.copy(pspec, stage.resolve(PartitionSpecFile))
    }
    // the column-mapping marker travels with the files it translates
    ColMap.carry(src, stage)
    Seq(Stats.Sidecar, Bloom.Sidecar, AnnIndex.CentroidsSidecar,
        Pq.Sidecar, Dv.Sidecar, EqDel.Sidecar, EqDel.SeqSidecar).foreach { sc =>
      val srcSc = src.resolve(sc)
      if (Files.isDirectory(srcSc)) {
        val dstSc = stage.resolve(sc)
        Files.createDirectories(dstSc)
        Fs.listDir(srcSc).filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => linkOrCopy(f, dstSc.resolve(f.getFileName)))
      }
    }
  }

  /** Hardlink `src` as `dst`, copying where the filesystem refuses links
    * (cross-device, unsupported FS). Committed parquet files are
    * immutable, so sharing the inode is safe.
    */
  private[ops] def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch {
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }

}
