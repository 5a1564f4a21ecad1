package graft.ops

import java.nio.file.{Files, Paths}

import graft.io.Fs
import org.apache.spark.sql.{Column, SparkSession}

/** Layout and schema evolution commits: metadata-only column mapping
  * and type widening, partition-spec evolution (rewrite and
  * metadata-only forms), and Z-order re-clustering.
  *
  * One seam of [[Sinks]] (round-13 split of a 2.9k-line object:
  * pure member motion, zero behavior change — `Sinks.<member>`
  * call sites are untouched because the object mixes this in).
  */
private[graft] trait SinksEvolution { this: Sinks.type =>

  /** Metadata-only RENAME COLUMN commit ([[ColMap]]): hardlink the live
    * version wholesale, REPLACE its column-mapping marker with
    * `mapping` (logical → physical, identity entries dropped), and
    * commit through the OCC protocol. Zero data bytes move — the
    * O(table) rewrite the pre-mapping rename paid is gone; time travel
    * still reads each older version under its own names because the
    * marker is per-version. Callers (the catalog's ALTER) validate the
    * mapping against the live schema first.
    */
  def publishColumnMapping(spark: SparkSession, root: String,
      expected: Long, mapping: Map[String, String],
      dropped: Set[String] = Set.empty,
      opTag: String = "rename-column",
      added: Seq[org.apache.spark.sql.types.StructField] = Nil,
      widened: Option[Map[String, org.apache.spark.sql.types.DataType]] = None): Long = {
    val src = Paths.get(versionPath(root, expected))
    val stage = Paths.get(s"$root/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try {
      stageSnapshotLinks(src, stage)
      Files.deleteIfExists(stage.resolve(ColMap.MarkerFile))
      // widen entries (B162) survive every marker rewrite unless the
      // caller replaces them explicitly — a RENAME/ADD must never
      // silently re-narrow a widened column
      ColMap.write(stage, mapping, dropped, added,
        widened.getOrElse(ColMap.widened(src.toString)))
      stampOp(stage, opTag)
      commitStaged(root, stage, Some(expected))
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }

  /** Metadata-only ALTER COLUMN TYPE widening commit (B162): hardlink
    * the live version and record `widenTo` (PHYSICAL name → wide type)
    * in the column-mapping marker — zero data bytes move. Readers pin
    * the wide type ([[readSchemaFor]]) and the parquet reader upcasts
    * narrow footers per file; writers land wide files from here on;
    * compaction materializes. A widened PARTITION column re-stamps the
    * staged `_PSPEC` (and thereby the table-level spec) so directory
    * values parse under the wide type. Callers validate the widening
    * matrix; this refuses only the structurally unsound case — widening
    * the SOURCE of a hidden bucket/truncate transform, whose derived
    * values are type-sensitive (`hash(5) != hash(5L)`): old directories
    * would stop matching the rule's injected predicate.
    */
  def publishTypeWidening(spark: SparkSession, root: String, expected: Long,
      widenTo: Map[String, org.apache.spark.sql.types.DataType]): Long = {
    val src = Paths.get(versionPath(root, expected))
    val pcols = TableProps.partitionCols(root)
    pcols.flatMap(Transforms.parse).foreach { t =>
      require(!widenTo.keys.exists(_.equalsIgnoreCase(t.src)) ||
          t.isInstanceOf[Transforms.Day] || t.isInstanceOf[Transforms.Month] ||
          t.isInstanceOf[Transforms.Year] || t.isInstanceOf[Transforms.Hour],
        s"cannot widen ${t.src}: it is the source of hidden transform " +
          s"${t.spec}, whose derived values are type-sensitive — old " +
          "directories would no longer match pruned reads; compact first")
    }
    val stage = Paths.get(s"$root/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try {
      stageSnapshotLinks(src, stage)
      Files.deleteIfExists(stage.resolve(ColMap.MarkerFile))
      // an ADDED column has no physical bytes to upcast — retype its
      // ADD record instead of minting a widen entry
      val addedNames = ColMap.added(src.toString).map(_.name.toLowerCase).toSet
      val (addWiden, physWiden) =
        widenTo.partition(e => addedNames(e._1.toLowerCase))
      val newAdded = ColMap.added(src.toString).map(f =>
        addWiden.collectFirst { case (n, t) if n.equalsIgnoreCase(f.name) => t }
          .fold(f)(t => f.copy(dataType = t)))
      ColMap.write(stage, ColMap.load(src.toString),
        ColMap.dropped(src.toString), newAdded,
        ColMap.widened(src.toString) ++ physWiden)
      // a widened identity partition column re-pins the spec DDL
      val spec = partitionSchemaFor(root, src.toString)
      if (spec.exists(_.fieldNames.exists(n =>
          widenTo.keys.exists(_.equalsIgnoreCase(n))))) {
        val widenedSpec = org.apache.spark.sql.types.StructType(spec.get.map(f =>
          widenTo.collectFirst { case (n, t) if n.equalsIgnoreCase(f.name) => t }
            .fold(f)(t => f.copy(dataType = t))))
        Files.write(stage.resolve(PartitionSpecFile),
          widenedSpec.toDDL.getBytes("UTF-8"))
      }
      stampOp(stage, "widen-type")
      commitStaged(root, stage, Some(expected))
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }


  /** Partition evolution: re-lay the LIVE version under a new partition
    * spec (possibly none) as one ordinary OCC commit — the
    * `ALTER TABLE ... PARTITIONED BY` this layout can honor. Because
    * files here carry no column-mapping indirection, a spec change is a
    * rewrite of the live version (the Delta position: a different
    * physical layout IS different files), not an Iceberg metadata-only
    * spec append — but it is a rewrite of the LIVE version only: history
    * stays untouched, and the version-local `_PSPEC` stamp means every
    * retained version keeps reading (and time-travelling, and RESTORING)
    * under the layout its files actually have. Restoring a pre-evolution
    * version restores its spec with it — a mixed-layout version cannot
    * be committed.
    *
    * The stats sidecar is rebuilt for the new files over the same
    * columns (minus any that became partition directories); a `_bloom`
    * sidecar describes dead files after a full rewrite and is dropped —
    * re-annotate via `CALL system.bloom_index` (same contract as
    * compaction). Returns the new version.
    */
  def repartitionTable(spark: SparkSession, root: String,
      partitionBy: Seq[String], metadataOnly: Boolean = false): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val df = readCurrent(spark, root)
    val schema = df.schema
    // a spec entry is a plain column (identity) or a HIDDEN transform
    // (`day(ts)`, `bucket(16, id)`, `truncate(4, code)` — B161): the
    // transform contributes a DERIVED field the writers materialize and
    // the readers hide
    val canonical = partitionBy.map { c =>
      Transforms.parseSpec(c) match {
        case Some(t) =>
          val srcF = schema.find(_.name.equalsIgnoreCase(t.src)).getOrElse(
            throw new IllegalArgumentException(
              s"partition transform ${t.spec}: source column ${t.src} is " +
                s"not in the table schema (${schema.fieldNames.mkString(", ")})"))
          t.check(srcF.dataType).foreach(msg =>
            throw new IllegalArgumentException(s"partition transform ${t.spec}: $msg"))
          org.apache.spark.sql.types.StructField(t.colName, t.dataType(srcF.dataType))
        case None =>
          schema.find(_.name.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"partition column $c is not in the table schema " +
                s"(${schema.fieldNames.mkString(", ")})"))
      }
    }
    require(canonical.map(_.name).distinct.size == canonical.size,
      s"duplicate partition column in ${partitionBy.mkString(", ")}")
    val identityNames = canonical.map(_.name)
      .filter(n => schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(identityNames.size < schema.size,
      "at least one non-partition column is required")
    if (metadataOnly)
      return evolveSpecMetadataOnly(spark, root, cur, canonical)
    val oldProps = TableProps.load(root)
    // metadata moves first (the evolveSchema pattern) and rolls back on
    // failure, so no failure mode leaves the spec pointing at a layout
    // the live version lacks — the data publish below lays out by it
    TableProps.update(root)(m =>
      if (canonical.isEmpty) m - TableProps.PartitionKey
      else m + (TableProps.PartitionKey ->
        org.apache.spark.sql.types.StructType(canonical).toDDL))
    try {
      // Hive convention: IDENTITY partition columns LAST, in spec order
      // (derived transform columns aren't in the logical schema — the
      // publish below materializes them from their sources)
      val reordered = df.select(
        (schema.fieldNames.filterNot(identityNames.contains) ++ identityNames)
          .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      val sc = Stats.sidecarCols(spark, versionPath(root, cur))
        .filterNot(canonical.map(_.name).contains)
      publishVersioned(reordered, root, Some(cur), statsCols = sc)
    } catch {
      case e: Throwable => TableProps.store(root, oldProps); throw e
    }
  }

  /** Metadata-only partition evolution (the Iceberg spec-append form of
    * B134): record the NEW spec for FUTURE writes and move ZERO data
    * bytes. The live version's current-layout files are hardlinked
    * (same inode) under a new `_layout<k>/` leg that keeps the OLD spec
    * as its own `_PSPEC` stamp; the commit's top-level `_PSPEC` records
    * the new spec, which [[commitStaged]] syncs to the table level so
    * every later append lays its files out under it. Readers union the
    * legs ([[scanVersion]]) — partition pruning keeps firing on EACH
    * layout's own directory columns — and compaction (or any COW
    * rewrite) materializes the whole table under the current spec,
    * dissolving the legs: the rewrite form stays the compaction path.
    *
    * Sidecar file keys are version-dir-relative, so the keys of the
    * files that move are REWRITTEN with the `_layout<k>/` prefix in the
    * same commit — stats skipping, bloom point-skipping, and the
    * deletion vector stay exact across the evolution (metadata-scale
    * rewrites, never a data scan). Scheme sidecars (ANN quantizer, PQ
    * codebooks) carry verbatim: they describe no file set.
    *
    * Refused under a column-mapping RENAME (the spec would record
    * names future footers don't carry under the same spelling the legs
    * use) — materialize with the rewrite form first. DROP tombstones
    * and metadata-ADDED columns compose fine and pass through.
    */
  private def evolveSpecMetadataOnly(spark: SparkSession, root: String,
      cur: Long, canonical: Seq[org.apache.spark.sql.types.StructField]): Long = {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val live = Paths.get(versionPath(root, cur))
    require(ColMap.load(live.toString).isEmpty,
      s"metadata-only partition evolution of $root is unsupported under a " +
        "column-mapping RENAME — compact or use the rewrite form " +
        "(metadataOnly = false) to materialize the mapping first")
    val oldDdl = partitionSchemaFor(root, live.toString).map(_.toDDL).getOrElse("")
    val newDdl =
      if (canonical.isEmpty) ""
      else org.apache.spark.sql.types.StructType(canonical).toDDL
    require(!oldDdl.equalsIgnoreCase(newDdl),
      s"$root is already partitioned by " +
        (if (oldDdl.isEmpty) "(nothing)" else oldDdl) + " — evolution is a no-op")
    val legIdx = layoutLegs(live.toString)
      .map(_.getFileName.toString.drop(LayoutDirPrefix.length).toLong)
    val nextLeg = legIdx.lastOption.fold(0L)(_ + 1)
    val legName = s"$LayoutDirPrefix$nextLeg"
    // no current-layout files (back-to-back evolutions with no append
    // between): nothing moves, no leg is born — only the spec changes
    val moveTop = topLevelParquetExists(live.toString)
    val stage = Paths.get(
      s"$root/.stage-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    try {
      Files.createDirectories(stage)
      // data: hardlinks only — existing legs keep their relative paths,
      // current-layout files move under the new leg (same inodes)
      Fs.walkParquet(live).foreach { f =>
        val rel = live.relativize(f)
        val dstRel =
          if (Fs.isLayoutLeg(rel.getName(0).toString)) rel
          else Paths.get(legName).resolve(rel)
        val dst = stage.resolve(dstRel)
        Files.createDirectories(dst.getParent)
        linkOrCopy(f, dst)
      }
      // every leg keeps its own spec stamp; the new leg inherits the
      // OLD top-level spec (the layout its files actually have)
      layoutLegs(live.toString).foreach { l =>
        val dst = stage.resolve(l.getFileName)
        Files.createDirectories(dst)
        Files.copy(l.resolve(PartitionSpecFile), dst.resolve(PartitionSpecFile))
      }
      if (moveTop) {
        val legDir = stage.resolve(legName)
        Files.createDirectories(legDir)
        Files.write(legDir.resolve(PartitionSpecFile), oldDdl.getBytes("UTF-8"))
      }
      // keyed sidecars: prefix the moved files' keys (rows already
      // leg-prefixed describe files that did not move); when nothing
      // moved, carry the parts verbatim by hardlink
      val legKeyed = col("file").rlike(s"^$LayoutDirPrefix[0-9]+/")
      def rewriteKeys(name: String): Unit = {
        val src = live.resolve(name)
        if (!Files.isDirectory(src)) return
        if (!moveTop) {
          val dst = stage.resolve(name)
          Files.createDirectories(dst)
          Fs.listDir(src).filter(_.getFileName.toString.endsWith(".parquet"))
            .foreach(f => linkOrCopy(f, dst.resolve(f.getFileName)))
        } else {
          spark.read.parquet(src.toString)
            .withColumn("file", when(legKeyed, col("file"))
              .otherwise(concat(lit(legName + "/"), col("file"))))
            .coalesce(1).write.mode("overwrite")
            .parquet(stage.resolve(name).toString)
        }
      }
      rewriteKeys(Stats.Sidecar)
      rewriteKeys(Bloom.Sidecar)
      // file-sequence stamps re-key with the moved files (round-14);
      // the tombstones themselves carry no file keys — verbatim below
      rewriteKeys(EqDel.SeqSidecar)
      if (Dv.exists(live.toString)) {
        if (!moveTop) rewriteKeys(Dv.Sidecar)
        else if (!Dv.hasLegacyParts(spark, live.toString)) {
          // pure v2 parts: rewrite only the KEY column, never expand
          // the bitmaps — O(vector rows), not O(deleted positions).
          // Multiple rows per re-keyed file stay valid (reads OR-merge)
          rewriteKeys(Dv.Sidecar)
        } else {
          // mixed/legacy v1 parts can't be read as one frame — expand
          // through the format-tolerant positions read and re-encode as
          // one fresh v2 part (also the fold point)
          val re = Dv.vector(spark, live.toString)
            .withColumn("file", when(legKeyed, col("file"))
              .otherwise(concat(lit(legName + "/"), col("file"))))
          Dv.deltaBitmaps(re).coalesce(1).write.mode("overwrite")
            .parquet(stage.resolve(Dv.Sidecar).toString)
        }
      }
      // scheme sidecars and the non-RENAME column-mapping markers
      // (DROP tombstones / metadata ADDs) describe no file set — verbatim
      ColMap.carry(live, stage)
      Seq(AnnIndex.CentroidsSidecar, Pq.Sidecar, EqDel.Sidecar).foreach { sc =>
        val srcSc = live.resolve(sc)
        if (Files.isDirectory(srcSc)) {
          val dstSc = stage.resolve(sc)
          Files.createDirectories(dstSc)
          Fs.listDir(srcSc).filter(_.getFileName.toString.endsWith(".parquet"))
            .foreach(f => linkOrCopy(f, dstSc.resolve(f.getFileName)))
        }
      }
      // the NEW spec rides the commit; commitStaged syncs the table
      // level to it under the lock, so the next writer lays out by it
      Files.write(stage.resolve(PartitionSpecFile), newDdl.getBytes("UTF-8"))
      stampOp(stage, "evolve-partition-spec")
      commitStaged(root, stage, Some(cur))
    } catch {
      case e: Throwable => Fs.deleteRecursively(stage); throw e
    }
  }

  /** Multi-dimensional layout clustering — the `OPTIMIZE ... ZORDER BY`
    * analog, and the SQL door's target (`CALL graft.system.zorder`):
    * rewrite the LIVE version range-partitioned + sorted by the
    * [[Layout.zorderN]] interleave of the named dimensions, each
    * normalized onto a common `bits`-bit grid from its own min/max
    * (one tiny aggregate — interleaving raw domains would let the
    * wider dimension own every significant bit, see
    * [[Layout.normalize]]). Stats are re-annotated IN THE SAME COMMIT
    * over the union of the existing sidecar columns and the z-order
    * dimensions (the compaction contract: a layout job must never
    * demote the table from skippable to full-scan), so predicates on
    * ANY clustered dimension file-prune immediately after the CALL.
    *
    * Reads through the single funnel and rewrites fresh, so — exactly
    * like [[compactVersioned]] — a deletion vector is purged and a
    * column-mapped table converges back to unmapped (no refusal
    * needed; the rewrite IS the materialization). Partitioned tables
    * keep their Hive layout: partition columns lead the range
    * partitioning so each task writes whole partition values, and they
    * cannot themselves be z-order dimensions (directories already
    * prune them). `bits` is clamped so k·bits fits a signed long.
    * One ordinary OCC commit; returns the new version.
    */
  def zorderTable(spark: SparkSession, root: String, zcols: Seq[String],
      bits: Int = 16, targetBytes: Long = 128L * 1024 * 1024): Long = {
    import org.apache.spark.sql.functions.{col, lit, min => smin, max => smax}
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
    require(zcols.size >= 2,
      s"z-order needs >= 2 dimensions, got ${zcols.mkString(", ")} — for a " +
        "single column use compact (range-clusters by the stats columns)")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    val live = versionPath(root, cur)
    val df = readCurrent(spark, root)
    val schema = df.schema
    val canonical = zcols.map(c => schema.find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"z-order column $c is not in the table schema " +
          s"(${schema.fieldNames.mkString(", ")})")))
    require(canonical.map(_.name).distinct.size == canonical.size,
      s"duplicate z-order column in ${zcols.mkString(", ")}")
    val pcols = TableProps.partitionCols(root)
    canonical.foreach(f => require(!pcols.exists(_.equalsIgnoreCase(f.name)),
      s"${f.name} is a partition column — directories already prune it; " +
        "z-order the non-partition dimensions"))
    // each dimension must map onto the integer grid: numerics directly,
    // date/timestamp via their epoch spelling
    def asNum(f: org.apache.spark.sql.types.StructField): Column = f.dataType match {
      case DateType => org.apache.spark.sql.functions.unix_date(col(f.name)).cast("double")
      case TimestampType => org.apache.spark.sql.functions.unix_micros(col(f.name)).cast("double")
      case _: NumericType => col(f.name).cast("double")
      case dt => throw new IllegalArgumentException(
        s"z-order column ${f.name} has unclusterable type ${dt.simpleString} " +
          "(numeric, date, or timestamp required)")
    }
    val effBits = math.min(bits, 63 / canonical.size)
    require(effBits >= 1, s"too many dimensions for one z-value: ${canonical.size}")
    // one metadata-scale aggregate for the normalization bounds
    val boundCols = canonical.flatMap(f => Seq(smin(asNum(f)), smax(asNum(f))))
    val bounds = df.agg(boundCols.head, boundCols.tail: _*).head()
    val nFiles = math.max(fileCount(Paths.get(live), targetBytes), 1)
    val allBounded = canonical.indices.forall(i =>
      !bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1))
    val laid =
      if (!allBounded) df.repartition(nFiles) // empty table / all-null dim
      else {
        val z = Layout.zorderN(canonical.zipWithIndex.map { case (f, i) =>
          Layout.normalize(asNum(f), lit(bounds.getDouble(2 * i)),
            lit(bounds.getDouble(2 * i + 1)), effBits)
        }, effBits)
        val keys = pcols.map(col) :+ z
        df.repartitionByRange(nFiles, keys: _*).sortWithinPartitions(keys: _*)
      }
    val sc = (Stats.sidecarCols(spark, live).map(ColMap.toLogicalName(live, _))
      ++ canonical.map(_.name)).distinct.filterNot(c => pcols.exists(_.equalsIgnoreCase(c)))
    publishVersioned(laid, root, Some(cur), statsCols = sc, opTag = "zorder")
  }
}
