package graft.catalog

import java.nio.file.{Files, Paths}
import java.util.{Optional, OptionalLong}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsPushDownVariantExtractions, SupportsReportPartitioning, SupportsReportStatistics, VariantExtraction}
import org.apache.spark.sql.connector.read.colstats.{ColumnStatistics, Histogram, HistogramBin}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.{SupportsMetadata, SupportsPushDownCatalystFilters}
import org.apache.spark.sql.types._

import graft.ops.{ColMap, Dv, EqDel, FileColStat, Sinks, Stats}

/** The engine's scan tier over the v2 parquet delegate (B185/B186): one
  * thin wrapper around [[ParquetScanBuilder]]/[[ParquetScan]] that adds
  * the two signals Spark cannot derive from bare files, while forwarding
  * every pushdown surface untouched (filters, column pruning, aggregate
  * pushdown, variant extraction — all land in the DELEGATE, so
  * `PushedFilters`/`ReadSchema` in explain output are unchanged):
  *
  *  1. '''Exact plan-time statistics''' ([[CboStats]]): row counts, an
  *     honest in-memory size, and per-column null counts / bounds /
  *     distinct counts served from the `_stats` sidecar — the numbers
  *     that decide broadcast-vs-shuffle joins and (under
  *     `spark.sql.cbo.enabled`) join reordering. The delegate's own
  *     estimate is compressed-file-bytes × a column-count ratio; at
  *     100 TB that mis-sizes a table by the parquet compression factor
  *     (3–10×), which is exactly the band where a 9 MB "estimate" of a
  *     90 MB build side OOMs a broadcast. Selected-file listing happens
  *     AFTER partition pruning (the delegate's own pushed partition
  *     filters), so a pruned scan reports the pruned row count.
  *
  *  2. '''Key-grouped partition reporting''' (storage-partitioned joins,
  *     the Iceberg SPJ design): an identity-partitioned table reports
  *     [[KeyGroupedPartitioning]] over its partition columns and plans
  *     one [[HasPartitionKey]]-tagged file group per partition value, so
  *     two tables co-partitioned on the join key join with ZERO shuffle
  *     on either side (`spark.sql.sources.v2.bucketing.enabled=true`,
  *     with `pushPartValues` padding mismatched partition sets). At
  *     100 TB a shuffle-free join of two co-partitioned fact tables is
  *     the difference between a network-bound night and a local-read
  *     hour; on Spark's cost ladder it beats even a broadcast (nothing
  *     is replicated).
  *
  * Versions where the bare scan itself would be wrong (deletion vectors,
  * pending equality deletes, column mapping, layout legs, hidden
  * partitioning) never reach this wrapper — [[graft.plans.DvReadRule]]
  * swaps their relations for the reconciling funnel before pushdown, and
  * rule-less sessions are refused at load — but both signals
  * independently guard and decline on them anyway (defense in depth: a
  * wrong statistic mis-plans, a wrong partition key mis-JOINS).
  *
  * Escape hatches: `spark.graft.scan.stats.enabled` /
  * `spark.graft.scan.spj.enabled` (both default true).
  */
private[graft] object GraftScans {

  /** Wrap the delegate's scan builder; anything that is not the v2
    * parquet builder (future delegates) passes through unwrapped.
    */
  def wrap(inner: ScanBuilder, tRoot: String, versionDir: String): ScanBuilder =
    inner match {
      case p: ParquetScanBuilder => new GraftScanBuilder(p, tRoot, versionDir)
      case other => other
    }

  // resolved against the SESSION THAT BUILT THE SCAN (the delegate's),
  // not SparkSession.active — in a multi-session application another
  // session's flags must not flip this session's planning
  private def flag(spark: SparkSession, name: String): Boolean =
    spark.conf.get(name, "true").trim.equalsIgnoreCase("true")
  def statsEnabled(spark: SparkSession): Boolean =
    flag(spark, "spark.graft.scan.stats.enabled")
  def spjEnabled(spark: SparkSession): Boolean =
    flag(spark, "spark.graft.scan.spj.enabled")
}

/** Forwards every pushdown interface the parquet builder implements;
  * `build()` wraps the resulting scan. A scan with a PUSHED AGGREGATE
  * returns unwrapped: its output rows are group rows, so file-level row
  * statistics no longer describe it (and grouping keys are not
  * partition keys).
  */
private[graft] final class GraftScanBuilder(inner: ParquetScanBuilder,
    tRoot: String, versionDir: String)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownCatalystFilters
  with SupportsPushDownAggregates
  with SupportsPushDownVariantExtractions {

  /** Round-16 (SPJ through column mapping): for a reader-side colmap
    * version the delegate speaks PHYSICAL footer names (the catalog
    * hands it a physical-schema table), while the plan speaks LOGICAL
    * names — this builder is the translation boundary. Pruning and
    * filter pushdown rename logical→physical on the way in; leftover
    * filters map back to the caller's original expressions; the scan
    * wrapper re-aliases its read schema logical on the way out.
    */
  private lazy val l2p: Map[String, String] =
    if (MorSpj.readerSide(tRoot, versionDir)) ColMap.load(versionDir)
    else Map.empty

  private def physName(logical: String): String =
    l2p.collectFirst { case (l, p) if l.equalsIgnoreCase(logical) => p }
      .getOrElse(logical)

  private def logName(physical: String): String =
    l2p.collectFirst { case (l, p) if p.equalsIgnoreCase(physical) => l }
      .getOrElse(physical)

  private def toPhys(e: Expression): Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if l2p.exists(_._1.equalsIgnoreCase(a.name)) =>
      a.withName(physName(a.name))
  }

  private def toLog(e: Expression): Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if l2p.exists(_._2.equalsIgnoreCase(a.name)) =>
      a.withName(logName(a.name))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (l2p.isEmpty) inner.pruneColumns(requiredSchema)
    else inner.pruneColumns(StructType(
      requiredSchema.map(f => f.copy(name = physName(f.name)))))

  /** Hidden transform grids of this version's layout (round-15: ALL
    * transforms — bucket, day/month/year/hour, truncate). A predicate
    * on the SOURCE column implies a directory predicate the file index
    * can prune on: the v2-path twin of [[graft.plans
    * .HiddenPartitionRule]], sharing its `rewrite` (one soundness
    * argument, two doors). Every image is a folded literal, so the
    * delegate translates it into its partition filters.
    */
  private lazy val grids: Seq[graft.ops.Transforms.T] =
    inner.fileIndex.partitionSchema.fieldNames.toSeq
      .flatMap(graft.ops.Transforms.parse)

  private def impliedGrid(e: Expression): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    grids.flatMap { t =>
      e.references.find(_.name.equalsIgnoreCase(t.src)).flatMap { src =>
        val h = AttributeReference(t.colName,
          t.dataType(src.dataType), nullable = true)()
        graft.plans.HiddenPartitionRule.rewrite(e, src, h, t)
      }
    }
  }

  /** Generated PARTITION columns (round-16): when the declared
    * `GENERATED ALWAYS AS (expr)` of a partition column parses as an
    * invertible zone-free [[graft.ops.Transforms]] shape, a predicate
    * on the SOURCE column implies a directory predicate on the
    * generated column — the [[impliedGrid]] pruning with a VISIBLE
    * identity grid instead of a hidden `_tp_*` one. Shares
    * HiddenPartitionRule.rewrite (one soundness argument); an implied
    * predicate the delegate can't consume survives as a harmless
    * post-scan filter (it is a logical consequence of the original).
    */
  private lazy val genPartSpecs: Seq[(StructField, graft.ops.Generated.Spec)] = {
    val parts = inner.fileIndex.partitionSchema.fields
    graft.ops.Generated.specs(tRoot).flatMap(s =>
      parts.find(_.name.equalsIgnoreCase(s.col)).map(_ -> s))
  }

  private def impliedGen(e: Expression): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    if (genPartSpecs.isEmpty) return Nil
    val spark = org.apache.spark.sql.SparkSession.active
    genPartSpecs.flatMap { case (pf, s) =>
      graft.ops.Generated.asTransform(spark, s, n =>
        e.references.find(_.name.equalsIgnoreCase(n)).map(_.dataType))
        .flatMap { t =>
          e.references.find(_.name.equalsIgnoreCase(t.src)).flatMap { src =>
            // belt: the shape's image type must be the grid's stored type
            if (t.dataType(src.dataType) != pf.dataType) None
            else {
              val g = AttributeReference(pf.name, pf.dataType, nullable = true)()
              graft.plans.HiddenPartitionRule.rewrite(e, src, g, t)
            }
          }
        }
    }
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // colmap translation first: grids and footers speak physical names
    val backMap = new java.util.IdentityHashMap[Expression, Expression]()
    val pushed = filters.map { f =>
      val t = if (l2p.isEmpty) f else toPhys(f)
      backMap.put(t, f)
      t
    }
    val genImplied = pushed.flatMap(impliedGen)
    val implied =
      (if (grids.isEmpty) Nil else pushed.flatMap(impliedGrid)) ++ genImplied
    val leftover = inner.pushFilters(pushed ++ implied)
    // implied directory predicates reference the hidden `_tp_*`
    // attribute (grids) or a FRESH-exprId generated-column attribute
    // (impliedGen) — they are consumed as partition filters, but never
    // let one leak back into the plan (the attribute would not resolve
    // against the relation's output). The fresh exprIds identify an
    // implied-gen echo even if the delegate rebuilt the expression.
    val genIds = genImplied.flatMap(_.references.toSeq.map(_.exprId)).toSet
    leftover.filterNot(_.references.exists(a =>
      genIds.contains(a.exprId) ||
        graft.ops.Transforms.parse(a.name).isDefined))
      // post-scan residuals must speak the PLAN's (logical) names; the
      // identity map covers the common pass-through, the structural
      // rename covers a delegate that rebuilt the expression
      .map(e => Option(backMap.get(e)).getOrElse(
        if (l2p.isEmpty) e else toLog(e)))
  }

  override def pushedFilters: Array[V2Predicate] = inner.pushedFilters
  // reader-side MOR mode (round-15): a pushed aggregate's group rows
  // would COUNT deleted rows — refuse the pushdown, the wrapper's
  // per-file subtraction needs the raw rows
  override def pushAggregation(aggregation: Aggregation): Boolean =
    !MorSpj.readerSide(tRoot, versionDir) && inner.pushAggregation(aggregation)
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    !MorSpj.readerSide(tRoot, versionDir) &&
      inner.supportCompletePushDown(aggregation)
  /** Variant-extraction pushdown, minus a vanilla-Spark sharp edge
    * (round-15): the v2 parquet reader loses values when it
    * reconstructs a WHOLE variant through a pushed `$`-path extraction
    * (VariantType expectedDataType — e.g. an aggregate over
    * `variant_get` makes Spark push the identity path; the summed
    * result comes back NULL on the bare v2 scan too). Refuse every
    * extraction of a column that wants an identity reconstruction —
    * Spark then reads the original variant column and evaluates the
    * paths itself, exact. Typed scalar paths push through untouched.
    */
  override def pushVariantExtractions(
      extractions: Array[VariantExtraction]): Array[Boolean] = {
    val badCols = extractions
      .filter(_.expectedDataType().isInstanceOf[org.apache.spark.sql.types.VariantType])
      .map(_.columnName().toSeq).toSet
    if (badCols.isEmpty) inner.pushVariantExtractions(extractions)
    else {
      val allow = extractions.map(e => !badCols(e.columnName().toSeq))
      val innerRes = inner.pushVariantExtractions(
        extractions.zip(allow).collect { case (e, true) => e })
      var j = 0
      extractions.indices.map { i =>
        if (!allow(i)) false
        else { val r = innerRes(j); j += 1; r }
      }.toArray
    }
  }

  override def build(): Scan = {
    val scan = inner.build()
    if (scan.pushedAggregate.isDefined) scan
    else if (MorSpj.readerSide(tRoot, versionDir)) {
      // SPJ under deletion vectors / equality deletes: keep the v2
      // scan, inject the working columns, subtract inside the readers.
      // A pure rename/drop mapping needs no subtraction factory — the
      // wrapper only re-aliases the read schema (morReaderSide=false)
      val (augmented, injected) = MorSpj.augment(scan, versionDir)
      GraftScan(augmented, tRoot, versionDir, injected,
        morReaderSide = Dv.exists(versionDir) || EqDel.exists(versionDir))
    } else GraftScan(scan, tRoot, versionDir)
  }
}

/** The wrapped scan. Case class so exchange/scan reuse compares by the
  * delegate's own (fileIndex, schemas, filters) identity.
  */
private[graft] final case class GraftScan(delegate: ParquetScan,
    tRoot: String, versionDir: String,
    injected: Seq[String] = Nil, morReaderSide: Boolean = false)
  extends Scan with Batch
  with SupportsReportStatistics
  with SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with SupportsMetadata {

  /** Runtime (dynamic-partition-pruning) filters narrow the delegate —
    * [[filter]] swaps in a copy with the extra partition filters, and
    * every file-listing path below reads THROUGH this var so the
    * narrowed selection is what plans, groups, and sizes.
    */
  @transient private var current: ParquetScan = delegate

  // reader-side MOR mode (round-15): the delegate reads the injected
  // working columns (row index, unprojected eq-delete keys); the plan
  // above sees the requested columns only. Round-16: a reader-side
  // colmap version's delegate reads PHYSICAL names — re-alias to the
  // plan's logical names here (batches align positionally). Gated on
  // the SAME readerSide predicate as the builder's l2p: a funnel-bound
  // (non-readerSide) colmap version's delegate speaks LOGICAL names,
  // and re-aliasing those through a chained-rename mapping (v→val then
  // k→v) would mislabel columns.
  private lazy val p2l: Map[String, String] =
    if (!MorSpj.readerSide(tRoot, versionDir)) Map.empty
    else ColMap.load(versionDir).map { case (l, p) => p.toLowerCase -> l }

  override def readSchema(): StructType = {
    val base =
      if (injected.isEmpty) delegate.readSchema()
      else {
        val hide = injected.map(_.toLowerCase).toSet
        StructType(delegate.readSchema().filterNot(f => hide(f.name.toLowerCase)))
      }
    if (p2l.isEmpty) base
    else StructType(base.map(f =>
      f.copy(name = p2l.getOrElse(f.name.toLowerCase, f.name))))
  }
  override def description(): String = delegate.description()
  override def getMetaData(): Map[String, String] =
    if (!morReaderSide) delegate.getMetaData()
    else delegate.getMetaData() + ("MorReaderSide" -> "true")
  // round-16: MOR reader-side mode keeps the delegate's columnar reads
  // — [[MorSubtractReaderFactory]] filters INSIDE the ColumnarBatch via
  // a selection mapping, so a DV'd/eq-deleted table no longer pays a
  // table-wide columnar→row downgrade between compactions
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  override def supportedCustomMetrics() = delegate.supportedCustomMetrics()
  override def reportDriverMetrics() = delegate.reportDriverMetrics()
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String) = {
    requireNoMorStream()
    delegate.toMicroBatchStream(checkpointLocation)
  }
  override def toContinuousStream(checkpointLocation: String) = {
    requireNoMorStream()
    delegate.toContinuousStream(checkpointLocation)
  }
  private def requireNoMorStream(): Unit =
    if (morReaderSide || p2l.nonEmpty) throw new UnsupportedOperationException(
      "streaming a snapshot carrying deletion vectors / equality deletes " +
        "or a column mapping is unsupported: stream the table feed " +
        "(read_stream) or compact first")

  override def createReaderFactory(): PartitionReaderFactory =
    if (morReaderSide) MorSpj.factory(current, versionDir, injected)
    else current.createReaderFactory()

  override def estimateStatistics(): Statistics =
    (if (GraftScans.statsEnabled(delegate.sparkSession))
       CboStats.statsFor(current, tRoot, versionDir)
     else None).getOrElse(current.estimateStatistics())

  /** Dynamic partition pruning for the v2 catalog read (B188): a join
    * against a filtered dimension feeds the surviving join-key values
    * back as an `In` over the fact's partition column, and only the
    * matching partition directories are listed and read. Identity
    * columns only (a hidden `_tp_*` grid is never a join key — those
    * tables ride the funnel). Translation is best-effort: an
    * unsupported filter shape just loses pruning, never rows.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // PROJECTED partition columns only: Spark resolves these against the
    // scan's output (a non-projected name crashes PartitionPruning's
    // resolveRef), and a DPP join key is always projected anyway
    delegate.readPartitionSchema.fields
      .filter(f => graft.ops.Transforms.parse(f.name).isEmpty)
      .map(f => Expressions.column(f.name))

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo => CEqualTo, In => CIn, Literal}
    import org.apache.spark.sql.{sources => v1}
    val ps = delegate.fileIndex.partitionSchema
    def attr(name: String): Option[AttributeReference] =
      ps.fields.find(_.name.equalsIgnoreCase(name))
        .map(f => AttributeReference(f.name, f.dataType, nullable = true)())
    val translated = filters.toSeq.flatMap { f =>
      scala.util.Try(f match {
        case v1.In(c, vs) => attr(c).map(a =>
          CIn(a, vs.toSeq.map(v => Literal.create(v, a.dataType))))
        case v1.EqualTo(c, v) => attr(c).map(a =>
          CEqualTo(a, Literal.create(v, a.dataType)))
        case _ => None
      }).toOption.flatten
    }
    if (translated.nonEmpty)
      current = delegate.copy(
        partitionFilters = delegate.partitionFilters ++ translated)
  }

  /** SPJ eligibility: a version whose layout columns are each either an
    * IDENTITY partition column that is projected (its value must ride
    * the output to be a join key) or a hidden TRANSFORM grid whose
    * SOURCE column is projected (B189 bucket; B193 round-15 extends to
    * day/month/year/hour/truncate — each resolved through the catalog's
    * FunctionCatalog scalar functions, so two day-partitioned event
    * tables join shuffle-free). Deletion vectors / equality deletes are
    * fine in MOR reader-side mode (B192); column mapping and layout
    * legs still disqualify.
    */
  private lazy val spjKeys: Option[Seq[Either[(StructField, Int), (graft.ops.Transforms.T, DataType)]]] = {
    val layout = delegate.fileIndex.partitionSchema
    val read = delegate.readPartitionSchema
    // a bucket SOURCE column counts as projected only when the QUERY
    // projects it — an injected MOR working column is hidden from the
    // output, so a partitioning keyed on it could never resolve
    val injectedLower = injected.map(_.toLowerCase).toSet
    val readData = StructType(delegate.readDataSchema
      .filterNot(f => injectedLower(f.name.toLowerCase)))
    // round-15: reader-side MOR subtraction is per-file, so deletion
    // vectors / equality deletes no longer disqualify SPJ — rows are
    // filtered in place and never move between key groups
    // round-16: a column mapping no longer disqualifies — reader-side
    // colmap versions scan physical names and re-alias (non-readerSide
    // colmap versions never reach this wrapper; the funnel serves them)
    val colmapOk = !ColMap.exists(versionDir) ||
      MorSpj.readerSide(tRoot, versionDir)
    val clean = layout.nonEmpty &&
      (morReaderSide ||
        (!Dv.exists(versionDir) && !EqDel.exists(versionDir))) &&
      colmapOk && !Sinks.hasLayoutLegs(versionDir)
    if (!clean) None
    else {
      val keys = layout.fields.toSeq.map { f =>
        graft.ops.Transforms.parse(f.name) match {
          case None =>
            val i = read.fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
            if (i >= 0) Some(Left((f, i))) else None
          case Some(t) =>
            readData.fields.find(_.name.equalsIgnoreCase(t.src))
              .map(src => Right((t, src.dataType)))
        }
      }
      if (keys.forall(_.isDefined)) Some(keys.flatten) else None
    }
  }

  /** The transform value a file's path carries for grid `t` — the
    * `_tp_<src>__<tag>=<v>` directory value, parsed into the
    * transform's internal result domain ([[graft.ops.Transforms
    * .pathValue]]). The derived column is hidden (never projected), so
    * the path is where its value lives.
    */
  private def gridValueOfPath(path: String, t: graft.ops.Transforms.T,
      srcType: DataType): Option[Any] = {
    val tag = "/" + t.colName + "="
    val i = path.indexOf(tag)
    if (i < 0) None
    else graft.ops.Transforms.pathValue(
      path.substring(i + tag.length).takeWhile(_ != '/'), t, srcType)
  }

  /** One file group per partition-key tuple, each tagged with its key.
    * Identity values ride the projected partition values; bucket values
    * parse from the directory path. The delegate's own splits are
    * preserved; each tuple's files re-bin-pack under the same
    * maxSplitBytes policy the flat plan used, so task sizing survives
    * the regrouping. Memoized per delegate instance (outputPartitioning
    * AND planInputPartitions both need it — the grouping must not run
    * the file-listing pipeline twice per query); a runtime filter swaps
    * `current`, which misses the memo and regroups the narrowed set.
    */
  @transient private var keyedMemo: (ParquetScan, Option[(Array[InputPartition], Int)]) = null
  private def keyedPartitions: Option[(Array[InputPartition], Int)] = synchronized {
    val snap = current
    if (keyedMemo != null && (keyedMemo._1 eq snap)) keyedMemo._2
    else {
      val computed = keyedPartitionsOf(snap)
      keyedMemo = (snap, computed)
      computed
    }
  }

  private def keyedPartitionsOf(snap: ParquetScan): Option[(Array[InputPartition], Int)] =
    spjKeys.flatMap { keys =>
      val flat = snap.planInputPartitions().toSeq
        .flatMap(_.asInstanceOf[FilePartition].files)
      val spark = delegate.sparkSession
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val maxSplit = FilePartition.maxSplitBytes(spark,
        flat.map(_.length + openCost).sum)
      val maybe = flat.map { pf =>
        val vals = keys.map {
          case Left((f, i)) => Some(pf.partitionValues.get(i, f.dataType))
          case Right((t, st)) => gridValueOfPath(pf.filePath.toString, t, st)
        }
        if (vals.forall(_.isDefined)) Some(vals.flatten.toVector -> pf) else None
      }
      // any file whose bucket dir cannot be parsed (shouldn't exist on
      // a clean version) disables SPJ wholesale — never mis-group
      val grouped: Seq[(Vector[Any], Seq[PartitionedFile])] =
        if (maybe.exists(_.isEmpty)) Nil
        else maybe.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      if (grouped.isEmpty) None
      else {
        var idx = -1
        val parts = grouped.sortBy(_._1.toString).flatMap { case (key, files) =>
          val keyRow: InternalRow = new GenericInternalRow(key.toArray[Any])
          FilePartition.getFilePartitions(spark, files, maxSplit).map { fp =>
            idx += 1
            new KeyedFilePartition(idx, fp.files, keyRow)
          }
        }.toArray[InputPartition]
        Some((parts, grouped.size))
      }
    }

  /** Both gates: the engine's own escape hatch AND Spark's v2-bucketing
    * conf — with SPJ off the plan (bin-packing included) is
    * byte-identical to the bare delegate's.
    */
  private def spjOn: Boolean = GraftScans.spjEnabled(delegate.sparkSession) &&
    delegate.sparkSession.sessionState.conf.v2BucketingEnabled

  override def planInputPartitions(): Array[InputPartition] =
    if (spjOn) keyedPartitions.map(_._1).getOrElse(current.planInputPartitions())
    else current.planInputPartitions()

  override def outputPartitioning(): Partitioning =
    (if (spjOn) keyedPartitions else None) match {
      case Some((_, nGroups)) =>
        import graft.ops.Transforms.{Bucket, Day, Hour, Month, Truncate, Year}
        // reported keys must resolve against the PLAN's output — under
        // a column mapping the grid dir names carry physical sources,
        // so alias each reported name back to logical (round-16)
        def lg(n: String): String = p2l.getOrElse(n.toLowerCase, n)
        val keys = spjKeys.get.map[org.apache.spark.sql.connector.expressions.Expression] {
          case Left((f, _)) => Expressions.identity(lg(f.name))
          case Right((b: Bucket, _)) => Expressions.bucket(b.n, lg(b.src))
          case Right((d: Day, _)) => Expressions.days(lg(d.src))
          case Right((m: Month, _)) => Expressions.months(lg(m.src))
          case Right((y: Year, _)) => Expressions.years(lg(y.src))
          case Right((h: Hour, _)) => Expressions.hours(lg(h.src))
          // width rides the NAME: Spark's SPJ accepts only unary
          // transforms (bucket's literal is special-cased), so a
          // two-arg truncate could never drive a shuffle-free join
          case Right((t: Truncate, _)) => Expressions.apply(
            s"truncate_${t.n}", Expressions.column(lg(t.src)))
        }.toArray
        new KeyGroupedPartitioning(keys, nGroups)
      case None => new UnknownPartitioning(0)
    }
}

/** A [[FilePartition]] that knows its partition value — what lets
  * Spark's key-grouped distribution line the two sides of a join up
  * without an Exchange. The delegate's [[PartitionReaderFactory]] reads
  * it as a plain file partition.
  */
private[graft] final class KeyedFilePartition(index0: Int,
    files0: Array[PartitionedFile], key: InternalRow)
  extends FilePartition(index0, files0) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Plan-time exact statistics from the `_stats` sidecar (B185).
  *
  * Serving rules mirror the metadata tier's ([[graft.plans
  * .MetaCountRewrite]]) honesty contract, relaxed where an ESTIMATE —
  * not an answer — is produced: widened bounds (ns-floored timestamps)
  * are acceptable CBO ranges, but a live file without a sidecar row
  * declines row counts wholesale (the delegate's size heuristic serves
  * instead), and sketch-less value-bearing files decline distinct
  * counts. Declines return None — this layer NEVER throws into query
  * planning.
  */
private[graft] object CboStats {

  def statsFor(scan: ParquetScan, tRoot: String,
      dir: String): Option[Statistics] = try {
    // hidden-partitioned versions (bucket AND range grids, round-15)
    // ride the v2 path: their sidecar keys carry the `_tp_*=v/` dir
    // prefix like any partitioned layout, so the stats serve unchanged
    if (Dv.exists(dir) || EqDel.exists(dir) || ColMap.exists(dir) ||
        Sinks.hasLayoutLegs(dir)) return None
    if (!Files.isDirectory(Paths.get(dir, Stats.Sidecar))) return None
    val side = Stats.sidecarRows(scan.sparkSession, dir)
    // the delegate's own pushed partition filters select the files a
    // pruned scan actually reads — the reported rows follow the pruning
    val normDir = Paths.get(dir).toAbsolutePath.normalize.toString
    val selected = scan.fileIndex.listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(f =>
        f.getPath.toUri.getPath.stripPrefix(normDir).stripPrefix("/")))
    if (!selected.forall(side.byFile.contains)) return None // uncovered live file
    val totalRows = selected.map(f => side.byFile(f).head.rows).sum
    val rowWidth = 8L + scan.readSchema().map(_.dataType.defaultSize.toLong).sum
    val totalBytes = math.max(totalRows * rowWidth, 1L)
    val colStats = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val partCols = scan.readPartitionSchema.fieldNames.map(_.toLowerCase).toSet
    scan.readSchema().fields.foreach { f =>
      if (!partCols.contains(f.name.toLowerCase)) {
        val rs = selected.map(fl => side.byFileCol.get((fl, f.name.toLowerCase)))
        if (rs.forall(_.isDefined)) {
          val cols = rs.flatten
          columnStat(f, cols).foreach(s =>
            colStats.put(Expressions.column(f.name), s))
        }
      }
    }
    Some(new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(totalBytes)
      override def numRows(): OptionalLong = OptionalLong.of(totalRows)
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] =
        colStats
    })
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-column stats in the column's CATALYST-INTERNAL value domain —
    * `FilterEstimation` compares these against literals with typed
    * arithmetic, so an Int column must carry Int bounds, a timestamp its
    * epoch micros. Domains without a safe mapping (strings, decimals,
    * exotic types) serve null/distinct counts only.
    */
  private def columnStat(f: StructField,
      cols: Seq[FileColStat]): Option[ColumnStatistics] = {
    val nullTotal = cols.map(_.nulls).sum
    val bearing = cols.filter(c => c.rows > c.nulls)
    def box[T](lo: Seq[T], hi: Seq[T], toInternal: T => Any)(
        implicit ord: Ordering[T]): (Optional[Object], Optional[Object]) =
      if (lo.size != bearing.size || hi.size != bearing.size)
        (Optional.empty(), Optional.empty())
      else (Optional.of(toInternal(lo.min).asInstanceOf[Object]),
        Optional.of(toInternal(hi.max).asInstanceOf[Object]))
    val usable = bearing.forall(_.has_stats)
    val (minV, maxV): (Optional[Object], Optional[Object]) =
      if (bearing.isEmpty || !usable) (Optional.empty(), Optional.empty())
      else f.dataType match {
        // dec_scale marks int-backed DECIMAL bounds riding lo_l UNSCALED
        // — not this column's domain unless the type converts exactly
        case ByteType if cols.forall(_.dec_scale.isEmpty) =>
          box[Long](bearing.flatMap(_.lo_l), bearing.flatMap(_.hi_l), v => v.toByte)
        case ShortType if cols.forall(_.dec_scale.isEmpty) =>
          box[Long](bearing.flatMap(_.lo_l), bearing.flatMap(_.hi_l), v => v.toShort)
        case IntegerType if cols.forall(_.dec_scale.isEmpty) =>
          box[Long](bearing.flatMap(_.lo_l), bearing.flatMap(_.hi_l), v => v.toInt)
        case LongType if cols.forall(_.dec_scale.isEmpty) =>
          box[Long](bearing.flatMap(_.lo_l), bearing.flatMap(_.hi_l), identity[Long])
        case DateType if cols.forall(_.dec_scale.isEmpty) =>
          box[Long](bearing.flatMap(_.lo_l), bearing.flatMap(_.hi_l), v => v.toInt)
        case FloatType =>
          box[Double](bearing.flatMap(_.lo_d), bearing.flatMap(_.hi_d), v => v.toFloat)
        case DoubleType =>
          box[Double](bearing.flatMap(_.lo_d), bearing.flatMap(_.hi_d), identity[Double])
        case TimestampType | TimestampNTZType =>
          box[Long](bearing.flatMap(_.lo_t), bearing.flatMap(_.hi_t), identity[Long])
        case _ => (Optional.empty(), Optional.empty())
      }
    val distinct: OptionalLong =
      if (bearing.isEmpty) OptionalLong.of(0L)
      else if (bearing.forall(_.hll.isDefined)) {
        val u = new org.apache.datasketches.hll.Union(12)
        bearing.foreach(c => u.update(org.apache.datasketches.hll.HllSketch
          .heapify(org.apache.datasketches.memory.Memory.wrap(c.hll.get))))
        OptionalLong.of(Math.round(u.getEstimate))
      } else OptionalLong.empty()
    val hist: Optional[Histogram] = mergedHistogram(f, bearing, distinct)
    Some(new ColumnStatistics {
      override def distinctCount(): OptionalLong = distinct
      override def min(): Optional[Object] = minV
      override def max(): Optional[Object] = maxV
      override def nullCount(): OptionalLong = OptionalLong.of(nullTotal)
      override def avgLen(): OptionalLong = OptionalLong.empty()
      override def maxLen(): OptionalLong = OptionalLong.empty()
      override def histogram(): Optional[Histogram] = hist
    })
  }

  /** Merge the per-file equi-height quantile boundaries (round-16
    * `graft.histogram.columns`) into ONE table-level equi-height
    * histogram. Each file's boundaries define a piecewise-linear CDF
    * weighted by its non-null row count; the global CDF is their sum,
    * inverted at the [[Stats.HistBins]]+1 target quantiles. Exactly the
    * textbook sketch-merge for equi-height histograms — approximate,
    * but the skew signal (a heavy value collapsing several bins to a
    * point, served with ndv 1) survives the merge, which is what flips
    * FilterEstimation from the rows/ndv uniform guess. Numeric family
    * only (the annotator records nothing for other types); declines
    * (empty) unless EVERY value-bearing file carries boundaries.
    */
  private def mergedHistogram(f: StructField, bearing: Seq[FileColStat],
      distinct: OptionalLong): Optional[Histogram] = {
    val numeric = f.dataType match {
      case ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType => true
      // datetime family (round-16): boundaries recorded as the
      // catalyst-internal epoch days/micros — the same double domain
      // EstimationUtils.toDouble puts date/timestamp literals in
      case DateType | TimestampType => true
      case _ => false
    }
    if (!numeric || bearing.isEmpty || !bearing.forall(_.hist.isDefined))
      return Optional.empty()
    val parts = bearing.map(c => (c.hist.get, (c.rows - c.nulls).toDouble))
      .filter { case (bs, w) => bs.size >= 2 && w > 0 }
    if (parts.isEmpty) return Optional.empty()
    val totalW = parts.map(_._2).sum
    // weighted CDF count at x: piecewise-linear inside each file's
    // boundary list, step on repeated boundaries (heavy values)
    def countAt(x: Double): Double = parts.map { case (bs, w) =>
      val n = bs.size - 1
      if (x < bs.head) 0.0
      else if (x >= bs.last) w
      else {
        var i = 0
        // the HIGHEST segment whose lower boundary is <= x — repeated
        // boundaries (a value plateau) then contribute their full mass
        while (i + 1 < n && bs(i + 1) <= x) i += 1
        val (lo, hi) = (bs(i), bs(i + 1))
        val frac = if (hi <= lo) 1.0 else (x - lo) / (hi - lo)
        w * (i + math.min(1.0, math.max(0.0, frac))) / n
      }
    }.sum
    val candidates = parts.flatMap(_._1).distinct.sorted.toIndexedSeq
    val counts = candidates.map(countAt)
    val nBins = graft.ops.Stats.HistBins
    // invert: boundary j at target count j * totalW / nBins, linear
    // interpolation between bracketing candidates
    val bounds = (0 to nBins).map { j =>
      val target = totalW * j / nBins
      if (target <= counts.head) candidates.head
      else if (target >= counts.last) candidates.last
      else {
        val k = counts.lastIndexWhere(_ <= target)
        val (c0, c1) = (counts(k), counts(math.min(k + 1, counts.size - 1)))
        val (x0, x1) = (candidates(k), candidates(math.min(k + 1, candidates.size - 1)))
        if (c1 <= c0) x0 else x0 + (x1 - x0) * (target - c0) / (c1 - c0)
      }
    }
    val totalNdv = if (distinct.isPresent) distinct.getAsLong else 0L
    val spreadBins = (0 until nBins).count(j => bounds(j + 1) > bounds(j))
    val binNdv = (j: Int) =>
      if (bounds(j + 1) <= bounds(j)) 1L // point bin: one heavy value
      else if (totalNdv > 0L) math.max(1L, totalNdv / math.max(spreadBins, 1))
      else math.max(1L, (totalW / nBins).toLong)
    val binArr: Array[HistogramBin] = (0 until nBins).map { j =>
      new HistogramBin {
        override def lo(): Double = bounds(j)
        override def hi(): Double = bounds(j + 1)
        override def ndv(): Long = binNdv(j)
      }: HistogramBin
    }.toArray
    Optional.of(new Histogram {
      override def height(): Double = totalW / nBins
      override def bins(): Array[HistogramBin] = binArr
    })
  }
}
