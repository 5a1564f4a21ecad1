package graft.catalog

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import graft.ops.{ColMap, Dv, EqDel, Roaring, Sinks, VersionMemo}

/** Storage-partitioned joins UNDER merge-on-read sidecars (round-15,
  * the r14 verdict's top item): before this, one MOR DELETE (deletion
  * vector) or blind upsert (equality delete) on a co-partitioned /
  * co-bucketed fact table disqualified SPJ wholesale — the relation
  * swapped to the v1 reconciliation funnel and every subsequent
  * fact-fact join paid the full shuffle until a compaction. But both
  * reconciliations are PARTITION-LOCAL:
  *
  *  - a deletion vector subtracts rows by `(file, row position)` —
  *    rows never move between partitions, so filtering each file's
  *    rows in place preserves [[org.apache.spark.sql.connector.read
  *    .partitioning.KeyGroupedPartitioning]] exactly;
  *  - an equality delete hides a row iff some tombstone with a LATER
  *    sequence than the row's file carries its key — again a per-row
  *    predicate given the file's sequence stamp.
  *
  * So for versions whose ONLY sidecars are `_dv`/`_eqdel` (no column
  * mapping, no layout legs) over an SPJ-capable layout (identity
  * and/or hidden `bucket()` partition columns), [[graft.plans
  * .DvReadRule]] leaves the v2 relation in place and the scan wrapper
  * applies the subtraction INSIDE its readers:
  *
  *  1. [[GraftScanBuilder.build]] appends the parquet reader's
  *     reserved row-index field (`ParquetFileFormat
  *     .ROW_INDEX_TEMPORARY_COLUMN_NAME`) — and any eq-delete key
  *     column the query didn't project — to the delegate's
  *     `readDataSchema`. Both v2 reader paths (vectorized and
  *     parquet-mr) populate that field with the row's FILE-ABSOLUTE
  *     index, split- and row-group-skip-aware — the same machinery
  *     that serves `_metadata.row_index` on the v1 path.
  *  2. [[GraftScan.readSchema]] hides the injected fields again, so
  *     the plan above sees the requested columns only.
  *  3. [[MorSubtractReaderFactory]] wraps the delegate's reader
  *     factory: per file it resolves the roaring-bitmap containers
  *     and the file's sequence stamp, then filters rows by bitmap
  *     probe / tombstone lookup and projects the injected fields
  *     away. Zero joins, zero Exchanges — the file groups (and their
  *     [[HasPartitionKey]] tags) pass through untouched.
  *
  * The decision is STRUCTURAL and memoized per immutable version dir
  * ([[readerSide]]) so the rule and the builder can never disagree —
  * a disagreement would double-subtract (harmless) or skip the
  * subtraction (corruption), so both consult this one predicate.
  * Non-SPJ layouts keep the v1 funnel: its vectorized probe filter is
  * the better plan when there is no shuffle to save.
  */
private[graft] object MorSpj {

  /** The parquet readers' reserved generated-row-index column name. */
  private[graft] val RowIdxName: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  // NULLABLE: the column is absent from the files (the reader's
  // generator fills it), and the vectorized reader refuses a missing
  // REQUIRED column before the generator is consulted
  private[graft] val RowIdxField: StructField =
    StructField(RowIdxName, LongType, nullable = true)

  private val SeqCol = "__gf_seq"

  /** Driver-collected probe budgets (compressed sidecar bytes, file-size
    * proxy). Deliberately CONSTANT, not conf-driven: the predicate must
    * be deterministic across the rule and the builder — a conf flip
    * between the two would skip the subtraction entirely. Past the
    * budget the funnel's distributed plan is the honest cost anyway.
    */
  private val MaxDvBytes = 256L * 1024 * 1024
  private val MaxEqBytes = 64L * 1024 * 1024

  /** Eq-delete key domains with exact internal-value equality (boxed
    * equals == SQL equality). Float/double (-0.0 vs 0.0), binary
    * (array equality) and nested types fall back to the funnel's join.
    */
  private def eqKeyType(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
        LongType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def sidecarBytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else graft.io.Fs.listDir(dir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  private val verdicts = new VersionMemo[Boolean](512)

  /** The MOR sidecars of version `dir`: their stamps key both memos. */
  private def morSidecars(dir: String): Seq[String] =
    Seq(Dv.Sidecar, EqDel.Sidecar, EqDel.SeqSidecar).map(s => s"$dir/$s")

  /** True iff version `dir` of table `root` takes the reader-side MOR
    * subtraction path (v2 scan kept, SPJ preserved) instead of the v1
    * funnel swap. MUST be the single source of truth for both
    * [[graft.plans.DvReadRule]] and [[GraftScanBuilder]].
    */
  def readerSide(root: String, dir: String): Boolean =
    verdicts(SparkSession.active,
        morSidecars(dir) :+ s"$dir/${ColMap.MarkerFile}", root) {
      try compute(root, dir)
      catch { case scala.util.control.NonFatal(_) => false }
    }

  private def compute(root: String, dir: String): Boolean = {
    val hasDv = Dv.exists(dir)
    val hasEq = EqDel.exists(dir)
    val hasMap = ColMap.exists(dir)
    if (!hasDv && !hasEq && !hasMap) return false
    if (Sinks.hasLayoutLegs(dir)) return false
    // Round-16 (SPJ through column mapping): RENAME/DROP markers are
    // pure per-file NAME aliasing — the scan builder prunes/pushes in
    // physical names and the scan re-aliases its read schema to
    // logical, partition-locally, so a rename no longer drops a
    // co-located join back to the full shuffle until compaction.
    // Metadata-only ADDs and WIDENs stay on the funnel (they change
    // the value/type surface, not just names). Eq-deletes COMPOSE with
    // a rename/drop mapping: the tombstone sidecar stores PHYSICAL key
    // names (the write funnel translates like the data), which is the
    // name space the reader-side delegate scans.
    if (hasMap &&
        (ColMap.added(dir).nonEmpty || ColMap.widened(dir).nonEmpty))
      return false
    // stored sidecar keys are URI-encoded file subpaths — the per-file
    // prefix strip needs a URI-transparent dir (same contract as the
    // funnel's relKey)
    if ((hasDv || hasEq) && !Dv.safeDir(dir)) return false
    // SPJ-capable layout: any partitioned layout (identity and/or
    // transform grids — round-15 serves range transforms on the v2
    // path too). Unpartitioned tables keep the funnel: no shuffle to
    // save, and its vectorized probe filter is the better plan.
    val spjCapable = Sinks.partitionSchemaFor(root, dir).exists(_.nonEmpty)
    if (!spjCapable) return false
    if (hasDv && sidecarBytes(Paths.get(dir, Dv.Sidecar)) > MaxDvBytes)
      return false
    if (!hasDv && !hasEq) return true // pure rename/drop mapping
    val spark = SparkSession.active
    val tableSchema = Sinks.readSchemaFor(spark, root, dir)
      .getOrElse(spark.read.parquet(dir).schema)
    // a user column shadowing the reserved generated-index name would
    // make the injection ambiguous — vanishingly unlikely, cheap guard
    if (hasDv && tableSchema.fieldNames.exists(_.equalsIgnoreCase(RowIdxName)))
      return false
    if (hasEq) {
      if (sidecarBytes(Paths.get(dir, EqDel.Sidecar)) > MaxEqBytes ||
          sidecarBytes(Paths.get(dir, EqDel.SeqSidecar)) > MaxDvBytes)
        return false
      val delSchema = spark.read.parquet(s"$dir/${EqDel.Sidecar}").schema
      val keys = delSchema.filterNot(_.name == SeqCol)
      if (keys.isEmpty) return false
      // round-16: a key that IS a partition column no longer funnels —
      // [[augment]] sources unprojected partition keys from the scan's
      // readPartitionSchema (the reader appends the per-file directory
      // value to every row), so the type gate below is the only
      // requirement; readSchemaFor's schema includes partition columns
      // at their DECLARED types, which is what the directory values
      // parse to
      // exact-type match against the table column: the reader-side
      // lookup compares INTERNAL values with no implicit cast. Both the
      // sidecar keys and tableSchema (readSchemaFor pins the footer
      // schema) speak PHYSICAL names, so the lookup is direct — but a
      // sidecar predating the physical-name write discipline can carry
      // a since-renamed LOGICAL name (toPhysicalName maps it elsewhere):
      // such versions keep the funnel, whose drift check is the loud
      // backstop (remedy: compact).
      keys.forall { k =>
        eqKeyType(k.dataType) &&
          ColMap.toPhysicalName(dir, k.name).equalsIgnoreCase(k.name) &&
          tableSchema.find(_.name.equalsIgnoreCase(k.name))
            .exists(_.dataType == k.dataType)
      }
    } else true
  }

  /** Append the working fields the reader-side subtraction needs to the
    * delegate scan's `readDataSchema`: the reserved row-index field
    * (when a deletion vector exists) and any eq-delete key column the
    * query didn't project. Returns the augmented scan plus the injected
    * field names (to hide again in [[GraftScan.readSchema]]).
    */
  private[graft] def augment(scan: ParquetScan, dir: String): (ParquetScan, Seq[String]) = {
    val spark = scan.sparkSession
    var data = scan.readDataSchema
    val injected = Seq.newBuilder[String]
    if (Dv.exists(dir)) {
      data = data.add(RowIdxField)
      injected += RowIdxName
    }
    var part = scan.readPartitionSchema
    if (EqDel.exists(dir)) {
      val present = (data.fieldNames ++ part.fieldNames)
        .map(_.toLowerCase).toSet
      EqDel.keyColumns(spark, dir).foreach { k =>
        if (!present(k.toLowerCase)) {
          scan.dataSchema.find(_.name.equalsIgnoreCase(k)) match {
            case Some(f) =>
              data = data.add(f)
              injected += f.name
            case None =>
              // round-16: a key that IS a partition column lives in
              // directory values — inject it into the PARTITION read
              // schema instead (the file reader appends the per-file
              // value to every row, exactly what the lookup needs)
              val pf = scan.fileIndex.partitionSchema
                .find(_.name.equalsIgnoreCase(k)).getOrElse(
                  throw new IllegalStateException(
                    s"equality-delete key column $k absent from $dir's " +
                      "data and partition schemas"))
              part = part.add(pf)
              injected += pf.name
          }
        }
      }
    }
    (scan.copy(readDataSchema = data, readPartitionSchema = part),
      injected.result())
  }

  /** Schema-independent cached half of the subtraction payload: decoded
    * bitmap entries, tombstone key tuples by key NAME, file sequence
    * stamps. Key ordinals/types re-resolve per query projection.
    */
  private final case class SideCache(dv: Array[(String, Array[Byte])],
      eqKeys: Seq[String], maxSeq: Map[Vector[Any], Long],
      fileSeq: Map[String, Long])

  // Small cap: budgets allow a 256 MB bitmap payload, so keep few
  // entries rather than many.
  private val sideMemo = new VersionMemo[SideCache](8)

  private def sidecars(spark: SparkSession, dir: String): SideCache =
    sideMemo(spark, morSidecars(dir)) {
      val dvEntries = Dv.bitmapEntries(spark, dir)
      val (eqKeys, maxSeq, fileSeq) =
        if (!EqDel.exists(dir)) (Nil, Map.empty[Vector[Any], Long], Map.empty[String, Long])
        else {
          import org.apache.spark.sql.functions.{col, max}
          val dels = spark.read.parquet(s"$dir/${EqDel.Sidecar}")
          val keys = dels.columns.filterNot(_ == SeqCol).toSeq
          val converters = dels.schema.filter(f => keys.contains(f.name)).map { f =>
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToCatalystConverter(f.dataType)
          }
          val ms: Map[Vector[Any], Long] = dels
            .groupBy(keys.map(col): _*)
            .agg(max(col(SeqCol)).as(SeqCol))
            .collect()
            .flatMap { r =>
              val vals = keys.indices.map(i =>
                if (r.isNullAt(i)) null else converters(i)(r.get(i)))
              // null-keyed tombstones never match (writer contract: non-null)
              if (vals.contains(null)) None
              else Some(vals.toVector -> r.getLong(keys.length))
            }.toMap
          val seqDir = Paths.get(dir, EqDel.SeqSidecar)
          val fs: Map[String, Long] =
            if (!Files.isDirectory(seqDir)) Map.empty
            else spark.read.parquet(seqDir.toString)
              .groupBy(col("file")).agg(max(col("seq")).as("seq"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          (keys, ms, fs)
        }
      SideCache(dvEntries, eqKeys, maxSeq, fileSeq)
    }

  /** Build the wrapping reader factory for the (already augmented)
    * current scan. Driver-side: collects the metadata-scale sidecars
    * (bitmaps, tombstone keys, file sequence stamps) under the
    * [[readerSide]] byte budgets — memoized per immutable version dir.
    */
  private[graft] def factory(current: ParquetScan, dir: String,
      injected: Seq[String]): PartitionReaderFactory = {
    val spark = current.sparkSession
    val full = current.readSchema().fields
    val injectedLower = injected.map(_.toLowerCase).toSet
    val outputOrdinals = full.indices
      .filter(i => !injectedLower(full(i).name.toLowerCase)).toArray
    val rowIdxOrdinal = full.indexWhere(_.name == RowIdxName)
    val side = sidecars(spark, dir)
    val eq: Option[MorEqPayload] =
      if (!EqDel.exists(dir)) None
      else {
        val keyOrdinals = side.eqKeys.map(k =>
          full.indexWhere(_.name.equalsIgnoreCase(k))).toArray
        require(keyOrdinals.forall(_ >= 0),
          s"eq-delete key columns ${side.eqKeys.mkString(",")} not all " +
            s"present in the augmented read schema of $dir")
        val keyTypes = keyOrdinals.map(full(_).dataType)
        Some(MorEqPayload(keyOrdinals, keyTypes, side.maxSeq, side.fileSeq))
      }
    new MorSubtractReaderFactory(current.createReaderFactory(),
      s"$dir/", side.dv, eq, full.map(_.dataType), full.map(_.nullable),
      outputOrdinals, rowIdxOrdinal)
  }
}

/** Eq-delete payload shipped to executors: key ordinals/types in the
  * augmented full row, tombstone key tuples (internal values) at their
  * max sequence, and the per-file sequence stamps (absent = −1, older
  * than every tombstone).
  */
private[graft] final case class MorEqPayload(
    keyOrdinals: Array[Int], keyTypes: Array[DataType],
    maxSeq: Map[Vector[Any], Long], fileSeq: Map[String, Long])
  extends Serializable

/** Wraps the delegate's reader factory with per-file MOR subtraction.
  * Creates one delegate reader per file chunk (so file identity is
  * known without `_metadata`), resolves that file's bitmap containers
  * and sequence stamp once, filters rows, and projects the injected
  * working columns away.
  *
  * Round-16: the wrapper keeps the delegate's COLUMNAR reads. When the
  * delegate serves ColumnarBatches (the vectorized parquet path), each
  * batch is filtered by a selection MAPPING — an `Int` array of the
  * surviving positions — and the output batch re-exposes the projected
  * columns through [[MorFilterVector]]s that redirect every accessor
  * via that mapping (the Iceberg/Delta DV-reader design: filter inside
  * the batch, zero row materialization). A batch with no hits passes
  * the delegate's own vectors through untouched (minus the injected
  * working columns), so a mostly-clean table pays ~an int-array scan
  * per batch, not a columnar→row downgrade. The parquet-mr path keeps
  * the row-at-a-time subtraction below.
  */
private[graft] final class MorSubtractReaderFactory(
    inner: PartitionReaderFactory,
    prefix: String,
    dvEntries: Array[(String, Array[Byte])],
    eqDel: Option[MorEqPayload],
    fullTypes: Array[DataType],
    fullNullable: Array[Boolean],
    outputOrdinals: Array[Int],
    rowIdxOrdinal: Int)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition)

  /** Container-cached DV probe: row indexes arrive in ascending runs
    * (the readers' generated index), so consecutive probes share the
    * same high-16-bit container — caching it removes the per-row
    * TreeMap lookup (boxed-key get) that dominated the subtraction at
    * scale. Caches the ABSENT case too (the common one on a
    * mostly-clean file).
    */
  private final class DvProbe(
      containers: java.util.TreeMap[Long, Roaring.Container]) {
    private var high = -1L
    private var cont: Roaring.Container = null
    def deleted(pos: Long): Boolean = {
      if (pos < 0) return false
      val h = pos >>> 16
      if (h != high) { high = h; cont = containers.get(h) }
      cont != null && Roaring.containerContains(cont, (pos & 0xFFFF).toInt)
    }
  }

  private lazy val dvByFile: java.util.HashMap[String, Array[Byte]] = {
    val m = new java.util.HashMap[String, Array[Byte]](dvEntries.length * 2 + 1)
    dvEntries.foreach { case (f, b) => m.put(f, b) }
    m
  }

  /** Per-file subtraction state: the file's decoded bitmap containers
    * (null = no DV) and its eq-delete sequence stamp.
    */
  private def fileState(pf: org.apache.spark.sql.execution.datasources.PartitionedFile)
      : (java.util.TreeMap[Long, Roaring.Container], Long) = {
    val path = pf.filePath.toString
    // fail LOUDLY on a mismatch — silently skipping the lookup would
    // resurrect deleted rows. SparkPath spells the scheme "file:///x";
    // `_metadata.file_path` (the stored-key side) spells it "file:/x"
    // — locate the dir itself, not the scheme prefix (dir is
    // URI-transparent per readerSide)
    val i = path.indexOf(prefix)
    require(i >= 0, s"MOR reader: file $path outside version dir $prefix")
    val rel = path.substring(i + prefix.length)
    val bytes = if (dvEntries.isEmpty) null else dvByFile.get(rel)
    val containers = if (bytes == null) null else Roaring.readContainers(bytes)
    val fseq = eqDel.map(_.fileSeq.getOrElse(rel, -1L)).getOrElse(-1L)
    (containers, fseq)
  }

  /** True iff a live tombstone (sequence AFTER the row's file stamp)
    * carries this row's key. `r` may be any InternalRow view — the row
    * path's batch-backed row or the columnar path's ColumnarBatchRow.
    */
  private def eqDeleted(r: InternalRow, curFseq: Long): Boolean = {
    if (eqDel.isEmpty) return false
    val p = eqDel.get
    var i = 0
    val n = p.keyOrdinals.length
    val key = new Array[Any](n)
    while (i < n) {
      val ord = p.keyOrdinals(i)
      if (r.isNullAt(ord)) return false // null keys never match
      key(i) = r.get(ord, p.keyTypes(i))
      i += 1
    }
    p.maxSeq.get(key.toVector).exists(_ > curFseq)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val fp = partition.asInstanceOf[FilePartition]
    new PartitionReader[InternalRow] {
      private val files = fp.files
      private lazy val project: UnsafeProjection = UnsafeProjection.create(
        outputOrdinals.toIndexedSeq.map(i =>
          BoundReference(i, fullTypes(i), fullNullable(i))))

      private var idx = 0
      private var cur: PartitionReader[InternalRow] = null
      private var curProbe: DvProbe = null
      private var curFseq = -1L
      private var ready: InternalRow = null

      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (idx >= files.length) return false
            val pf = files(idx); idx += 1
            val st = fileState(pf)
            curProbe = if (st._1 == null) null else new DvProbe(st._1)
            curFseq = st._2
            cur = inner.createReader(FilePartition(0, Array(pf)))
          } else if (cur.next()) {
            val r = cur.get()
            val dvDel = curProbe != null &&
              curProbe.deleted(r.getLong(rowIdxOrdinal))
            if (!dvDel && !eqDeleted(r, curFseq)) {
              ready = project(r)
              return true
            }
          } else {
            cur.close(); cur = null
          }
        }
        false // unreachable
      }

      override def get(): InternalRow = ready
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val fp = partition.asInstanceOf[FilePartition]
    new PartitionReader[ColumnarBatch] {
      private val files = fp.files
      private var idx = 0
      private var cur: PartitionReader[ColumnarBatch] = null
      private var curProbe: DvProbe = null
      private var curFseq = -1L
      private var ready: ColumnarBatch = null
      // mapping scratch, grown to the largest batch seen
      private var mapping: Array[Int] = new Array[Int](0)

      /** Filter one delegate batch. Returns null when every row died. */
      private def subtract(batch: ColumnarBatch): ColumnarBatch = {
        val n = batch.numRows()
        val dvVec = if (curProbe == null) null else batch.column(rowIdxOrdinal)
        if (mapping.length < n) mapping = new Array[Int](n)
        var live = 0
        var r = 0
        val checkEq = eqDel.isDefined
        while (r < n) {
          val dvDel = dvVec != null && curProbe.deleted(dvVec.getLong(r))
          if (!dvDel && !(checkEq && eqDeleted(batch.getRow(r), curFseq))) {
            mapping(live) = r
            live += 1
          }
          r += 1
        }
        if (live == 0) return null
        val cols: Array[ColumnVector] =
          if (live == n) outputOrdinals.map(batch.column)
          else {
            val m = java.util.Arrays.copyOf(mapping, live)
            outputOrdinals.map(i => new MorFilterVector(batch.column(i), m)
              : ColumnVector)
          }
        new ColumnarBatch(cols, live)
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (idx >= files.length) return false
            val pf = files(idx); idx += 1
            val st = fileState(pf)
            curProbe = if (st._1 == null) null else new DvProbe(st._1)
            curFseq = st._2
            cur = inner.createColumnarReader(FilePartition(0, Array(pf)))
          } else if (cur.next()) {
            val out = subtract(cur.get())
            if (out != null) { ready = out; return true }
          } else {
            cur.close(); cur = null
          }
        }
        false // unreachable
      }

      override def get(): ColumnarBatch = ready
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }
}

/** A [[ColumnVector]] view that redirects every accessor through a
  * selection mapping (`mapping(i)` = the delegate position of output
  * row `i`). Struct children wrap recursively with the SAME mapping
  * (a ColumnarRow reads fields via `getChild(f).get*(rowId)`);
  * array/map payloads need no wrapping because `getArray`/`getMap`
  * return the DELEGATE's offsets into the delegate's own child
  * vectors. The delegate's lifecycle stays with the delegate reader —
  * `close()` is a no-op so the shared underlying buffers are never
  * double-freed.
  */
private[graft] final class MorFilterVector(
    delegate: ColumnVector, mapping: Array[Int])
  extends ColumnVector(delegate.dataType()) {

  override def close(): Unit = ()
  // over-approximation is SAFE (consumers only fast-path when false),
  // and exact counting would cost a full scan per accessor call
  override def hasNull: Boolean = delegate.hasNull
  override def numNulls: Int = delegate.numNulls
  override def isNullAt(rowId: Int): Boolean = delegate.isNullAt(mapping(rowId))
  override def getBoolean(rowId: Int): Boolean = delegate.getBoolean(mapping(rowId))
  override def getByte(rowId: Int): Byte = delegate.getByte(mapping(rowId))
  override def getShort(rowId: Int): Short = delegate.getShort(mapping(rowId))
  override def getInt(rowId: Int): Int = delegate.getInt(mapping(rowId))
  override def getLong(rowId: Int): Long = delegate.getLong(mapping(rowId))
  override def getFloat(rowId: Int): Float = delegate.getFloat(mapping(rowId))
  override def getDouble(rowId: Int): Double = delegate.getDouble(mapping(rowId))
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    delegate.getArray(mapping(rowId))
  override def getMap(rowId: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    delegate.getMap(mapping(rowId))
  override def getDecimal(rowId: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    delegate.getDecimal(mapping(rowId), precision, scale)
  override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String =
    delegate.getUTF8String(mapping(rowId))
  override def getBinary(rowId: Int): Array[Byte] = delegate.getBinary(mapping(rowId))
  override def getInterval(rowId: Int): org.apache.spark.unsafe.types.CalendarInterval =
    delegate.getInterval(mapping(rowId))
  override def getChild(ordinal: Int): ColumnVector =
    new MorFilterVector(delegate.getChild(ordinal), mapping)
}
