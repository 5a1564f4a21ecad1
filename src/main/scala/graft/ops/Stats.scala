package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One column's min/max/null summary for one parquet file, normalized to
  * four comparison domains (integer-family → `lo_l/hi_l`, float-family →
  * `lo_d/hi_d`, string → `lo_s/hi_s`, timestamp → `lo_t/hi_t`; exactly
  * one pair is populated when `has_stats`). `rows`/`nulls` let an
  * all-null file be skipped outright.
  *
  * TIMESTAMP domain (round-13): `lo_t/hi_t` are epoch MICROS whatever
  * int64 unit the footer physically stores (ms-written files exist —
  * the fixture's own `timestamp[ms]` era; ns-written files too). The
  * annotator sees each file's `LogicalTypeAnnotation` unit and
  * normalizes AT WRITE TIME — ms scales up exactly, ns floors the min
  * and ceils the max (conservative: the recorded range can only widen)
  * — so the read side never guesses a unit. `t_adj` records the
  * footer's `isAdjustedToUTC`: true = the micros are an instant
  * (Spark's TIMESTAMP), false = a wall-clock reading (TIMESTAMP_NTZ);
  * a bound of the other flavor only compares when the session zone is
  * UTC (where the two coincide) and otherwise keeps the file.
  *
  * STRING domain (round-14): parquet writers may drop binary min/max
  * outright (the 4 KB stats cap) or truncate them — truncation keeps
  * bounds pruning-valid but ANSWERING-invalid, so footer-sourced string
  * bounds could never serve metadata-only min/max. The annotator
  * therefore runs one column-pruned O(annotated files) data pass for
  * string columns and records EXACT per-file bounds with
  * `s_exact = true` (plus exact null counts, so `count(col)` stays
  * trustworthy on files whose footer stats were suppressed). Bounds
  * longer than [[Stats.MaxExactString]] fall back to the footer row —
  * a sidecar must stay metadata-sized. Spark's string min/max compares
  * UTF8String bytes unsigned, the same UTF-8 order as parquet and
  * [[Stats.utf8Compare]], so exact and footer bounds share one domain.
  *
  * SUM domain (round-14): `sum_l` is the file's EXACT sum over an
  * integer-family column (computed from the data as DECIMAL(38,0),
  * recorded only when it fits the scan's own LongType result domain) —
  * parquet footers carry no sums, so this is what lets
  * `sum(col)`/`avg(col)` answer from metadata
  * ([[graft.plans.MetaCountRewrite]]). Absent on a value-bearing file =
  * unknowable (era sidecar or over-wide sum); the serve side declines.
  *
  * `file` is the path RELATIVE to the version directory (= the basename
  * for flat layouts, `col=val/part-….parquet` for partitioned ones): the
  * sidecar is written in the publish staging directory and must stay
  * valid after the commit renames it to v<N>, and a basename alone would
  * COLLIDE across partition directories — one task writing several
  * partitions reuses its part-file name in each.
  */
case class FileColStat(file: String, col: String, rows: Long, nulls: Long,
    has_stats: Boolean,
    lo_l: Option[Long], hi_l: Option[Long],
    lo_d: Option[Double], hi_d: Option[Double],
    lo_s: Option[String], hi_s: Option[String],
    lo_t: Option[Long] = None, hi_t: Option[Long] = None,
    t_adj: Option[Boolean] = None,
    dec_scale: Option[Int] = None,
    t_exact: Option[Boolean] = None,
    s_exact: Option[Boolean] = None,
    sum_l: Option[Long] = None,
    hll: Option[Array[Byte]] = None,
    hist: Option[Seq[Double]] = None)

/** The collected `_stats` rows of one version dir
  * ([[Stats.sidecarRows]]), padded to [[Stats.SidecarLayout]];
  * `columns` is the set the sidecar really carries.
  */
private[graft] final case class SidecarRows(rows: Array[org.apache.spark.sql.Row],
    columns: Set[String]) {
  lazy val byFile: Map[String, Array[org.apache.spark.sql.Row]] =
    rows.groupBy(_.getString(0))
  /** Rows by (file, lower-cased column). */
  lazy val byFileCol: Map[(String, String), org.apache.spark.sql.Row] =
    rows.map(r => (r.getString(0), r.getString(1).toLowerCase) -> r).toMap
}

/** File-level data skipping over parquet tables (the Delta/Iceberg
  * "file statistics" capability): per-file min/max collected from parquet
  * FOOTERS — metadata pages only, never a data scan — into a `_stats`
  * sidecar, consulted by [[Stats.readWhere]] to open only the files whose
  * value range can satisfy a predicate.
  *
  * Why this matters at 100 TB: partition pruning skips directories and
  * row-group stats skip pages *after* a file is opened, but the planner
  * still lists and opens every file in the surviving partitions. File
  * stats close that gap — with a clustered layout ([[Layout.zorder2]] +
  * `repartitionByRange.sortWithinPartitions`) a selective predicate on
  * either clustering dimension opens a small fraction of the files.
  * Collection is distributed (footer reads run on executors), and the
  * sidecar is tiny (one row per file per column).
  *
  * The sidecar lives INSIDE the immutable version directory (leading
  * underscore, so plain `spark.read.parquet(dir)` ignores it) and is
  * written before the commit rename — stats publish atomically with the
  * data ([[Sinks.publishVersioned]]'s `statsCols`).
  */
object Stats {

  val Sidecar = "_stats"

  /** String bounds MUST order by UTF-8 bytes, not Java's UTF-16 code
    * units: parquet binary min/max and Spark's own string comparisons
    * (`UTF8String.compareTo`) are unsigned-byte orders, and the two
    * disagree for supplementary-plane characters (a surrogate pair's
    * first unit 0xD800–0xDBFF sorts BELOW U+E000–U+FFFF in UTF-16 but
    * ABOVE in UTF-8). Comparing bounds in the wrong order can prune a
    * file whose rows match — a silent wrong answer, not a slow one.
    */
  private[graft] def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[graft] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => utf8Compare(a, b)

  /** A timestamp bound, unit-normalized: epoch micros plus whether they
    * are an INSTANT (adjusted-to-UTC, Spark TIMESTAMP) or a WALL-CLOCK
    * reading (TIMESTAMP_NTZ). Public callers pass `java.time.Instant` /
    * `java.sql.Timestamp` / `java.time.LocalDateTime` and get converted
    * ([[Stats.normalizeBound]]); the SQL rule passes this directly from
    * the literal's internal micros.
    */
  private[graft] final case class TsVal(us: Long, instant: Boolean)

  /** Raw footer int64 (min, max) → epoch micros, or None when the
    * conversion cannot be exact-or-wider (ms multiply overflow). ns
    * floors the min and ceils the max — conservative widening.
    */
  private def tsBoundsToMicros(lo: Long, hi: Long,
      unit: org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit)
      : Option[(Long, Long)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit._
    unit match {
      case MICROS => Some((lo, hi))
      case MILLIS =>
        try Some((Math.multiplyExact(lo, 1000L), Math.multiplyExact(hi, 1000L)))
        catch { case _: ArithmeticException => None }
      case NANOS => Some((Math.floorDiv(lo, 1000L), -Math.floorDiv(-hi, 1000L)))
      case _ => None
    }
  }

  /** Epoch micros of public timestamp bound spellings; identity for
    * everything else. An Instant / java.sql.Timestamp is an instant
    * (`instant = true`); a LocalDateTime is a wall-clock reading
    * (NTZ semantics, `instant = false`).
    */
  private[graft] def normalizeBound(v: Any): Any = v match {
    case i: java.time.Instant =>
      TsVal(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        (i.getNano / 1000).toLong), instant = true)
    case t: java.sql.Timestamp => normalizeBound(t.toInstant)
    case l: java.time.LocalDateTime =>
      TsVal(Math.addExact(Math.multiplyExact(
        l.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
        (l.getNano / 1000).toLong), instant = false)
    case d: BigDecimal => d.bigDecimal
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other
  }

  /** A decimal bound rescaled to a file's stored scale and unscaled to
    * the comparable long — rounding FLOOR for a lower bound, CEILING
    * for an upper (the converted bound only widens what it keeps).
    * None when the unscaled value exceeds Long (keep the file).
    */
  private def decUnscaled(d: java.math.BigDecimal, scale: Int,
      roundUp: Boolean): Option[Long] =
    try Some(d.setScale(scale,
      if (roundUp) java.math.RoundingMode.CEILING
      else java.math.RoundingMode.FLOOR).unscaledValue().longValueExact())
    catch { case _: ArithmeticException => None }

  /** Collect footer stats for `cols` over every `*.parquet` file in `dir`
    * and write the `_stats` sidecar. Footer reads are distributed across
    * executors; each emits one [[FileColStat]] row per (file, column).
    * A column a footer carries no usable statistics for (suppressed
    * long-binary min/max, unsupported physical type) is recorded
    * `has_stats = false` and never pruned — missing stats degrade to a
    * full scan, not a wrong answer.
    */
  def annotate(spark: SparkSession, dir: String, cols: Seq[String],
      ndvCols: Seq[String] = Nil, histCols: Seq[String] = Nil): Unit = {
    require(cols.nonEmpty, "annotate requires at least one column")
    // recursive: a partitioned version nests its files under col=val/
    // dirs; sidecars are _-prefixed and excluded by the walk. Each file
    // travels with its dir-relative sidecar key (computed driver-side —
    // executors must not re-derive it from a path they didn't list)
    val files = graft.io.Fs.walkParquet(java.nio.file.Paths.get(dir))
      .map(p => (p.toString, relKey(dir, p.toString))).sorted
    annotatePairs(spark, dir, files, cols, append = false, ndvCols = ndvCols,
      histCols = histCols)
  }

  /** The shared footer pass of [[annotate]], over an EXPLICIT file list
    * — the linked-commit staging funnel uses it with `append = true` to
    * add sidecar rows for ONLY the files missing coverage (the staged
    * delta plus any carried file an earlier version never annotated),
    * so declaring `graft.stats.columns` retrofits old files on the very
    * next commit at one footer read each while staying O(delta)
    * afterwards. Pairs are (absolute path, dir-relative sidecar key).
    */
  private[graft] def annotatePairs(spark: SparkSession, dir: String,
      files: Seq[(String, String)], cols: Seq[String],
      append: Boolean, ndvCols: Seq[String] = Nil,
      histCols: Seq[String] = Nil): Unit = {
    require(cols.nonEmpty, "annotate requires at least one column")
    import spark.implicits._
    if (files.isEmpty) return
    // footers speak PHYSICAL names; callers may pass logical ones
    // under a column mapping (idempotent when unmapped)
    val colSet = cols.map(ColMap.toPhysicalName(dir, _))
    // the session's effective Hadoop conf must travel to the executors
    // (s3a credentials, fs.<scheme>.impl, defaultFS live there — a bare
    // `new Configuration()` only sees classpath defaults); Configuration
    // itself is not serializable, so ship the entries
    val confKV = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => (e.getKey, e.getValue)).toVector
    }
    val stats = spark.createDataset(files)
      .repartition(math.min(files.size, 32).max(1))
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confKV.foreach { case (k, v) => conf.set(k, v) }
        it.flatMap { case (f, key) => footerStats(f, key, colSet, conf) }
      }
    val ndvSet = ndvCols.map(ColMap.toPhysicalName(dir, _))
      .filter(n => colSet.exists(_.equalsIgnoreCase(n)))
    val histSet = histCols.map(ColMap.toPhysicalName(dir, _))
      .filter(n => colSet.exists(_.equalsIgnoreCase(n)))
    val upgraded = exactDataPass(spark, files, colSet, stats, ndvSet, histSet)
    upgraded.coalesce(1).write.mode(if (append) "append" else "overwrite")
      .parquet(s"$dir/$Sidecar")
  }

  /** Exact string bounds stay answering-grade only while they stay
    * metadata-sized; a bound longer than this falls back to the footer
    * row (pruning-grade or keep-always) rather than bloat the sidecar.
    */
  private[graft] val MaxExactString = 4096

  /** Equi-height histogram bin count (round-16 `graft.histogram.columns`)
    * — shared by the annotate pass (bins+1 quantile boundaries per file)
    * and [[graft.catalog.CboStats]]'s merge. 32 matches catalyst's
    * ANALYZE default magnitude: enough buckets to see skew, still
    * metadata-sized (33 doubles per file × column).
    */
  private[graft] val HistBins = 32

  /** Round-14 upgrade of the footer pass — ONE column-pruned scan of
    * exactly the files being annotated (O(delta) in the linked funnels,
    * one column read for a CALL retrofit) computes what footers cannot
    * provide:
    *
    *  - STRING columns: per-file exact min/max and non-null counts,
    *    replacing the footer rows. Footer binary stats may be truncated
    *    (answering-invalid) or dropped entirely (the 4 KB cap); the data
    *    pass makes string columns both reliably pruneable and
    *    metadata-answerable (`s_exact` —
    *    [[graft.plans.MetaCountRewrite]]'s trust bit, the string analog
    *    of `t_exact`). Bounds exceeding [[MaxExactString]] keep the
    *    footer row (a sidecar must stay metadata-sized).
    *  - INTEGER-family columns (round-14 `sum_l`): the per-file exact
    *    SUM, computed as DECIMAL(38,0) so it is exact regardless of
    *    magnitude, recorded when it fits in a Long (else absent — the
    *    serve side declines rather than guess). Parquet footers carry no
    *    sums at all; this is what lets `sum(col)` / `avg(col)` answer
    *    from metadata. A file the pass verifies as all-null becomes
    *    exactly representable (`has_stats` with no bounds) even when the
    *    footer suppressed its stats.
    *
    * Columns of other types and files the pass cannot improve pass
    * through untouched. The per-file aggregate is grouped on the file
    * URI — one shuffle of ≤ files × cols rows, metadata-scale.
    */
  private def exactDataPass(spark: SparkSession,
      files: Seq[(String, String)], colSet: Seq[String],
      stats: org.apache.spark.sql.Dataset[FileColStat],
      ndvCols: Seq[String], histCols: Seq[String])
      : org.apache.spark.sql.Dataset[FileColStat] = {
    import org.apache.spark.sql.types._
    // requested columns present across ALL listed files (a retrofit
    // batch can mix schema eras; mergeSchema reads footers only).
    // Missing-in-some-file columns read as null there and simply
    // contribute no exact value for that file.
    val schema =
      try spark.read.option("mergeSchema", "true")
        .parquet(files.map(_._1): _*).schema
      catch { case _: Exception => return stats }
    def canonical(c: String): Option[StructField] =
      schema.fields.find(_.name.equalsIgnoreCase(c))
    val stringCols = colSet.flatMap(c => canonical(c).collect {
      case f if f.dataType == StringType => (c, f.name) })
    val intCols = colSet.flatMap(c => canonical(c).collect {
      case f if f.dataType == ByteType || f.dataType == ShortType ||
        f.dataType == IntegerType || f.dataType == LongType => (c, f.name) })
    // NDV sketch columns (round-14 'graft.ndv.columns'): per-file
    // Datasketches HLL over the sketchable domain. Integer-family casts
    // to LONG (injective — the sketch describes the same value set and
    // one cast spelling keeps per-file and whole-scan sketches
    // hash-identical); string/binary sketch as-is; date/timestamp
    // (round-16) sketch their zone-free internal images (epoch
    // days/micros — injective); other types record no sketch and the
    // serve side declines.
    val ndvSel: Seq[(String, org.apache.spark.sql.Column)] =
      ndvCols.flatMap(c => canonical(c).collect {
        case f if f.dataType == StringType || f.dataType == BinaryType =>
          (c, col(f.name))
        case f if f.dataType == ByteType || f.dataType == ShortType ||
            f.dataType == IntegerType || f.dataType == LongType =>
          (c, col(f.name).cast(LongType))
        case f if f.dataType == DateType =>
          (c, unix_date(col(f.name)).cast(LongType))
        case f if f.dataType == TimestampType =>
          (c, unix_micros(col(f.name)))
      })
    // CBO histogram columns (round-16 'graft.histogram.columns'):
    // per-file equi-height quantile boundaries ([[HistBins]]+1 values)
    // over the numeric + datetime families, in the DOUBLE of the
    // catalyst-internal value — the domain FilterEstimation's histogram
    // math runs in (EstimationUtils.toDouble: dates as epoch DAYS,
    // timestamps as epoch MICROS). unix_date/unix_micros are zone-free
    // images of exactly those internals; TimestampNTZ is excluded (no
    // zone-free spelling reaches its internal through an expression).
    val histSel: Seq[(String, org.apache.spark.sql.Column)] =
      histCols.flatMap(c => canonical(c).collect {
        case f if f.dataType == ByteType || f.dataType == ShortType ||
            f.dataType == IntegerType || f.dataType == LongType ||
            f.dataType == FloatType || f.dataType == DoubleType =>
          (c, col(f.name).cast(DoubleType))
        case f if f.dataType == DateType =>
          (c, unix_date(col(f.name)).cast(DoubleType))
        case f if f.dataType == TimestampType =>
          (c, unix_micros(col(f.name)).cast(DoubleType))
      })
    if (stringCols.isEmpty && intCols.isEmpty && ndvSel.isEmpty &&
      histSel.isEmpty) return stats
    // one flat per-file aggregate (aliases are positional — column
    // names never leak into identifiers); column pruning keeps the
    // read to exactly the annotated columns
    val aggs: Seq[org.apache.spark.sql.Column] =
      stringCols.zipWithIndex.flatMap { case ((_, f), i) =>
        Seq(min(col(f)).as(s"_gf_slo_$i"), max(col(f)).as(s"_gf_shi_$i"),
          count(col(f)).as(s"_gf_snn_$i")) } ++
      intCols.zipWithIndex.flatMap { case ((_, f), i) =>
        Seq(sum(col(f).cast(DecimalType(38, 0))).as(s"_gf_isum_$i"),
          count(col(f)).as(s"_gf_inn_$i")) } ++
      ndvSel.zipWithIndex.map { case ((_, e), i) =>
        hll_sketch_agg(e).as(s"_gf_hll_$i") } ++
      histSel.zipWithIndex.map { case ((_, e), i) =>
        percentile_approx(e,
          lit((0 to HistBins).map(_.toDouble / HistBins).toArray),
          lit(10000)).as(s"_gf_hist_$i") }
    val perFile = spark.read.option("mergeSchema", "true")
      .parquet(files.map(_._1): _*)
      .groupBy(input_file_name().as("_gf_uri"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // metadata-scale: one row per annotated file
    // input_file_name() is URL-encoded; decode to the absolute path and
    // map onto the dir-relative sidecar key (files is a driver Seq —
    // the batch being annotated — so the lookup map is metadata-scale)
    val keyOf = files.toMap
    def decode(uri: String): String =
      try java.nio.file.Paths.get(new java.net.URI(uri)).toString
      catch { case _: Exception => uri }
    // (sidecar key, requested col) -> per-file exact values
    val sVals = scala.collection.mutable.Map
      .empty[(String, String), (String, String, Long)]
    val iVals = scala.collection.mutable.Map
      .empty[(String, String), (java.math.BigDecimal, Long)]
    val hVals = scala.collection.mutable.Map
      .empty[(String, String), Array[Byte]]
    val qVals = scala.collection.mutable.Map
      .empty[(String, String), Seq[Double]]
    perFile.foreach { row =>
      keyOf.get(decode(row.getString(0))).foreach { key =>
        stringCols.zipWithIndex.foreach { case ((c, _), i) =>
          val nn = row.getAs[Long](s"_gf_snn_$i")
          sVals((key, c.toLowerCase)) =
            (row.getAs[String](s"_gf_slo_$i"), row.getAs[String](s"_gf_shi_$i"), nn)
        }
        intCols.zipWithIndex.foreach { case ((c, _), i) =>
          iVals((key, c.toLowerCase)) =
            (row.getAs[java.math.BigDecimal](s"_gf_isum_$i"),
              row.getAs[Long](s"_gf_inn_$i"))
        }
        ndvSel.zipWithIndex.foreach { case ((c, _), i) =>
          val sk = row.getAs[Array[Byte]](s"_gf_hll_$i")
          if (sk != null) hVals((key, c.toLowerCase)) = sk
        }
        histSel.zipWithIndex.foreach { case ((c, _), i) =>
          val qs = row.getAs[scala.collection.Seq[Double]](s"_gf_hist_$i")
          if (qs != null && qs.nonEmpty) qVals((key, c.toLowerCase)) = qs.toSeq
        }
      }
    }
    // merge driver-side onto the footer rows — stats is files × cols
    // rows, also metadata-scale
    val merged = stats.collect().map { r =>
      val key = (r.file, r.col.toLowerCase)
      val afterS =
        if (!stringCols.exists(_._1.equalsIgnoreCase(r.col))) r
        else sVals.get(key) match {
          case Some((lo, hi, nn)) if nn > 0 &&
              lo.length <= MaxExactString && hi.length <= MaxExactString =>
            r.copy(has_stats = true, nulls = r.rows - nn,
              lo_s = Some(lo), hi_s = Some(hi), s_exact = Some(true))
          case Some((_, _, nn)) if nn > 0 => r // oversized bound: keep footer
          case _ =>
            // no non-null value in this file (or no row at all): all-null
            // is exactly representable (prunes under any bound, min/max
            // answer NULL)
            if (r.has_stats || r.rows == 0)
              r.copy(has_stats = true, nulls = r.rows,
                lo_s = None, hi_s = None, s_exact = Some(true))
            else r // footer unusable AND unverifiable: keep-always
        }
      val afterI =
      if (!intCols.exists(_._1.equalsIgnoreCase(r.col))) afterS
      else iVals.get(key) match {
        case Some((sumDec, nn)) if nn > 0 =>
          // exact per-file sum when it fits in the scan's own result
          // domain (sum over the integer family is LongType); a wider
          // sum is recorded absent and the serve side declines. The
          // exact non-null count also firms up the null count of files
          // whose footer suppressed stats (bounds stay absent — an
          // unverified range must never prune).
          val sumL =
            if (sumDec == null) None // decimal overflow: unknowable
            else try Some(sumDec.longValueExact())
            catch { case _: ArithmeticException => None }
          afterS.copy(nulls = afterS.rows - nn, sum_l = sumL)
        case Some(_) =>
          // verified all-null: exactly representable even when the
          // footer suppressed the column's stats entirely
          afterS.copy(has_stats = true, nulls = afterS.rows,
            lo_l = None, hi_l = None, sum_l = None)
        case None => afterS // zero-row file: nothing to verify
      }
      // NDV sketch rides the row when computed; an all-null or zero-row
      // file keeps None (its sketch would be empty — the serve side
      // treats rows == nulls as satisfied without one)
      val afterN =
        if (!ndvSel.exists(_._1.equalsIgnoreCase(r.col))) afterI
        else afterI.copy(hll = hVals.get(key))
      // histogram boundaries ride the same way (all-null files keep
      // None — they contribute no value mass to the merge)
      if (!histSel.exists(_._1.equalsIgnoreCase(r.col))) afterN
      else afterN.copy(hist = qVals.get(key))
    }
    spark.createDataset(merged.toIndexedSeq)(
      org.apache.spark.sql.Encoders.product[FileColStat])
  }

  /** The largest sidecar-recorded row count among `abs` (absolute file
    * paths under `dir`) — [[graft.plans.StatsSkipRule]]'s "did the
    * prune skip any real rows" gate. A file without a sidecar row is
    * unknown and reports Long.MaxValue (the caller then treats the
    * prune as real). Served from [[sidecarRows]].
    */
  private[graft] def maxRowsOf(spark: SparkSession, dir: String,
      abs: Set[String]): Long = {
    if (abs.isEmpty) return 0L
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(dir, Sidecar))) return Long.MaxValue
    val byFile = sidecarRows(spark, dir).byFile
    abs.map(a => byFile.get(relKey(dir, a)).fold(Long.MaxValue)(_.head.getLong(2)))
      .foldLeft(0L)(math.max)
  }

  /** Per-file operational inventory of a version dir — relative path,
    * on-disk bytes, footer row count: the `.files` metadata-table
    * answer to "is this table small-file-bound, how are rows spread".
    * Metadata-only: the filesystem walk lists, the executors read
    * FOOTERS (no data pages) with the same shipped-conf recipe as
    * [[annotate]]. O(files), never O(rows).
    */
  def fileInventory(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val files = graft.io.Fs.walkParquet(java.nio.file.Paths.get(dir))
      .map(p => (p.toString, relKey(dir, p.toString),
        java.nio.file.Files.size(p))).sortBy(_._2)
    val confKV = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => (e.getKey, e.getValue)).toVector
    }
    spark.createDataset(files)
      .repartition(math.min(files.size, 32).max(1))
      .mapPartitions { it =>
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import scala.jdk.CollectionConverters._
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confKV.foreach { case (k, v) => conf.set(k, v) }
        it.map { case (f, key, bytes) =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
          try (key, bytes,
            reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
          finally reader.close()
        }
      }
      .toDF("file", "size_bytes", "n_rows")
  }

  /** Sidecar key of `file` under version dir `dir`: the dir-relative
    * path. Files always come from a walk of `dir` itself, so plain
    * prefix-stripping is exact (no symlink/normalization drift).
    */
  private def relKey(dir: String, file: String): String =
    file.stripPrefix(dir).stripPrefix("/")

  /** Footer stats of one file, merged across its row groups. Runs on an
    * executor; pure parquet-mr metadata API.
    */
  private def footerStats(file: String, name: String, cols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Seq[FileColStat] = {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      cols.map { c =>
        // per-row-group summaries for this column, in file order
        val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == c))
        val rows = blocks.map(_.getRowCount).sum
        if (chunks.size != blocks.size) FileColStat(name, c, rows, 0, has_stats = false,
          None, None, None, None, None, None)
        else {
          val sts = chunks.map(_.getStatistics)
          val usable = sts.forall(st => st != null && !st.isEmpty && st.isNumNullsSet)
          if (!usable) FileColStat(name, c, rows, 0, has_stats = false,
            None, None, None, None, None, None)
          else {
            val nulls = sts.map(_.getNumNulls).sum
            val withVals = sts.filter(_.hasNonNullValue)
            // all-null column: pruneable (no value can match a range) and
            // representable without a min/max domain
            if (withVals.isEmpty) FileColStat(name, c, rows, nulls, has_stats = true,
              None, None, None, None, None, None)
            else withVals.head match {
              case _: IntStatistics | _: LongStatistics =>
                val los = withVals.map {
                  case s: IntStatistics => s.getMin.toLong
                  case s: LongStatistics => s.getMin
                }
                val his = withVals.map {
                  case s: IntStatistics => s.getMax.toLong
                  case s: LongStatistics => s.getMax
                }
                chunks.head.getPrimitiveType.getLogicalTypeAnnotation match {
                  case ts: org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation =>
                    // normalize the RAW int64 to epoch micros HERE, where
                    // the unit is known (the round-12 gap: raw-unit bounds
                    // forced the read side to decline every timestamp
                    // literal). Floor the min / ceil the max where the
                    // conversion loses precision (ns) and refuse where it
                    // can overflow (ms near Long range) — the recorded
                    // range only ever widens, never excludes a value.
                    val conv = tsBoundsToMicros(los.min, his.max, ts.getUnit)
                    // t_exact: ms/µs conversions are value-exact (min/max
                    // can be ANSWERED from them, not just pruned on); the
                    // ns floor/ceil is widened-only (prune yes, answer no)
                    val exact = ts.getUnit !=
                      org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
                    conv.fold(FileColStat(name, c, rows, nulls,
                      has_stats = false,
                      None, None, None, None, None, None)) { case (lo, hi) =>
                      FileColStat(name, c, rows, nulls, has_stats = true,
                        None, None, None, None, None, None,
                        Some(lo), Some(hi), Some(ts.isAdjustedToUTC),
                        None, Some(exact))
                    }
                  case dec: org.apache.parquet.schema.LogicalTypeAnnotation
                      .DecimalLogicalTypeAnnotation =>
                    // int-backed DECIMAL (precision ≤ 18): the raw int is
                    // the UNSCALED value. It must NOT land in the plain
                    // integer domain — a numeric bound compared against
                    // unscaled ints prunes wrongly (100.00 is stored as
                    // 10000) — so it carries its scale and only decimal
                    // bounds unscaled to the SAME scale ever compare.
                    FileColStat(name, c, rows, nulls, has_stats = true,
                      Some(los.min), Some(his.max), None, None, None, None,
                      None, None, None, Some(dec.getScale))
                  case i: org.apache.parquet.schema.LogicalTypeAnnotation
                      .IntLogicalTypeAnnotation if !i.isSigned =>
                    // UNSIGNED ints order differently than the signed
                    // longs the stats API returns — refuse to prune
                    FileColStat(name, c, rows, nulls, has_stats = false,
                      None, None, None, None, None, None)
                  case _: org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimeLogicalTypeAnnotation =>
                    // TIME's unit varies per file like timestamps, and no
                    // Spark literal maps onto it — refuse to prune
                    FileColStat(name, c, rows, nulls, has_stats = false,
                      None, None, None, None, None, None)
                  case _ =>
                    FileColStat(name, c, rows, nulls, has_stats = true,
                      Some(los.min), Some(his.max), None, None, None, None)
                }
              case _: FloatStatistics | _: DoubleStatistics =>
                val los = withVals.map {
                  case s: FloatStatistics => s.getMin.toDouble
                  case s: DoubleStatistics => s.getMin
                }
                val his = withVals.map {
                  case s: FloatStatistics => s.getMax.toDouble
                  case s: DoubleStatistics => s.getMax
                }
                // NaN poisons ordering; parquet writers vary in how they
                // summarize it — refuse to prune such a file
                if ((los ++ his).exists(_.isNaN))
                  FileColStat(name, c, rows, nulls, has_stats = false,
                    None, None, None, None, None, None)
                else FileColStat(name, c, rows, nulls, has_stats = true,
                  None, None, Some(los.min), Some(his.max), None, None)
              case _: BinaryStatistics =>
                // only STRING-annotated binaries read back as text: a
                // binary-backed DECIMAL / UUID / raw-bytes column decoded
                // via toStringUsingUTF8 yields garbage whose order has
                // nothing to do with any bound a caller could pass —
                // record has_stats=false for those (keep-always)
                val stringy = chunks.head.getPrimitiveType
                  .getLogicalTypeAnnotation match {
                  case _: org.apache.parquet.schema.LogicalTypeAnnotation
                      .StringLogicalTypeAnnotation => true
                  case _: org.apache.parquet.schema.LogicalTypeAnnotation
                      .EnumLogicalTypeAnnotation => true
                  case _ => false
                }
                if (!stringy)
                  FileColStat(name, c, rows, nulls, has_stats = false,
                    None, None, None, None, None, None)
                else {
                  val los = withVals.map(_.asInstanceOf[BinaryStatistics]
                    .genericGetMin.toStringUsingUTF8)
                  val his = withVals.map(_.asInstanceOf[BinaryStatistics]
                    .genericGetMax.toStringUsingUTF8)
                  // merge row-group bounds in parquet's own (UTF-8) order
                  FileColStat(name, c, rows, nulls, has_stats = true,
                    None, None, None, None,
                    Some(los.min(utf8Ordering)), Some(his.max(utf8Ordering)))
                }
              case _ =>
                FileColStat(name, c, rows, nulls, has_stats = false,
                  None, None, None, None, None, None)
            }
          }
        }
      }
    } finally reader.close()
  }

  /** The sidecar as a DataFrame (for inspection and specs).
    * `mergeSchema`: linked commits CARRY prior sidecar part files
    * verbatim, so after the round-13 timestamp-domain columns a dir can
    * legitimately mix pre- and post-upgrade parts — merged, old rows
    * read `lo_t` as null (kept-always for timestamp bounds, exactly the
    * conservative contract). The dir is ≤ [[Sinks.StatsCheckpointEvery]]
    * files, so the extra footer reads stay metadata-scale.
    */
  def sidecar(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$dir/$Sidecar")

  /** Every `_stats` column in one fixed order, typed as
    * [[FileColStat]] writes it: [[sidecarRows]] pads the columns an
    * older sidecar lacks with typed nulls, so row indices stay stable
    * across eras.
    */
  private[graft] val SidecarLayout: Seq[String] = Seq("file", "col", "rows",
    "nulls", "has_stats", "lo_l", "hi_l", "lo_d", "hi_d", "lo_t", "hi_t",
    "t_adj", "t_exact", "lo_s", "hi_s", "s_exact", "dec_scale", "sum_l",
    "hll", "hist")

  private val rowsMemo = new VersionMemo[SidecarRows](256)

  /** The `_stats` rows of version dir `dir` in [[SidecarLayout]] order,
    * collected once per stamped version: every plan-time consumer
    * (pruning, row-count gates, metadata answers, CBO statistics)
    * derives from this one read. `columns` names the columns the sidecar
    * really carries — an all-null padded column must never read as
    * "all-null data", only as "this sidecar cannot answer". No rows
    * when the version has no sidecar.
    */
  private[graft] def sidecarRows(spark: SparkSession, dir: String): SidecarRows = {
    val path = s"$dir/$Sidecar"
    rowsMemo(spark, Seq(path)) {
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
        SidecarRows(Array.empty, Set.empty)
      else {
        val raw = sidecar(spark, dir)
        val types = org.apache.spark.sql.Encoders.product[FileColStat].schema
        SidecarRows(raw.select(SidecarLayout.map(n =>
          if (raw.columns.contains(n)) col(n)
          else lit(null).cast(types(n).dataType).as(n)): _*).collect(),
          raw.columns.toSet)
      }
    }
  }

  /** Distinct columns recorded in version dir `dir`'s sidecar (sorted),
    * or Nil when it has none — what a rewrite/append must re-annotate so
    * it never silently demotes a skippable table to full scans. Shared
    * by compaction, appends, and INSERT OVERWRITE.
    */
  def sidecarCols(spark: SparkSession, dir: String): Seq[String] = {
    // a metadata-dropped column sheds its stats entries everywhere at
    // once: carried rows keyed by a tombstoned physical are inert (no
    // predicate can name the column) and must not propagate into the
    // re-annotation set of appends/rewrites — the new files don't
    // carry the column at all
    val gone = ColMap.dropped(dir).map(_.toLowerCase)
    sidecarRows(spark, dir).rows.map(_.getString(1)).distinct.toSeq
      .filterNot(c => gone.contains(c.toLowerCase)).sorted
  }

  /** Files of `dir` that MIGHT contain a row with `colName` in
    * `[lo, hi]` (inclusive), per the sidecar. Conservative by
    * construction: a file with no sidecar row or unusable stats is kept;
    * a file is dropped only when its recorded value range cannot overlap
    * the query range, or every row is null (a range predicate never
    * matches null). Bounds are compared in the column's stored domain —
    * integer-family columns take integral bounds, float-family take any
    * number, strings take strings.
    */
  def prunedFiles(spark: SparkSession, dir: String,
      colName: String, lo: Any, hi: Any): Seq[String] =
    prunedFilesBounds(spark, dir, colName, Some(lo), Some(hi))

  /** [[prunedFiles]] with OPTIONAL bounds — the one-sided ranges SQL
    * predicates produce (`k >= 10` alone still prunes every file whose
    * max is below 10). At least one bound must be present; an all-null
    * file prunes under any bound (a range predicate never matches null).
    */
  def prunedFilesBounds(spark: SparkSession, dir: String,
      colName: String, lo: Option[Any], hi: Option[Any]): Seq[String] = {
    require(lo.isDefined || hi.isDefined, "at least one bound is required")
    val loN = lo.map(normalizeBound)
    val hiN = hi.map(normalizeBound)
    val all = graft.io.Fs.walkParquet(java.nio.file.Paths.get(dir))
      .map(_.toString).sorted
    // no sidecar at all (a version published without statsCols, e.g. a
    // plain merge) degrades to the full file list — same conservative
    // contract as a missing per-file stats row, never an error
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(dir, Sidecar))) return all
    // the sidecar speaks PHYSICAL names; accept a logical name under a
    // column mapping (idempotent — a physical name maps to itself)
    val physName = ColMap.toPhysicalName(dir, colName)
    val side = sidecarRows(spark, dir).rows
      .filter(_.getString(1) == physName).map(r => r.getString(0) -> r).toMap
    // NTZ stats vs instant bounds (or vice versa) only coincide when
    // the session renders instants in UTC; elsewhere keep the file
    val sessionUtc = java.time.ZoneId
      .of(spark.sessionState.conf.sessionLocalTimeZone).normalized() ==
      java.time.ZoneOffset.UTC
    def notNull(r: org.apache.spark.sql.Row, f: String): Boolean =
      !r.isNullAt(r.fieldIndex(f))
    all.filter { f =>
      side.get(f.stripPrefix(dir).stripPrefix("/")) match {
        case None => true // no stats row → cannot prune
        case Some(r) =>
          if (!r.getAs[Boolean]("has_stats")) true
          else if (r.getAs[Long]("nulls") == r.getAs[Long]("rows")) false // all null
          else if (notNull(r, "lo_t")) {
            val adj = r.getAs[Boolean]("t_adj")
            def usable(q: Any) = q match {
              case TsVal(_, instant) => instant == adj || sessionUtc
              case _ => false // non-timestamp bound vs timestamp stats: keep
            }
            if (!(loN.forall(usable) && hiN.forall(usable))) true
            else loN.forall(q => r.getAs[Long]("hi_t") >= q.asInstanceOf[TsVal].us) &&
              hiN.forall(q => r.getAs[Long]("lo_t") <= q.asInstanceOf[TsVal].us)
          } else if (notNull(r, "dec_scale")) {
            // int-backed DECIMAL: lo_l/hi_l hold UNSCALED values at the
            // recorded scale — only a decimal bound rescaled to the SAME
            // scale compares; any other bound flavor keeps the file
            val scale = r.getAs[Int]("dec_scale")
            def cmp(q: Any, up: Boolean): Option[Long] = q match {
              case d: java.math.BigDecimal => decUnscaled(d, scale, up)
              case _ => None
            }
            loN.forall(q => cmp(q, up = false)
              .forall(u => r.getAs[Long]("hi_l") >= u)) &&
              hiN.forall(q => cmp(q, up = true)
                .forall(u => r.getAs[Long]("lo_l") <= u))
          } else if (notNull(r, "lo_l")) {
            // a timestamp/decimal bound against a plain-int64 sidecar
            // row has no common domain — keep, never guess
            if ((loN ++ hiN).exists(q => q.isInstanceOf[TsVal] ||
                q.isInstanceOf[java.math.BigDecimal])) true
            else loN.forall(q => r.getAs[Long]("hi_l") >= toLong(q)) &&
              hiN.forall(q => r.getAs[Long]("lo_l") <= toLong(q))
          } else if (notNull(r, "lo_d")) {
            // a BigDecimal bound down-converted to double could round
            // across a file edge — keep rather than guess
            if ((loN ++ hiN).exists(q => q.isInstanceOf[TsVal] ||
                q.isInstanceOf[java.math.BigDecimal])) true
            else loN.forall(q => r.getAs[Double]("hi_d") >= toDouble(q)) &&
              hiN.forall(q => r.getAs[Double]("lo_d") <= toDouble(q))
          } else if (notNull(r, "lo_s")) {
            if ((loN ++ hiN).exists(q => q.isInstanceOf[TsVal] ||
                q.isInstanceOf[java.math.BigDecimal])) true
            else loN.forall(q => utf8Compare(r.getAs[String]("hi_s"), q.toString) >= 0) &&
              hiN.forall(q => utf8Compare(r.getAs[String]("lo_s"), q.toString) <= 0)
          } else true // has_stats with no domain should be unreachable; keep
      }
    }
  }

  private def toLong(v: Any): Long = v match {
    case n: Byte => n.toLong
    case n: Short => n.toLong
    case n: Int => n.toLong
    case n: Long => n
    case other => throw new IllegalArgumentException(
      s"integer-domain stats need an integral bound, got $other " +
        "(floor/ceil fractional bounds at the call site)")
  }

  private def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case other => throw new IllegalArgumentException(s"numeric bound expected, got $other")
  }

  /** Stats-pruned range scan: open only the files whose footer range can
    * satisfy `colName BETWEEN lo AND hi`, then apply the predicate
    * exactly (stats decide which files to OPEN, never which rows
    * qualify). Result-identical to `spark.read.parquet(dir).filter(...)`
    * — q_stats_skipping hash-proves it against the unclustered fixture.
    */
  def readWhere(spark: SparkSession, dir: String,
      colName: String, lo: Any, hi: Any): DataFrame =
    rangeRead(spark, dir, dir, colName, lo, hi)

  /** [[readWhere]] of version dir `dir` of table `root`: the kept files
    * read through [[Sinks.snapshotRead]], the predicate applied by the
    * caller's LOGICAL name (the sidecar speaks physical names;
    * [[prunedFiles]] translates).
    */
  private def rangeRead(spark: SparkSession, root: String, dir: String,
      colName: String, lo: Any, hi: Any): DataFrame =
    Sinks.snapshotRead(spark, root, dir, Some(prunedFiles(spark, dir, colName, lo, hi)))
      .filter(col(colName).between(lit(lo), lit(hi)))

  /** Metadata-served distinct counts (B180): merge the per-file HLL
    * sketches the annotator records for `'graft.ndv.columns'` into one
    * estimate per column — ZERO data files opened, zero Spark jobs
    * (the union is a sequential driver loop over metadata-scale blobs
    * in sorted file order, so repeated serves are byte-deterministic).
    * Serving from metadata adds NO approximation on top of the sketch:
    * union merges registers by max, so the merged state describes
    * exactly the union of the files' value sets, with the same lgK=12
    * error bounds (±1.6% RSE) as a scan-side `hll_sketch_agg`. While
    * every sketch is still in the exact coupon regime (≲1k distincts
    * per the lgK=12 promotion threshold) the estimate EQUALS a full
    * scan's `hll_sketch_estimate(hll_sketch_agg(col))` — NdvSpec pins
    * that; past promotion the two are both within bounds but not
    * bit-equal (DataSketches' HIP estimator is merge-structure-
    * dependent — a distributed agg's nondeterministic merge order
    * yields a slightly different, equally valid estimate). Duplicate
    * sidecar rows are harmless (union is idempotent).
    *
    * Declines loudly (never estimates wrong): deletion vectors or
    * pending equality deletes hide rows a sketch already absorbed
    * (compact first); a value-bearing live file without a sketch means
    * the column was declared after that file was annotated
    * (`CALL system.annotate_stats` retrofits). At 100 TB this is the
    * difference between a dashboard's cardinality tile being free and
    * being a full-column shuffle.
    */
  def ndv(spark: SparkSession, root: String,
      cols: Seq[String]): Seq[(String, Long)] = {
    import java.nio.file.{Files, Paths}
    require(cols.nonEmpty, "ndv requires at least one column")
    val live = Sinks.resolve(root)
    require(!Dv.exists(live),
      s"ndv declines: $root carries deletion vectors (sketches describe " +
        "pre-delete rows) — CALL system.compact first")
    require(!EqDel.exists(live),
      s"ndv declines: $root has pending equality deletes — " +
        "CALL system.compact first")
    require(Files.isDirectory(Paths.get(live, Sidecar)),
      s"no _stats sidecar under $live — declare 'graft.ndv.columns' and " +
        "commit, or CALL system.annotate_stats")
    val side = sidecar(spark, live)
    require(side.columns.contains("hll"),
      "the _stats sidecar predates NDV sketches — CALL " +
        "system.annotate_stats to retrofit")
    val liveRels = graft.io.Fs.walkParquet(Paths.get(live))
      .map(p => relKey(live, p.toString)).toSet
    cols.map { c =>
      val phys = ColMap.toPhysicalName(live, c)
      val colSide = side.filter(lower(col("col")) === phys.toLowerCase)
      // Small tables (≤ NdvFanIn live files) keep the pre-round-18 path
      // verbatim — one collect, driver fold in sorted file order — so
      // their estimates are bit-identical and no job is added. Past the
      // fan-in, validation collects METADATA ONLY (never the blobs: at
      // 100k files the blob-carrying collect shipped O(files × sketch)
      // bytes to the driver before a single union ran) and the fold
      // runs as DISTRIBUTED tree rounds of NdvFanIn-ary unions. The
      // tree SHAPE is fixed by (rank = position in sorted file order,
      // fan-in) alone, so repeated serves stay byte-deterministic
      // regardless of which executor merges which node, and the driver
      // never loops over O(files) blobs (the r16/r17 watch item).
      val small = liveRels.size <= NdvFanIn
      val rows =
        if (small) colSide
          .select(col("file"), col("rows"), col("nulls"),
            col("hll").isNull.as("no_sketch"), col("hll"))
          .collect()
        else colSide
          .select(col("file"), col("rows"), col("nulls"),
            col("hll").isNull.as("no_sketch"))
          .collect()
      val byFile = rows.map(r => r.getString(0) -> r).toMap
      liveRels.foreach { rel =>
        val r = byFile.getOrElse(rel, throw new IllegalStateException(
          s"ndv($c): live file $rel has no sidecar row — " +
            "CALL system.annotate_stats to retrofit"))
        if (r.getLong(1) > r.getLong(2) && r.getBoolean(3))
          throw new IllegalStateException(
            s"ndv($c): live file $rel carries no sketch (annotated before " +
              "'graft.ndv.columns' was declared?) — CALL " +
              "system.annotate_stats to retrofit")
      }
      val withSketch = liveRels.toSeq.sorted
        .filter(rel => byFile.get(rel).exists(!_.getBoolean(3)))
      val est =
        if (withSketch.isEmpty) 0L // every live file empty or all-null
        else {
          val tail: Seq[Array[Byte]] =
            if (small) withSketch.map(rel => byFile(rel).getAs[Array[Byte]](4))
            else {
              val rankDf = spark.createDataFrame(
                withSketch.zipWithIndex.map { case (f, i) => (f, i.toLong) })
                .toDF("file", "rank")
              var cur = colSide.filter(col("hll").isNotNull)
                .join(broadcast(rankDf), "file")
                .select(col("rank"), col("hll"))
              var n = withSketch.size
              while (n > NdvFanIn) {
                cur = cur
                  .groupBy(floor(col("rank") / NdvFanIn).as("grp"))
                  .agg(sort_array(collect_list(struct(col("rank"), col("hll"))))
                    .as("xs"))
                  .select(col("grp").cast("long").as("rank"),
                    ndvMergeUdf(col("xs")).as("hll"))
                n = ((n + NdvFanIn - 1) / NdvFanIn).toInt
              }
              cur.orderBy("rank").select("hll").collect()
                .map(_.getAs[Array[Byte]](0)).toSeq
            }
          // lgMaxK matches hll_sketch_agg's default (12) — the blobs
          // were built by it, and the union must not downsize them
          val u = new org.apache.datasketches.hll.Union(12)
          tail.foreach(b => u.update(
            org.apache.datasketches.hll.HllSketch.heapify(b)))
          Math.round(u.getEstimate) // hll_sketch_estimate's rounding
        }
      (c, est)
    }
  }

  /** One NDV tree-merge node: union the group's sketches in rank order
    * (the input array arrives sort_array'd on its rank field) and
    * serialize the merged state. lgMaxK 12 matches the leaf sketches;
    * compact serialization round-trips through `HllSketch.heapify`
    * losslessly.
    */
  private val ndvMergeUdf = udf((xs: Seq[org.apache.spark.sql.Row]) => {
    val u = new org.apache.datasketches.hll.Union(12)
    xs.foreach(r => u.update(
      org.apache.datasketches.hll.HllSketch.heapify(r.getAs[Array[Byte]](1))))
    u.getResult.toCompactByteArray
  })

  /** Fan-in of the NDV sketch merge: at or below it the driver folds the
    * blobs directly (the exact pre-round-18 behavior, so small tables'
    * estimates are bit-identical); above it each tree node unions this
    * many children per round.
    */
  private val NdvFanIn = 64

  /** [[readWhere]] over the LIVE version of a [[Sinks]] versioned table
    * (publish with `statsCols` to make the sidecar exist). The table
    * root lets [[Sinks.snapshotRead]] pin the table's DECLARED partition
    * types even for a version that predates its own spec stamp.
    */
  def readCurrentWhere(spark: SparkSession, root: String,
      colName: String, lo: Any, hi: Any): DataFrame =
    rangeRead(spark, root, Sinks.resolve(root), colName, lo, hi)
}
