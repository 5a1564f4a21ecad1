package graft.ops

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter skipping for POINT lookups — the complement of
  * [[Stats]] min/max skipping (SURVEY B109).
  *
  * Min/max footer stats prune range predicates well only when the table
  * is clustered on the queried column; on an unclustered layout every
  * file's [min, max] spans the whole domain and a point lookup still
  * opens every file. A per-file Bloom filter over the column's values
  * prunes by MEMBERSHIP instead: for a high-cardinality column (ids,
  * digests, urls) each file's filter holds only its own values, so an
  * equality probe keeps ~1 + fpp·n_files files regardless of layout —
  * at 100 TB the difference between a point lookup being a metadata
  * operation and a full scan. This is the same design as Parquet
  * column-index bloom filters / Delta's bloom-filter index, kept in a
  * `_bloom` sidecar beside `_stats` so it rides the same version dir.
  *
  * Scale shape: the build is one distributed pass — partial filters are
  * built map-side per (file, column) group and only serialized filter
  * bytes cross the exchange (ObjectHashAggregate partials), never rows.
  * The probe is also distributed: executors deserialize each sidecar
  * row and ship back only surviving file KEYS; filter bytes stay off
  * the driver (a 100k-file table at ~120 KB/filter is ~12 GB of
  * sidecar — metadata for a cluster, not for one driver heap).
  *
  * Conservative contract (same as [[Stats]]): a file with no filter row
  * or a missing sidecar is always KEPT — absence degrades to a full
  * scan, never a wrong answer. Values are canonicalized through their
  * Spark `CAST(c AS STRING)` form on build and `value.toString` on
  * probe, so the intended domain is string and integral columns (the
  * point-lookup shapes); fractional types are better served by B109
  * range stats.
  */
object Bloom {

  val Sidecar = "_bloom"

  /** Typed aggregator folding one (file, column) group's values into a
    * [[BloomFilter]]. The buffer is the filter object itself
    * (`BloomFilterImpl` is `java.io.Serializable`, delegating to its
    * compact `writeTo` wire format), so map-side partial aggregation
    * inserts into an in-memory filter and only merged filters serialize
    * at the shuffle boundary.
    */
  private final class BloomAgg(expected: Long, fpp: Double)
      extends Aggregator[(String, String, String), BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expected, fpp)
    def reduce(b: BloomFilter, a: (String, String, String)): BloomFilter = {
      b.putString(a._3); b
    }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    def finish(b: BloomFilter): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    def bufferEncoder: Encoder[BloomFilter] = Encoders.javaSerialization[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** `input_file_name()` is a URL-encoded URI while sidecar keys are raw
    * dir-relative paths (the [[Stats]] convention) — decode before
    * deriving the key or escaped partition values (`city=a%3Ab`) break
    * the join between probe-time file listings and build-time keys.
    */
  private def relFromUri(dir: String, uri: String): String = {
    val decoded =
      try Paths.get(new java.net.URI(uri)).toString
      catch { case _: Exception => uri }
    decoded.stripPrefix(dir).stripPrefix("/")
  }

  private def relKey(dir: String, file: String): String =
    file.stripPrefix(dir).stripPrefix("/")

  /** Build the `_bloom` sidecar for `cols` over every data file of
    * version dir `dir` in ONE distributed scan. `expectedItems` sizes
    * each per-file filter (items-per-file, not per-table): ~1.2 MB per
    * 1M expected at fpp 0.01 — size it to rows-per-file, over-sizing
    * costs bits, under-sizing costs false positives, never correctness.
    * Null values are never inserted (`c = x` cannot match null), and a
    * (file, column) group that is entirely null simply has no row —
    * which the probe keeps conservatively.
    */
  def annotate(spark: SparkSession, dir: String, cols0: Seq[String],
      fpp: Double = 0.01, expectedItems: Long = 100000L): Unit = {
    require(cols0.nonEmpty, "annotate requires at least one column")
    import spark.implicits._
    // file contents speak PHYSICAL names; accept logical ones under a
    // column mapping (idempotent when unmapped)
    val cols = cols0.map(ColMap.toPhysicalName(dir, _))
    // Partition columns are DIRECTORY metadata, not file contents: their
    // values here would come from directory-name type INFERENCE, whose
    // string form can differ from the declared type ('00123' inferred as
    // int 123), so a filter built from them could prune a file whose
    // declared-string value matches — a silent wrong answer. Partition
    // pruning already handles those columns exactly; bloom indexes only
    // columns physically present in the files.
    val legged = graft.ops.Sinks.hasLayoutLegs(dir)
    val physicalSchema =
      // a mixed-layout version reads through the pinned union, whose
      // partition-directory columns carry DECLARED types (the per-leg
      // `_PSPEC` stamps) — so every union column is exactly typed and
      // indexable, including columns that are directories in one leg
      // and file contents in another
      if (legged) org.apache.spark.sql.types.StructType(
        graft.ops.Sinks.scanVersion(spark, dir, dir).schema
          .filterNot(_.name == "_metadata"))
      else {
        val files = graft.io.Fs.walkParquet(Paths.get(dir))
        require(files.nonEmpty, s"no parquet data files under $dir")
        spark.read.parquet(files.head.toString).schema
      }
    val physical = physicalSchema.fieldNames.toSet
    val nonPhysical = cols.filterNot(physical)
    require(nonPhysical.isEmpty,
      s"cannot bloom-index ${nonPhysical.mkString(", ")}: not stored in the " +
        "data files (partition columns are pruned by directory, not by filter)")
    // The build canonicalizes values as CAST(c AS STRING) while the probe
    // canonicalizes as value.toString — the two string forms agree ONLY
    // for string and integral types. For timestamp/date/decimal/float
    // they routinely differ (formatting, trailing zeros, scientific
    // notation), and a mismatch is not a conservative degrade: the probe
    // would silently DROP files containing the value. Guard the domain at
    // build time rather than letting CALL system.bloom_index index an
    // unprobeable column.
    import org.apache.spark.sql.types._
    val badTypes = cols.flatMap { c =>
      physicalSchema(c).dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType => None
        case other => Some(s"$c: ${other.simpleString}")
      }
    }
    require(badTypes.isEmpty,
      s"bloom index supports string and integral columns only (probe-time " +
        s"canonicalization must match the build's CAST AS STRING); got " +
        badTypes.mkString(", ") + " — use B109 range stats for those types")
    val base =
      if (legged) graft.ops.Sinks.scanVersion(spark, dir, dir)
        .withColumn("_gf_uri", col("_metadata.file_path")).drop("_metadata")
      else spark.read.parquet(dir).withColumn("_gf_uri", input_file_name())
    val pairs = cols.map(c => struct(lit(c).as("c"), col(c).cast("string").as("v")))
    val exploded = base
      .select(col("_gf_uri"), explode(array(pairs: _*)).as("p"))
      .select(col("_gf_uri").as("uri"), col("p.c").as("c"), col("p.v").as("v"))
      .filter(col("v").isNotNull)
      .as[(String, String, String)]
    val agg = new BloomAgg(expectedItems, fpp)
    val dirCopy = dir // avoid capturing `this` in the closure
    val side = exploded
      .groupByKey(t => (t._1, t._2))
      .agg(agg.toColumn.name("bloom"))
      .map { case ((uri, c), bytes) => (relFromUri(dirCopy, uri), c, bytes) }
      .toDF("file", "cname", "bloom")
    side.coalesce(1).write.mode("overwrite").parquet(s"$dir/$Sidecar")
  }

  /** Distinct columns recorded in `dir`'s bloom sidecar (sorted); empty
    * when no sidecar exists. The append path uses this to inherit the
    * indexed column set — an append must not silently demote a table
    * from point-skippable to full-scan.
    */
  private val colsMemo = new VersionMemo[Seq[String]](4096)

  def sidecarCols(spark: SparkSession, dir: String): Seq[String] =
    colsMemo(spark, Seq(s"$dir/$Sidecar")) {
      if (!Files.isDirectory(Paths.get(dir, Sidecar))) Nil
      else {
        import spark.implicits._
        // tombstoned (metadata-dropped) columns leave the indexed set —
        // same shedding contract as Stats.sidecarCols
        val gone = ColMap.dropped(dir).map(_.toLowerCase)
        spark.read.parquet(s"$dir/$Sidecar")
          .select("cname").distinct().as[String].collect().toSeq
          .filterNot(c => gone.contains(c.toLowerCase)).sorted
      }
    }

  /** Rewrite `dir`'s bloom sidecar to ONE file holding only rows whose
    * file key still exists under `dir` — the sidecar-pile checkpoint for
    * linked appends (carried sidecar files accumulate one per commit,
    * and rows keyed by COW-replaced files go stale). Metadata-scale:
    * reads and rewrites filter rows, never corpus data.
    */
  def compactSidecar(spark: SparkSession, dir: String): Unit = {
    val sidePath = Paths.get(dir, Sidecar)
    if (!Files.isDirectory(sidePath)) return
    val liveKeys = graft.io.Fs.walkParquet(Paths.get(dir))
      .map(p => relKey(dir, p.toString))
    // distributed rewrite: only file KEYS (strings) leave the driver
    // (as a broadcast join side, not a giant IN-literal the planner
    // must fold); filter bytes move executor→executor through the
    // one-file shuffle
    import spark.implicits._
    val keysDf = liveKeys.toDF("file")
    val tmp = Paths.get(dir, Sidecar + ".ckpt")
    spark.read.parquet(s"$dir/$Sidecar")
      .join(broadcast(keysDf), Seq("file"), "left_semi")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    graft.io.Fs.deleteRecursively(sidePath)
    Files.move(tmp, sidePath)
  }

  /** Files of `dir` that MIGHT contain a row with `colName = value`.
    * The membership probe runs on executors (only surviving file keys
    * come back); files without a filter row are kept. Deterministic:
    * the sketch hashes with seeded Murmur3, so the same sidecar always
    * prunes the same set.
    */
  def prunedFilesEq(spark: SparkSession, dir: String,
      colName: String, value: Any): Seq[String] = {
    require(value != null, "equality probe needs a non-null value (c = NULL matches nothing)")
    prunedFilesEqAny(spark, dir, colName, Seq(value.toString))
  }

  /** Files of `dir` that MIGHT contain a row with `colName` equal to
    * ANY of `values` — the batch-probe generalization of
    * [[prunedFilesEq]] (an index probe carries one bucket per probe row
    * per band, not one literal). The value set broadcasts to executors
    * with the filter bytes; a file survives iff some value might be in
    * it. Conservative exactly like the single-value probe: files
    * without a filter row are kept.
    */
  def prunedFilesEqAny(spark: SparkSession, dir: String,
      colName: String, values: Seq[String]): Seq[String] = {
    require(values.forall(_ != null), "equality probe needs non-null values")
    if (values.isEmpty) return Nil
    val all = graft.io.Fs.walkParquet(Paths.get(dir)).map(_.toString).sorted
    if (!Files.isDirectory(Paths.get(dir, Sidecar))) return all
    import spark.implicits._
    val side = spark.read.parquet(s"$dir/$Sidecar")
      .filter(col("cname") === ColMap.toPhysicalName(dir, colName))
    val annotated = side.select("file").as[String].collect().toSet
    val probes = values.toArray
    val hits = side.select("file", "bloom").as[(String, Array[Byte])]
      .filter { t =>
        val bf = BloomFilter.readFrom(t._2)
        probes.exists(bf.mightContainString)
      }
      .map(_._1).collect().toSet
    all.filter { f =>
      val k = relKey(dir, f)
      !annotated.contains(k) || hits.contains(k)
    }
  }

  /** Bloom-pruned point lookup: open only the files whose filter admits
    * `colName = value`, intersected with the B109 min/max prune when a
    * `_stats` sidecar exists (equality is the range [v, v] — the two
    * sidecars compose, each conservative on its own). The predicate is
    * then applied EXACTLY on the surviving files: sidecars decide which
    * files to OPEN, never which rows qualify, so the result is
    * hash-identical to `spark.read.parquet(dir).filter(col === value)`.
    */
  def readWhereEq(spark: SparkSession, dir: String,
      colName: String, value: Any): DataFrame =
    pointRead(spark, dir, dir, colName, value)

  /** [[readWhereEq]] of version dir `dir` of table `root`: the kept files
    * read through [[Sinks.snapshotRead]], the predicate applied by the
    * caller's LOGICAL name (sidecars speak physical names).
    */
  private def pointRead(spark: SparkSession, root: String, dir: String,
      colName: String, value: Any): DataFrame = {
    val physCol = ColMap.toPhysicalName(dir, colName)
    val bloomKept = prunedFilesEq(spark, dir, physCol, value)
    val kept =
      if (Files.isDirectory(Paths.get(dir, Stats.Sidecar)))
        bloomKept.toSet
          .intersect(Stats.prunedFiles(spark, dir, physCol, value, value).toSet)
          .toSeq.sorted
      else bloomKept
    Sinks.snapshotRead(spark, root, dir, Some(kept)).filter(col(colName) === lit(value))
  }

  /** [[readWhereEq]] over the LIVE version of a [[Sinks]] versioned
    * table (run [[annotate]] against `Sinks.resolve(root)` after
    * publishing). The table root lets [[Sinks.snapshotRead]] pin the
    * table's DECLARED partition types — for the kept-files read and the
    * empty-prune frame alike — so a partitioned table's partition
    * columns can never come back with inference-rewritten types
    * ('00123' → int) diverging from [[Sinks.readCurrent]].
    */
  def readCurrentWhereEq(spark: SparkSession, root: String,
      colName: String, value: Any): DataFrame =
    pointRead(spark, root, Sinks.resolve(root), colName, value)
}
