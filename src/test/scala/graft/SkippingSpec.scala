package graft

import graft.io.Tables
import graft.ops.{Sinks, Stats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level data skipping (B109): footer stats must prune files a range
  * predicate cannot match, never change results, and degrade to a full
  * scan whenever stats are missing or unusable.
  */
class SkippingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf001

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("prunedFiles keeps exactly the overlapping files on a range-laid table") {
    import spark.implicits._
    val dir = tmp("skip") + "/t"
    // 4 files with disjoint known key ranges: [0,249], [250,499], ...
    (0L until 1000L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.parquet(dir)
    Stats.annotate(spark, dir, Seq("k"))
    val all = graft.io.Fs.listDir(java.nio.file.Paths.get(dir))
      .map(_.toString).filter(_.endsWith(".parquet"))
    assert(all.size == 4)
    // a range inside one quarter opens one file
    assert(Stats.prunedFiles(spark, dir, "k", 100L, 120L).size == 1)
    // a range spanning a boundary opens two
    assert(Stats.prunedFiles(spark, dir, "k", 240L, 260L).size == 2)
    // out-of-domain range opens none
    assert(Stats.prunedFiles(spark, dir, "k", 5000L, 6000L).isEmpty)
    // full-domain range opens all
    assert(Stats.prunedFiles(spark, dir, "k", 0L, 999L).size == 4)
    // readWhere ≡ full scan + filter, for each shape
    for ((lo, hi) <- Seq((100L, 120L), (240L, 260L), (5000L, 6000L))) {
      val pruned = Stats.readWhere(spark, dir, "k", lo, hi)
      val full = spark.read.parquet(dir).filter(col("k").between(lo, hi))
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
        s"readWhere($lo,$hi) diverged from the full scan")
    }
    // empty result still carries the table schema
    assert(Stats.readWhere(spark, dir, "k", 5000L, 6000L).columns.toSeq ==
      Seq("k", "payload"))
  }

  test("exact string bounds: long-string columns prune even where footers drop stats (round-14)") {
    import spark.implicits._
    val dir = tmp("skipstr") + "/t"
    // each value is ~3 KB, so parquet's 4 KB stats cap drops the binary
    // min/max from the footers — pre-round-14 this column was keep-always
    (0 until 400).map(i => (f"k$i%03d" + ("y" * 3000), i.toLong))
      .toDF("doc", "i")
      .repartitionByRange(4, col("doc")).sortWithinPartitions("doc")
      .write.parquet(dir)
    Stats.annotate(spark, dir, Seq("doc"))
    // the sidecar carries DATA-exact bounds (s_exact) for every file
    val side = Stats.sidecar(spark, dir)
    assert(side.filter(col("s_exact") === true).count() == 4,
      side.collect().mkString("\n"))
    assert(side.filter(col("lo_s").isNull).count() == 0)
    // a narrow prefix range opens one file of four
    val kept = Stats.prunedFiles(spark, dir, "doc", "k100", "k110zzz")
    assert(kept.size == 1, s"kept ${kept.size} of 4")
    // result identity through the pruned read
    val got = Stats.readWhere(spark, dir, "doc", "k100", "k110zzz")
    val full = spark.read.parquet(dir)
      .filter(col("doc").between("k100", "k110zzz"))
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty)
    assert(got.count() == 11)
  }

  test("exact string pass records exact null counts; all-null and null-mixed files stay correct (round-14)") {
    import spark.implicits._
    val dir = tmp("skipstrn") + "/t"
    Seq[(java.lang.Long, String)]((1L, "aa"), (2L, null), (3L, "bb"),
      (4L, null), (5L, null))
      .toDF("k", "s").coalesce(1).write.parquet(dir)
    Stats.annotate(spark, dir, Seq("s"))
    val row = Stats.sidecar(spark, dir).filter(col("col") === "s").head()
    assert(row.getAs[Long]("rows") == 5 && row.getAs[Long]("nulls") == 3)
    assert(row.getAs[String]("lo_s") == "aa" && row.getAs[String]("hi_s") == "bb")
    assert(row.getAs[Boolean]("s_exact"))
    // an all-null string file is representable and prunes under any bound
    val dir2 = tmp("skipstrn2") + "/t"
    Seq[(java.lang.Long, String)]((1L, null), (2L, null))
      .toDF("k", "s").coalesce(1).write.parquet(dir2)
    Stats.annotate(spark, dir2, Seq("s"))
    val row2 = Stats.sidecar(spark, dir2).filter(col("col") === "s").head()
    assert(row2.getAs[Long]("nulls") == 2 && row2.getAs[Boolean]("has_stats"))
    assert(Stats.prunedFiles(spark, dir2, "s", "a", "z").isEmpty)
  }

  // ---------------- B164: the SQL door (StatsSkipRule) ----------------

  private def mkCatalogTable(name: String): (String, String) = {
    import spark.implicits._
    val wh = tmp("skipsql")
    val cat = "graftsk_" + name
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/$name"
    // 4 k-clustered files with disjoint ranges, stats on k and s
    val df = (0L until 1000L).map(i => (i, f"s$i%04d", i.toDouble))
      .toDF("k", "s", "v")
    Sinks.publishVersioned(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      tbl, None, statsCols = Seq("k", "s"))
    (cat, tbl)
  }

  test("SQL filters on stats-covered columns open only the surviving files") {
    val (cat, tbl) = mkCatalogTable("t1")
    val allFiles = graft.io.Fs.walkParquet(
      java.nio.file.Paths.get(Sinks.resolve(tbl))).size
    assert(allFiles == 4)
    // two-sided range inside one quarter: ONE file opened
    val q = spark.sql(s"SELECT k, v FROM $cat.t1 WHERE k BETWEEN 100 AND 120")
    assert(q.inputFiles.length == 1, s"opened ${q.inputFiles.length} of $allFiles")
    assert(q.count() == 21)
    // one-sided bound prunes too (k >= 900 -> last quarter only)
    val q1 = spark.sql(s"SELECT count(*) FROM $cat.t1 WHERE k >= 900")
    assert(q1.collect().head.getLong(0) == 100)
    val q1f = spark.sql(s"SELECT k FROM $cat.t1 WHERE k >= 900")
    assert(q1f.inputFiles.length == 1, s"got ${q1f.inputFiles.length}")
    // string-domain equality (IN) prunes on the second covered column
    val q2 = spark.sql(s"SELECT k FROM $cat.t1 WHERE s IN ('s0042', 's0043')")
    assert(q2.inputFiles.length == 1 && q2.count() == 2)
    // conjuncts INTERSECT: contradictory ranges open zero files
    val q3 = spark.sql(s"SELECT k FROM $cat.t1 WHERE k >= 900 AND k <= 100")
    assert(q3.inputFiles.isEmpty && q3.count() == 0)
    // an uncovered column's filter leaves the plan untouched: the bare
    // DSv2 scan survives (inputFiles is empty for those — assert the
    // plan shape, not the file list)
    val q4 = spark.sql(s"SELECT k FROM $cat.t1 WHERE v < 10.0")
    assert(q4.queryExecution.executedPlan.toString.contains("BatchScan"),
      q4.queryExecution.executedPlan.toString.take(1500))
    assert(q4.count() == 10)
  }

  test("SQL skipping composes with a deletion vector: pruned AND subtracted") {
    val (cat, tbl) = mkCatalogTable("t2")
    spark.sql(s"ALTER TABLE $cat.t2 SET TBLPROPERTIES ('graft.dml.mode' = 'mor')")
    spark.sql(s"DELETE FROM $cat.t2 WHERE k % 2 = 0")
    val q = spark.sql(s"SELECT k FROM $cat.t2 WHERE k BETWEEN 100 AND 120 ORDER BY k")
    assert(q.collect().map(_.getLong(0)).toSeq ==
      (100L to 120L).filter(_ % 2 == 1))
    assert(q.inputFiles.length <= 2, // the one data file (+ nothing else)
      s"got ${q.inputFiles.mkString(", ")}")
  }

  test("SQL skipping stays exact on an appended table (delta sidecar rows)") {
    import spark.implicits._
    val (cat, tbl) = mkCatalogTable("t3")
    Sinks.appendVersioned(
      Seq((2000L, "s2000", 1.0)).toDF("k", "s", "v"), tbl,
      Sinks.currentVersion(tbl))
    val q = spark.sql(s"SELECT k FROM $cat.t3 WHERE k >= 1500")
    assert(q.count() == 1 && q.inputFiles.length == 1)
    // the old range still prunes to its quarter among 5 files
    val q2 = spark.sql(s"SELECT k FROM $cat.t3 WHERE k BETWEEN 100 AND 120")
    assert(q2.count() == 21 && q2.inputFiles.length == 1)
  }

  test("timestamp bounds PRUNE through the SQL door (stats micros-normalized at annotate)") {
    import spark.implicits._
    val wh = tmp("skipts")
    val cat = "graftsk_ts"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/t"
    // 100 hourly rows, ts-clustered so each of 4 files holds ~25 hours
    val df = spark.range(0, 100).select($"id".as("k"),
      expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0, CAST(id AS INT),0,0)").as("ts"))
    Sinks.publishVersioned(df.repartitionByRange(4, col("ts"))
      .sortWithinPartitions("ts"), tbl, None, statsCols = Seq("k", "ts"))
    // the round-12 gap, closed: a ts range now opens only overlapping
    // files (time-range predicates are THE dominant 100 TB scan filter)
    val q = spark.sql(s"SELECT k FROM $cat.t " +
      "WHERE ts >= timestamp'2024-01-04 20:00:00'") // last ~9 hours
    assert(q.count() == 100 - 92)
    assert(q.inputFiles.length < 4 && q.inputFiles.nonEmpty,
      s"expected a pruned ts read, opened ${q.inputFiles.length} of 4")
    // two-sided window inside one file's span
    val q2 = spark.sql(s"SELECT k FROM $cat.t " +
      "WHERE ts BETWEEN timestamp'2024-01-01 03:00:00' " +
      "AND timestamp'2024-01-01 06:00:00'")
    assert(q2.count() == 4 && q2.inputFiles.length == 1,
      s"got ${q2.inputFiles.length} files")
    // out-of-domain window opens zero files, still answers exactly
    val q3 = spark.sql(s"SELECT k FROM $cat.t " +
      "WHERE ts > timestamp'2030-01-01 00:00:00'")
    assert(q3.inputFiles.isEmpty && q3.count() == 0)
  }

  test("ms- and ns-unit footers normalize to micros at annotate time (unit never guessed)") {
    import spark.implicits._
    // ---- ms-written files (the fixture's own timestamp[ms] era) ----
    val msDir = tmp("skipms") + "/t"
    val out0 = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      spark.range(0, 96).select($"id".as("k"),
        expr("timestamp'2024-02-01 00:00:00' + make_interval(0,0,0,0, CAST(id AS INT),0,0)").as("ts"))
        .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
        .write.parquet(msDir)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", out0)
    Stats.annotate(spark, msDir, Seq("ts"))
    val sc = Stats.sidecar(spark, msDir).filter(col("col") === "ts").collect()
    assert(sc.forall(r => !r.isNullAt(r.fieldIndex("lo_t")) &&
      r.isNullAt(r.fieldIndex("lo_l"))), "ms stats must land micros-normalized")
    // one day in = hours [24, 48): exactly the files holding that span
    val lo = java.time.Instant.parse("2024-02-02T00:00:00Z")
    val hi = java.time.Instant.parse("2024-02-02T23:00:00Z")
    val kept = Stats.prunedFilesBounds(spark, msDir, "ts", Some(lo), Some(hi))
    assert(kept.size < 4 && kept.nonEmpty, s"ms prune kept ${kept.size} of 4")
    val pruned = Stats.readWhere(spark, msDir, "ts", lo, hi)
    val full = spark.read.parquet(msDir)
      .filter(col("ts").between(lit(lo), lit(hi)))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    assert(pruned.count() == 24)

    // ---- ns-written files (parquet-mr direct; Spark can't write ns) ----
    val nsDir = java.nio.file.Paths.get(tmp("skipns"), "t")
    java.nio.file.Files.createDirectories(nsDir)
    locally {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
      import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      val schema = Types.buildMessage()
        .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
        .required(PrimitiveTypeName.INT64).named("k")
        .named("t")
      val fac = new SimpleGroupFactory(schema)
      val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
        .getEpochSecond * 1000000000L
      // two files: hours [0,48) and [48,96), ns-precision (+1ns so a
      // floor/ceil mistake at the µs seam would misprune)
      for ((fname, range) <- Seq(("a.parquet", 0 until 48),
          ("b.parquet", 48 until 96))) {
        val conf = new org.apache.hadoop.conf.Configuration(false)
        GroupWriteSupport.setSchema(schema, conf)
        val w = ExampleParquetWriter
          .builder(new org.apache.hadoop.fs.Path(s"$nsDir/$fname"))
          .withConf(conf).build()
        try range.foreach { h =>
          w.write(fac.newGroup()
            .append("ts", base + h * 3600L * 1000000000L + 1L)
            .append("k", h.toLong))
        } finally w.close()
      }
    }
    Stats.annotate(spark, nsDir.toString, Seq("ts"))
    val nsSc = Stats.sidecar(spark, nsDir.toString)
      .filter(col("col") === "ts").collect()
    assert(nsSc.length == 2 && nsSc.forall(r =>
      !r.isNullAt(r.fieldIndex("lo_t")) && r.getAs[Boolean]("t_adj")))
    // a window inside file b's span keeps ONLY b; the +1ns offsets must
    // not push a boundary row out of its recorded (floored/ceiled) range
    val nsKept = Stats.prunedFilesBounds(spark, nsDir.toString, "ts",
      Some(java.time.Instant.parse("2024-03-03T05:00:00Z")),
      Some(java.time.Instant.parse("2024-03-03T07:00:00Z")))
    assert(nsKept.size == 1 && nsKept.head.endsWith("b.parquet"), nsKept)
    // the file's own min instant (floored micros) still keeps the file
    val edgeKept = Stats.prunedFilesBounds(spark, nsDir.toString, "ts",
      None, Some(java.time.Instant.parse("2024-03-01T00:00:00Z")))
    assert(edgeKept.size == 1 && edgeKept.head.endsWith("a.parquet"),
      s"ceil(max)/floor(min) must keep the boundary file: $edgeKept")
  }

  test("NTZ footers prune NTZ bounds; instant-vs-NTZ only under a UTC session") {
    import spark.implicits._
    val dir = tmp("skipntz") + "/t"
    spark.range(0, 96).select($"id".as("k"),
      expr("cast(timestamp'2024-04-01 00:00:00' + " +
        "make_interval(0,0,0,0, CAST(id AS INT),0,0) as timestamp_ntz)").as("ts"))
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      .write.parquet(dir)
    Stats.annotate(spark, dir, Seq("ts"))
    val rows = Stats.sidecar(spark, dir).filter(col("col") === "ts").collect()
    assert(rows.forall(r => !r.getAs[Boolean]("t_adj")),
      "NTZ files must record isAdjustedToUTC=false")
    // NTZ bound (LocalDateTime): prunes in any session zone
    val lo = java.time.LocalDateTime.parse("2024-04-04T20:00:00")
    assert(Stats.prunedFilesBounds(spark, dir, "ts", Some(lo), None).size < 4)
    // instant bound vs NTZ stats: comparable under UTC (they coincide) …
    val iBound = java.time.Instant.parse("2024-04-04T20:00:00Z")
    assert(Stats.prunedFilesBounds(spark, dir, "ts", Some(iBound), None).size < 4)
    // … but NOT under another zone — conservative keep-everything
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      assert(Stats.prunedFilesBounds(spark, dir, "ts",
        Some(iBound), None).size == 4,
        "a flavor-mismatched bound outside UTC must not prune")
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }

  test("decimal stats carry their scale: decimal bounds prune, numeric bounds never lie") {
    import spark.implicits._
    val wh = tmp("skipdec")
    val cat = "graftsk_dec"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/t"
    // price = k + 0.25, DECIMAL(12,2), k-clustered into 4 disjoint files
    val df = spark.range(0, 1000).select($"id".as("k"),
      (($"id" + lit(0.25)).cast("decimal(12,2)")).as("price"))
    Sinks.publishVersioned(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      tbl, None, statsCols = Seq("k", "price"))
    val side = Stats.sidecar(spark, Sinks.resolve(tbl))
      .filter(col("col") === "price").collect()
    assert(side.nonEmpty && side.forall(r =>
      !r.isNullAt(r.fieldIndex("dec_scale")) && r.getAs[Int]("dec_scale") == 2),
      "int-backed decimals must record (unscaled, scale), got " +
        side.map(_.toString).mkString("; "))
    // a decimal range through the SQL door opens only overlapping files
    val q = spark.sql(s"SELECT k FROM $cat.t " +
      "WHERE price BETWEEN 100.00 AND 120.50")
    assert(q.count() == 21 && q.inputFiles.length == 1,
      s"decimal prune opened ${q.inputFiles.length} of 4")
    // out-of-domain decimal range opens zero files, answers exactly
    val q2 = spark.sql(s"SELECT k FROM $cat.t WHERE price > 99999.99")
    assert(q2.inputFiles.isEmpty && q2.count() == 0)
    // the Scala door with an exact BigDecimal bound prunes identically
    val kept = Stats.prunedFilesBounds(spark, Sinks.resolve(tbl), "price",
      Some(new java.math.BigDecimal("100.00")),
      Some(new java.math.BigDecimal("120.50")))
    assert(kept.size == 1, s"got ${kept.size}")
    // a LONG bound against the decimal domain must KEEP (pre-round-13
    // the unscaled ints sat in the plain integer domain and 100L vs
    // 10000-unscaled pruned a file that matches — the silent wrong
    // answer this domain exists to prevent)
    val keptLong = Stats.prunedFilesBounds(spark, Sinks.resolve(tbl), "price",
      Some(100L), Some(120L))
    assert(keptLong.size == 4, s"flavor-mismatched bound must not prune: ${keptLong.size}")
    // readWhere with decimal bounds stays result-identical to the filter
    val pruned = Stats.readWhere(spark, Sinks.resolve(tbl), "price",
      new java.math.BigDecimal("100.00"), new java.math.BigDecimal("120.50"))
    assert(pruned.count() == 21)
  }

  test("'graft.stats.columns' auto-collects on every commit — no manual annotate ever") {
    import spark.implicits._
    val wh = tmp("skipauto")
    val cat = "graftsk_auto"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/t"
    // CTAS with the property: the very first data commit is annotated
    (0L until 1000L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("skip_auto_src")
    spark.sql(s"CREATE TABLE $cat.t USING parquet " +
      "TBLPROPERTIES ('graft.stats.columns' = 'k') " +
      "AS SELECT * FROM skip_auto_src")
    val q = spark.sql(s"SELECT k FROM $cat.t WHERE k BETWEEN 100 AND 120")
    assert(q.inputFiles.length == 1,
      s"CTAS with the property must prune immediately, opened ${q.inputFiles.length}")
    assert(q.count() == 21)
    // INSERT (linked commit, no statsCols anywhere): delta annotated too
    // (the two VALUES rows may land as one or two part files — the
    // pruned read must open ONLY delta files, none of the 4 originals)
    spark.sql(s"INSERT INTO $cat.t VALUES (5000, 'x'), (5001, 'y')")
    val q2 = spark.sql(s"SELECT k FROM $cat.t WHERE k >= 4000")
    assert(q2.count() == 2 && q2.inputFiles.length <= 2 && q2.inputFiles.nonEmpty,
      s"the appended delta must carry its own stats (${q2.inputFiles.length} files)")
    // SQL DML commits keep the sidecar live as well
    spark.sql(s"DELETE FROM $cat.t WHERE k = 110")
    val q3 = spark.sql(s"SELECT k FROM $cat.t WHERE k BETWEEN 100 AND 120")
    assert(q3.count() == 20 && q3.inputFiles.length <= 2,
      s"post-DML reads must stay pruned (${q3.inputFiles.length} files)")
    // a typo'd stats column fails the CREATE with no table left behind
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.t2 (k BIGINT) USING parquet " +
        "TBLPROPERTIES ('graft.stats.columns' = 'nope')"))
    assert(e.getMessage.contains("nope"), e.getMessage)
    assert(!spark.catalog.tableExists(s"$cat.t2"))
  }

  test("ALTER SET 'graft.stats.columns' retrofits via the next commit / compaction") {
    import spark.implicits._
    val wh = tmp("skipretro")
    val cat = "graftsk_retro"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/t"
    Sinks.publishVersioned(
      (0L until 1000L).map(i => (i, s"p$i")).toDF("k", "payload")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      tbl, None) // NO stats at publish
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('graft.stats.columns' = 'k')")
    // compaction is the retrofit pass: re-clusters by the declared
    // column and annotates the whole rewritten version (tiny target so
    // the rewrite yields several files — something left to prune)
    Sinks.compactVersioned(spark, tbl, targetBytes = 2048)
    val nFiles = graft.io.Fs.walkParquet(
      java.nio.file.Paths.get(Sinks.resolve(tbl))).size
    assert(nFiles > 1, s"retrofit compaction produced $nFiles file(s)")
    val q = spark.sql(s"SELECT k FROM $cat.t WHERE k BETWEEN 100 AND 120")
    assert(q.count() == 21)
    assert(q.inputFiles.length < nFiles && q.inputFiles.nonEmpty,
      s"compaction under the declared property must re-annotate " +
        s"(${q.inputFiles.length} of $nFiles files)")
    // and a plain append AFTER the retrofit also self-annotates
    import spark.implicits._
    Sinks.appendVersioned(Seq((9000L, "z")).toDF("k", "payload"), tbl,
      Sinks.currentVersion(tbl))
    val q2 = spark.sql(s"SELECT k FROM $cat.t WHERE k >= 8000")
    assert(q2.count() == 1 && q2.inputFiles.length == 1,
      s"got ${q2.inputFiles.length}")
  }

  test("CALL system.annotate_stats lights up SQL skipping on a stats-less table") {
    import spark.implicits._
    val wh = tmp("skipann")
    val cat = "graftsk_an"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/t"
    val df = (0L until 1000L).map(i => (i, s"p$i")).toDF("k", "payload")
    Sinks.publishVersioned(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), tbl, None)
    // no sidecar: the bare scan serves the filter
    val before = spark.sql(s"SELECT k FROM $cat.t WHERE k BETWEEN 100 AND 120")
    assert(before.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(before.count() == 21)
    val row = spark.sql(
      s"CALL $cat.system.annotate_stats(table => 't', columns => 'k')")
      .collect().head
    assert(row.getString(0) == "t" && row.getString(2) == "k")
    // the SAME SQL now opens one file
    val after = spark.sql(s"SELECT k FROM $cat.t WHERE k BETWEEN 100 AND 120")
    assert(after.inputFiles.length == 1,
      s"got ${after.inputFiles.length}")
    assert(after.count() == 21)
    intercept[Exception](spark.sql(
      s"CALL $cat.system.annotate_stats(table => 't', columns => 'nope')"))
  }

  test("SQL point predicates consult the bloom sidecar (membership skipping serves spark.sql)") {
    import spark.implicits._
    val wh = tmp("skipbloom")
    val cat = "graftsk_bl"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/t"
    // ids scattered round-robin (range stats could not prune them) and
    // NO _stats sidecar — only the bloom membership filter can skip
    val df = (0L until 1000L).map(i => (f"id$i%04d", i)).toDF("sid", "n")
    Sinks.publishVersioned(df.repartition(4), tbl, None,
      bloomCols = Seq("sid"))
    val q = spark.sql(s"SELECT n FROM $cat.t WHERE sid = 'id0742'")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(742L))
    assert(q.inputFiles.nonEmpty && q.inputFiles.length < 4,
      s"bloom must skip non-containing files: opened ${q.inputFiles.length} of 4")
    // IN-lists probe all values; a missing value keeps results exact
    val q2 = spark.sql(
      s"SELECT n FROM $cat.t WHERE sid IN ('id0001', 'id0002', 'nope') ORDER BY n")
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("missing or unusable stats degrade to keep-the-file, never to a wrong answer") {
    import spark.implicits._
    val dir = tmp("skipcons") + "/t"
    (0L until 100L).map(i => (i, i.toDouble / 7, s"s$i")).toDF("k", "v", "s")
      .repartitionByRange(4, col("k")).write.parquet(dir)
    Stats.annotate(spark, dir, Seq("k"))
    // a column absent from the sidecar cannot prune: all files kept
    assert(Stats.prunedFiles(spark, dir, "v", 0.0, 0.001).size == 4)
    // fractional bound on an integer-domain column is a caller bug, loudly
    intercept[IllegalArgumentException] {
      Stats.prunedFiles(spark, dir, "k", 1.5, 2.5)
    }
  }

  test("string and double domains prune; an all-null file is skipped") {
    import spark.implicits._
    val dir = tmp("skipdom") + "/t"
    val withVals = (0 until 400).map(i =>
      (f"key$i%03d", i / 10.0, i.toLong))
    withVals.toDF("s", "d", "k")
      .repartitionByRange(4, col("k")).write.parquet(dir)
    // one extra file where s and d are entirely null
    Seq((Option.empty[String], Option.empty[Double], 9999L)).toDF("s", "d", "k")
      .coalesce(1).write.mode("append").parquet(dir)
    Stats.annotate(spark, dir, Seq("s", "d"))
    val nFiles = graft.io.Fs.listDir(java.nio.file.Paths.get(dir))
      .count(_.toString.endsWith(".parquet"))
    assert(nFiles == 5)
    // string range inside the first quarter: 1 file (all-null file skipped)
    assert(Stats.prunedFiles(spark, dir, "s", "key010", "key020").size == 1)
    // double range in the last quarter: 1 file
    assert(Stats.prunedFiles(spark, dir, "d", 35.0, 39.0).size == 1)
    // results identical to the unpruned filter in both domains
    val full = spark.read.parquet(dir)
    for ((c, lo: Any, hi: Any) <- Seq(
        ("s", "key010", "key020"), ("d", 1.0, 3.5))) {
      val a = Stats.readWhere(spark, dir, c, lo, hi)
      val b = full.filter(col(c).between(lit(lo), lit(hi)))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
  }

  test("Z-order layout + stats prune on EITHER clustering dimension") {
    val tbl = graft.queries.ScanOps.statsTable(spark, sf001)
    val live = Sinks.resolve(tbl)
    val total = graft.io.Fs.listDir(java.nio.file.Paths.get(live))
      .count(_.toString.endsWith(".parquet"))
    assert(total >= 8, s"expected a multi-file layout, got $total files")
    val byCust = Stats.prunedFiles(spark, live, "o_custkey", 10L, 40L)
    val byDay = Stats.prunedFiles(spark, live, "o_day", 0L, 60L)
    assert(byCust.size < total,
      s"custkey range pruned nothing: ${byCust.size} of $total")
    assert(byDay.size < total,
      s"day range pruned nothing: ${byDay.size} of $total")
    // and the pruned read equals the fixture-side filter
    val got = Stats.readCurrentWhere(spark, tbl, "o_custkey", 10L, 40L)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val want = Tables.orders(spark, sf001)
      .filter(col("o_custkey").between(10, 40))
      .select("o_orderkey", "o_custkey", "o_totalprice")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("compaction carries the stats sidecar into the rewritten version") {
    import spark.implicits._
    val root = tmp("skipcompact") + "/t"
    val df = (0L until 500L).map(i => (i, s"p$i")).toDF("k", "payload")
    Sinks.publishVersioned(df.repartitionByRange(8, col("k")), root, None,
      statsCols = Seq("k"))
    // a small target so the compacted version still has several files —
    // the prune assertion below needs a multi-file rewrite
    val v = Sinks.compactVersioned(spark, root, targetBytes = 4096L)
    val live = Sinks.versionPath(root, v)
    // the compacted version has its own sidecar over the REWRITTEN files
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(live, Stats.Sidecar)),
      "compaction dropped the stats sidecar — table lost data skipping")
    val side = Stats.sidecar(spark, live)
    assert(side.select("col").distinct().collect().map(_.getString(0)).toSeq == Seq("k"))
    val names = side.select("file").collect().map(_.getString(0)).toSet
    val actual = graft.io.Fs.listDir(java.nio.file.Paths.get(live))
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    assert(names == actual, "sidecar describes stale (pre-compaction) files")
    // and skipping still answers correctly through the live pointer
    val got = Stats.readCurrentWhere(spark, root, "k", 10L, 20L)
    assert(got.count() == 11)
    // the rewrite re-clustered by the stats columns, so the carried
    // stats still PRUNE — a round-robin rewrite would leave every file
    // spanning the full key domain (stats present but useless)
    val totalAfter = actual.size
    if (totalAfter > 1) {
      val kept = Stats.prunedFiles(spark, live, "k", 10L, 20L).size
      assert(kept < totalAfter,
        s"compaction scrambled the clustering: $kept of $totalAfter files kept")
    }
  }

  test("a stats-less version degrades to a full-list read; MERGE can carry stats through") {
    import spark.implicits._
    val root = tmp("skipmerge") + "/t"
    val df = (0L until 300L).map(i => (i, i % 5, s"p$i")).toDF("k", "grp", "payload")
    // v0 published WITHOUT stats: pruning must keep everything, not throw
    Sinks.publishVersioned(df.repartitionByRange(4, col("k")), root, None)
    val live0 = Sinks.resolve(root)
    val all0 = Stats.prunedFiles(spark, live0, "k", 0L, 10L)
    assert(all0.size == 4, "missing sidecar must degrade to the full file list")
    assert(Stats.readCurrentWhere(spark, root, "k", 0L, 10L).count() == 11)
    // a MERGE that carries statsCols restores skipping on the new version
    val delta = Seq((500L, 0L, "new", "upsert")).toDF("k", "grp", "payload", "op")
    graft.ops.Merge.applyTo(spark, root, delta, Seq("k"), "op",
      emitChanges = false, statsCols = Seq("k"))
    val live1 = Sinks.resolve(root)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(live1, Stats.Sidecar)),
      "merge with statsCols did not publish a sidecar")
    assert(Stats.readCurrentWhere(spark, root, "k", 500L, 500L).count() == 1)
  }

  test("stats sidecar publishes atomically with the version and stays invisible to plain reads") {
    import spark.implicits._
    val root = tmp("skipver") + "/t"
    val df = (0L until 200L).map(i => (i, i % 7)).toDF("id", "grp")
    val v = Sinks.publishVersioned(df.repartitionByRange(4, col("id")),
      root, None, statsCols = Seq("id"))
    // sidecar exists inside the version dir
    val side = Stats.sidecar(spark, Sinks.versionPath(root, v))
    assert(side.filter(col("col") === "id").count() == 4)
    // a plain read of the version dir sees the DATA schema only
    val back = Sinks.readCurrent(spark, root)
    assert(back.columns.toSeq == Seq("id", "grp") && back.count() == 200)
    // pruned read through the live pointer
    val hit = Stats.readCurrentWhere(spark, root, "id", 0L, 10L)
    assert(hit.count() == 11)
  }

  test("string pruning orders by UTF-8 bytes, not UTF-16 code units") {
    // U+FF61 (halfwidth ideographic full stop) vs U+10000 (a surrogate
    // pair): UTF-16 code-unit order says FF61 > D800.., UTF-8 byte order
    // (= parquet stats order = Spark's string comparison) says the
    // opposite. A Java-String overlap test would prune the file whose
    // row MATCHES the predicate — a silent wrong answer.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_utf8").toString + "/t"
    val bmp = "｡"              // U+FF61, UTF-8: EF BD A1
    val supp = new String(Character.toChars(0x10000)) // UTF-8: F0 90 80 80
    val lo = ""               // UTF-8: EE 80 80
    Seq(Tuple1(bmp)).toDF("s").coalesce(1).write.parquet(dir)
    Stats.annotate(spark, dir, Seq("s"))
    // Spark's own answer: the row matches s BETWEEN lo AND supp
    assert(spark.read.parquet(dir).filter(col("s").between(lit(lo), lit(supp))).count() == 1)
    // the pruned read must agree — under UTF-16 ordering the file's
    // bounds [FF61, FF61] look disjoint from [E000, D800 DC00] and the
    // file would be dropped
    assert(Stats.prunedFiles(spark, dir, "s", lo, supp).nonEmpty,
      "UTF-16 ordering wrongly pruned a matching file")
    assert(Stats.readWhere(spark, dir, "s", lo, supp).count() == 1)
    // and the reverse stays a genuine prune: a range entirely below the
    // file's min in UTF-8 order skips the file
    assert(Stats.prunedFiles(spark, dir, "s", "a", "b").isEmpty)
  }

  test("stats skipping composes with Hive-partitioned versions (relative sidecar keys)") {
    import spark.implicits._
    val root = tmp("skip_part") + "/t"
    // partitioned table: partition dirs REUSE part-file basenames across
    // directories, so sidecar keys must be dir-relative paths — a
    // basename-keyed sidecar would collide and could mis-prune
    graft.ops.TableProps.store(root, Map(
      graft.ops.TableProps.PartitionKey -> "cat STRING"))
    val df = (0L until 400L).map(i => (i, s"p$i", if (i % 2 == 0) "a" else "b"))
      .toDF("k", "payload", "cat")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, root, None, statsCols = Seq("k"))
    val live = Sinks.resolve(root)
    // layout sanity: partition dirs exist, files nest under them
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(live, "cat=a")))
    val files = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live))
    assert(files.nonEmpty && files.forall(f =>
      f.getParent.getFileName.toString.startsWith("cat=")))
    // basenames DO collide across partition dirs here (each range task
    // writes both categories) — the scenario the relative key exists for
    val byBase = files.groupBy(_.getFileName.toString)
    assert(byBase.exists(_._2.size > 1),
      "fixture no longer reproduces colliding basenames; rework the test")
    // every file has its own stats row under its relative key
    val side = Stats.sidecar(spark, live)
    assert(side.select("file").distinct().count() == files.size)
    // pruning opens only the low-range files; results match a full scan
    val pruned = Stats.prunedFiles(spark, live, "k", 0L, 50L)
    assert(pruned.nonEmpty && pruned.size < files.size,
      s"no pruning happened: ${pruned.size} of ${files.size}")
    val viaStats = Stats.readCurrentWhere(spark, root, "k", 0L, 50L)
    // partition columns survive the per-file read (basePath)
    assert(viaStats.columns.contains("cat"))
    val full = Sinks.readCurrent(spark, root).filter(col("k").between(0, 50))
    assert(viaStats.orderBy("k").collect().toSeq ==
      full.orderBy("k").collect().toSeq)
  }

  // ---- B123: per-file Bloom-filter point-lookup skipping ----

  test("bloom prunes an UNCLUSTERED point lookup where min/max stats cannot") {
    import spark.implicits._
    val dir = tmp("bloom") + "/t"
    // hash layout: every file's [min,max] spans ~the whole key domain,
    // so B109 range stats keep all files for any point probe — the
    // exact shape bloom membership exists for
    (0L until 4000L).map(i => (i, s"id-$i", s"p$i")).toDF("k", "sid", "payload")
      .repartition(8, col("k"))
      .write.parquet(dir)
    Stats.annotate(spark, dir, Seq("k"))
    graft.ops.Bloom.annotate(spark, dir, Seq("k", "sid"), expectedItems = 1000L)
    val all = graft.io.Fs.walkParquet(java.nio.file.Paths.get(dir))
    assert(all.size == 8)
    // stats alone prune nothing for a mid-domain point
    assert(Stats.prunedFiles(spark, dir, "k", 1234L, 1234L).size == 8)
    // bloom keeps few files (≥ the true one; fpp makes >1 possible but
    // with 8 files at 1% the expected extras are ~0.07 — assert < half)
    val kept = graft.ops.Bloom.prunedFilesEq(spark, dir, "k", 1234L)
    assert(kept.nonEmpty && kept.size < 4, s"bloom kept ${kept.size} of 8")
    // the read is hash-identical to the full scan, and string cols work
    for ((c, v) <- Seq(("k", 1234L: Any), ("sid", "id-77": Any))) {
      val pruned = graft.ops.Bloom.readWhereEq(spark, dir, c, v)
      val full = spark.read.parquet(dir).filter(col(c) === lit(v))
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
        s"readWhereEq($c, $v) diverged from the full scan")
      assert(pruned.count() == 1)
    }
    // an absent value usually opens NO file (deterministic sketch — if
    // a false positive ever trips this, change the probe, not the code)
    val miss = graft.ops.Bloom.readWhereEq(spark, dir, "sid", "id-99999")
    assert(miss.count() == 0)
    assert(graft.ops.Bloom.prunedFilesEq(spark, dir, "sid", "id-99999").size <= 1)
  }

  test("bloom degrades conservatively: no sidecar, unannotated column, all-null group") {
    import spark.implicits._
    val dir = tmp("bloomcons") + "/t"
    (0L until 100L).map(i => (i, if (i < 50) null else s"v$i"))
      .toDF("k", "s").repartition(4, col("k")).write.parquet(dir)
    // no _bloom sidecar at all → every file kept, result exact
    assert(graft.ops.Bloom.prunedFilesEq(spark, dir, "k", 7L).size == 4)
    val noSide = graft.ops.Bloom.readWhereEq(spark, dir, "k", 7L)
    assert(noSide.count() == 1)
    graft.ops.Bloom.annotate(spark, dir, Seq("s"), expectedItems = 100L)
    // column not in the sidecar → kept
    assert(graft.ops.Bloom.prunedFilesEq(spark, dir, "k", 7L).size == 4)
    // nulls were never inserted; matching non-null values still found
    val hit = graft.ops.Bloom.readWhereEq(spark, dir, "s", "v77")
    assert(hit.count() == 1)
    // null probe is a caller bug, loudly
    intercept[IllegalArgumentException] {
      graft.ops.Bloom.prunedFilesEq(spark, dir, "s", null)
    }
  }

  test("compaction REBUILDS the _bloom sidecar over the rewritten files (round-14)") {
    import spark.implicits._
    val root = tmp("bloomcomp") + "/t"
    val df = (0L until 3000L).map(i => (i, s"d$i")).toDF("k", "payload")
      .repartition(8, col("k"))
    Sinks.publishVersioned(df, root, None, statsCols = Seq("k"))
    graft.ops.Bloom.annotate(spark, Sinks.resolve(root), Seq("k"),
      expectedItems = 500L)
    assert(graft.ops.Bloom.prunedFilesEq(spark, Sinks.resolve(root), "k", 777L).size < 8)
    // pre-round-14 the rewrite DROPPED the sidecar (its rows describe
    // files that no longer exist) and point lookups silently degraded
    // until an operator re-ran CALL system.bloom_index; now compaction
    // re-annotates the live sidecar's columns over the rewritten files
    // inside the SAME staged commit — no manual step, no stale rows
    graft.ops.Sinks.compactVersioned(spark, root, targetBytes = 64L * 1024)
    val live = Sinks.resolve(root)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(live, graft.ops.Bloom.Sidecar)),
      "compaction must rebuild the bloom sidecar, not drop it")
    // every rewritten file is freshly annotated (no stale carried keys)
    val all = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live))
      .map(_.toString.stripPrefix(live).stripPrefix("/")).toSet
    val annotated = spark.read
      .parquet(s"$live/${graft.ops.Bloom.Sidecar}")
      .select("file").distinct().as[String].collect().toSet
    assert(annotated == all, s"sidecar keys $annotated != live files $all")
    // lookups stay exact and the index stays live
    assert(graft.ops.Bloom.readCurrentWhereEq(spark, root, "k", 777L).count() == 1)
  }

  test("declared graft.bloom.columns: every commit annotates, compaction keeps pruning (round-14)") {
    import spark.implicits._
    val root = tmp("bloomdecl") + "/t"
    // declare BEFORE any data — the property drives every later commit
    graft.ops.TableProps.update(root)(_ +
      (graft.ops.TableProps.BloomKey -> "user"))
    val v0 = (0L until 2000L).map(i => (i, s"u${i % 701}"))
      .toDF("k", "user").repartition(4, col("k"))
    // NO bloomCols argument anywhere: the declaration alone must build it
    Sinks.publishVersioned(v0, root, None)
    val live0 = Sinks.resolve(root)
    assert(graft.ops.Bloom.sidecarCols(spark, live0) == Seq("user"),
      "declared bloom column not annotated by a plain publish")
    // append: delta files annotated, carried rows kept
    val delta = (9000L until 9400L).map(i => (i, s"w$i"))
      .toDF("k", "user").repartition(2, col("k"))
    Sinks.appendVersioned(delta, root, Some(Sinks.currentVersion(root).get))
    val live1 = Sinks.resolve(root)
    val all1 = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live1)).size
    assert(graft.ops.Bloom.prunedFilesEq(spark, live1, "user", "w9123").size < all1,
      "appended key must prune via the delta's declared-bloom rows")
    // compaction: prunes IMMEDIATELY after, with no manual CALL
    graft.ops.Sinks.compactVersioned(spark, root, targetBytes = 8L * 1024)
    val live2 = Sinks.resolve(root)
    val all2 = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live2)).size
    assert(all2 > 1, s"fixture must stay multi-file to show pruning, got $all2")
    val kept = graft.ops.Bloom.prunedFilesEq(spark, live2, "user", "u123")
    assert(kept.size < all2,
      s"declared bloom must prune right after compaction: kept ${kept.size} of $all2")
    assert(graft.ops.Bloom.readCurrentWhereEq(spark, root, "user", "w9123")
      .count() == 1)
  }

  test("declared graft.cluster.columns: compaction re-clusters so range stats prune (round-14)") {
    import spark.implicits._
    val root = tmp("clustdecl") + "/t"
    graft.ops.TableProps.update(root)(_ +
      (graft.ops.TableProps.ClusterKey -> "k"))
    // publish UNCLUSTERED (hash-scattered): every file spans the domain
    val df = (0L until 4000L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartition(8, col("payload"))
    Sinks.publishVersioned(df, root, None)
    val live0 = Sinks.resolve(root)
    // cluster columns are implicitly stats-annotated on every commit…
    assert(Stats.sidecarCols(spark, live0) == Seq("k"))
    // …but the scattered layout prunes nothing for a narrow range
    assert(Stats.prunedFiles(spark, live0, "k", 100L, 120L).size == 8)
    // maintenance with NO per-call layout arguments re-clusters by the
    // declared key; the same narrow range now opens a fraction
    graft.ops.Sinks.compactVersioned(spark, root, targetBytes = 24L * 1024)
    val live1 = Sinks.resolve(root)
    val n = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live1)).size
    assert(n > 1, s"fixture must stay multi-file, got $n")
    val kept = Stats.prunedFiles(spark, live1, "k", 100L, 120L)
    assert(kept.size < n,
      s"declared clustering must make range stats prune: kept ${kept.size} of $n")
    // results stay exact through the re-laid table
    assert(Sinks.readCurrent(spark, root).filter(col("k").between(100L, 120L))
      .count() == 21)
  }

  test("declared 2-D graft.cluster.columns: compaction Z-orders, both dimensions prune (round-14)") {
    import spark.implicits._
    val root = tmp("clustz") + "/t"
    graft.ops.TableProps.update(root)(_ +
      (graft.ops.TableProps.ClusterKey -> "x,y"))
    // two independent uniform dimensions, insertion-ordered by neither
    val df = (0L until 8000L).map(i => ((i * 7919L) % 1000L, (i * 104729L) % 1000L, i))
      .toDF("x", "y", "payload").repartition(8, col("payload"))
    Sinks.publishVersioned(df, root, None)
    graft.ops.Sinks.compactVersioned(spark, root, targetBytes = 24L * 1024)
    val live = Sinks.resolve(root)
    val n = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live)).size
    assert(n >= 4, s"need a multi-file layout to show 2-D pruning, got $n")
    // a narrow slice on EITHER dimension must skip files — the Z-order
    // property a single-column sort cannot give
    val keptX = Stats.prunedFiles(spark, live, "x", 0L, 99L)
    val keptY = Stats.prunedFiles(spark, live, "y", 0L, 99L)
    assert(keptX.size < n, s"x-slice kept ${keptX.size} of $n")
    assert(keptY.size < n, s"y-slice kept ${keptY.size} of $n")
    // exactness through the interleaved layout
    val got = Sinks.readCurrent(spark, root)
      .filter(col("x") < 100L && col("y") < 100L).count()
    val want = df.filter(col("x") < 100L && col("y") < 100L).count()
    assert(got == want)
  }

  test("append inherits the bloom sidecar at O(delta): old and new keys both prune") {
    import spark.implicits._
    val root = tmp("bloomapp") + "/t"
    val v0 = (0L until 2000L).map(i => (i, s"r$i")).toDF("k", "payload")
      .repartition(4, col("k"))
    // bloomCols: index built IN the atomic commit, no post-commit step
    Sinks.publishVersioned(v0, root, None, statsCols = Seq("k"),
      bloomCols = Seq("k"))
    val delta = (10000L until 10500L).map(i => (i, s"r$i")).toDF("k", "payload")
      .repartition(2, col("k"))
    Sinks.appendVersioned(delta, root, Some(0L))
    val live = Sinks.resolve(root)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(live, graft.ops.Bloom.Sidecar)),
      "append lost the bloom sidecar")
    val all = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live)).size
    assert(all == 6) // 4 carried + 2 delta
    // a v0-era key prunes via the CARRIED filter rows…
    assert(graft.ops.Bloom.prunedFilesEq(spark, live, "k", 777L).size < all)
    assert(graft.ops.Bloom.readCurrentWhereEq(spark, root, "k", 777L).count() == 1)
    // …and an appended key via the delta's NEW rows
    assert(graft.ops.Bloom.prunedFilesEq(spark, live, "k", 10123L).size < all)
    assert(graft.ops.Bloom.readCurrentWhereEq(spark, root, "k", 10123L).count() == 1)
    // absent key: nothing (or a rare fp) opens
    assert(graft.ops.Bloom.prunedFilesEq(spark, live, "k", 999999L).size <= 1)
  }

  test("compactSidecar rewrites the pile to live keys only, lookups unchanged") {
    import spark.implicits._
    val dir = tmp("bloomckpt") + "/t"
    (0L until 1000L).map(i => (i, s"x$i")).toDF("k", "s")
      .repartition(4, col("k")).write.parquet(dir)
    graft.ops.Bloom.annotate(spark, dir, Seq("k"), expectedItems = 300L)
    // simulate a COW rewrite: one data file vanishes, its rows go stale
    val victim = graft.io.Fs.walkParquet(java.nio.file.Paths.get(dir)).head
    val victimKey = victim.getFileName.toString
    java.nio.file.Files.delete(victim)
    graft.ops.Bloom.compactSidecar(spark, dir)
    val side = spark.read.parquet(s"$dir/${graft.ops.Bloom.Sidecar}")
    assert(side.filter(col("file") === victimKey).count() == 0,
      "stale row survived the checkpoint")
    assert(graft.io.Fs.listDir(java.nio.file.Paths.get(dir, graft.ops.Bloom.Sidecar))
      .count(_.getFileName.toString.endsWith(".parquet")) == 1)
    // remaining data still lookup-exact through the compacted sidecar
    val k = spark.read.parquet(dir).agg(min("k")).head().getLong(0)
    val got = graft.ops.Bloom.readWhereEq(spark, dir, "k", k)
    val full = spark.read.parquet(dir).filter(col("k") === k)
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty)
  }

  test("bloom refuses partition columns — directory pruning owns them") {
    import spark.implicits._
    val dir = tmp("bloompart") + "/t"
    (0L until 200L).map(i => (i, if (i % 2 == 0) "00123" else "00456", s"p$i"))
      .toDF("k", "cat", "payload")
      .write.partitionBy("cat").parquet(dir)
    // a partition column's value here is directory-name INFERRED — a
    // filter built from it could silently miss declared-string probes
    val err = intercept[IllegalArgumentException] {
      graft.ops.Bloom.annotate(spark, dir, Seq("cat"))
    }
    assert(err.getMessage.contains("partition"))
    // data columns index fine on the same partitioned layout
    graft.ops.Bloom.annotate(spark, dir, Seq("k"), expectedItems = 100L)
    val hit = graft.ops.Bloom.readWhereEq(spark, dir, "k", 77L)
    assert(hit.count() == 1)
    assert(hit.columns.contains("cat")) // partition col survives basePath read
  }

  test("bloom composes with stats on a versioned table: intersection prunes, result exact") {
    import spark.implicits._
    val root = tmp("bloomver") + "/t"
    val df = (0L until 2000L).map(i => (i, s"u${i % 997}", i % 7))
      .toDF("k", "user", "grp").repartition(8, col("k"))
    Sinks.publishVersioned(df, root, None, statsCols = Seq("k"))
    val live = Sinks.resolve(root)
    graft.ops.Bloom.annotate(spark, live, Seq("k"), expectedItems = 500L)
    val viaBoth = graft.ops.Bloom.readCurrentWhereEq(spark, root, "k", 555L)
    val full = Sinks.readCurrent(spark, root).filter(col("k") === 555L)
    assert(viaBoth.collect().toSeq == full.collect().toSeq)
    assert(viaBoth.count() == 1)
  }
  test("write-time clustering Z-orders multi-column keys: BOTH dimensions prune from the first commit (round-14)") {
    import spark.implicits._
    import graft.ops.{Sinks, Stats, TableProps}
    val root = tmp("graft_cwrite2d") + "/t"
    TableProps.update(root)(_ +
      (TableProps.ClusterKey -> "x,y") + (TableProps.ClusterWriteKey -> "true") +
      (TableProps.StatsKey -> "x,y"))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // x and y deliberately independent, insertion order scattered in
      // both — a leading-column range layout could never prune y
      val df = (0L until 8000L)
        .map(i => ((i * 2654435761L) % 2000L, (i * 40503L + 17L) % 2000L, s"p$i"))
        .toDF("x", "y", "payload").repartition(8)
      Sinks.publishVersioned(df, root, None)
      val v0 = Sinks.resolve(root)
      val total = graft.io.Fs.walkParquet(java.nio.file.Paths.get(v0)).size
      assert(total >= 4, s"fixture must land several files, got $total")
      val prunedX = Stats.prunedFiles(spark, v0, "x", 0L, 99L)
      val prunedY = Stats.prunedFiles(spark, v0, "y", 0L, 99L)
      assert(prunedX.size < total && prunedY.size < total,
        s"write-time Z-order must prune BOTH dims: x ${prunedX.size}/$total, " +
          s"y ${prunedY.size}/$total")
      // pruned reads stay exact on both dimensions
      val wantX = Sinks.readCurrent(spark, root)
        .filter(col("x").between(0, 99)).collect().toSet
      assert(Stats.readCurrentWhere(spark, root, "x", 0L, 99L)
        .collect().toSet == wantX)
      val wantY = Sinks.readCurrent(spark, root)
        .filter(col("y").between(0, 99)).collect().toSet
      assert(Stats.readCurrentWhere(spark, root, "y", 0L, 99L)
        .collect().toSet == wantY)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("write-time clustering ('graft.cluster.write'): every commit lands range-skippable before any compaction (round-14)") {
    import spark.implicits._
    import graft.ops.{Sinks, Stats, TableProps}
    val root = tmp("graft_cwrite") + "/t"
    TableProps.update(root)(_ +
      (TableProps.ClusterKey -> "k") + (TableProps.ClusterWriteKey -> "true"))
    // AQE off for the leg: a KB-scale delta would coalesce to one file
    // and make the subset assertion vacuous; production deltas are
    // file-sized and split on their own
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scattered(seed: Long) = (0L until 4000L)
        .map(i => ((i * 2654435761L + seed) % 4000L, s"p$i"))
        .toDF("k", "payload").repartition(8) // deliberately unclustered
      Sinks.publishVersioned(scattered(0L), root, None)
      val v0 = Sinks.resolve(root)
      val total0 = graft.io.Fs.walkParquet(java.nio.file.Paths.get(v0)).size
      assert(total0 >= 2, s"fixture must land several files, got $total0")
      val pruned0 = Stats.prunedFiles(spark, v0, "k", 0L, 99L)
      assert(pruned0.size < total0,
        s"a write-clustered commit must range-prune, got ${pruned0.size}/$total0")
      // a linked APPEND's delta clusters at write too
      Sinks.appendVersioned(scattered(7L), root, Some(0L))
      val v1 = Sinks.resolve(root)
      val total1 = graft.io.Fs.walkParquet(java.nio.file.Paths.get(v1)).size
      val pruned1 = Stats.prunedFiles(spark, v1, "k", 0L, 99L)
      assert(pruned1.size < total1,
        s"an appended delta must range-prune, got ${pruned1.size}/$total1")
      // pruned reads stay exact
      val want = Sinks.readCurrent(spark, root)
        .filter(col("k").between(0, 99)).collect().toSet
      assert(Stats.readCurrentWhere(spark, root, "k", 0L, 99L)
        .collect().toSet == want)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // the switch validates like every behavior property: a non-boolean
    // fails the CREATE loudly, leaving no table
    val wh = tmp("graft_cwrite_cat")
    spark.conf.set("spark.sql.catalog.gcw", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcw.root", wh)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE gcw.bad (k BIGINT) TBLPROPERTIES(" +
        "'graft.cluster.columns' = 'k', 'graft.cluster.write' = 'yes')")
    }
    assert(e.getMessage.contains("must be 'true' or 'false'"), e.getMessage)
  }

  test("snapshotRead over every live file equals the whole-version read on every version shape") {
    import spark.implicits._
    val wh = tmp("snapparity")
    spark.conf.set("spark.sql.catalog.graftsnap", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftsnap.root", wh)
    val base = (0L until 60L).map(i => (i, (i % 4).toString, i.toInt, s"w$i"))
      .toDF("k", "grp", "n", "w")
    def mk(name: String): String = {
      val t = s"$wh/$name"
      Sinks.publishVersioned(base.repartition(3), t, None, statsCols = Seq("k"))
      t
    }
    val flat = mk("flat")
    val parted = mk("parted")
    Sinks.repartitionTable(spark, parted, Seq("grp"))
    val dv = mk("dv")
    Sinks.deleteVector(spark, dv, col("k") % 5 === 0)
    val eqd = mk("eqd")
    graft.ops.EqDel.upsertBatch(spark,
      (0L until 8L).map(i => (i, "9", -i.toInt, s"up$i")).toDF("k", "grp", "n", "w"),
      eqd, Seq("k"))
    val mapped = mk("mapped")
    spark.sql("ALTER TABLE graftsnap.mapped RENAME COLUMN w TO word")
    spark.sql("ALTER TABLE graftsnap.mapped DROP COLUMN grp")
    spark.sql("ALTER TABLE graftsnap.mapped ADD COLUMNS (extra STRING)")
    spark.sql("ALTER TABLE graftsnap.mapped ALTER COLUMN n TYPE BIGINT")
    val hidden = mk("hidden")
    Sinks.repartitionTable(spark, hidden, Seq("bucket(4, k)"))
    val mixed = mk("mixed")
    Sinks.repartitionTable(spark, mixed, Seq("grp"), metadataOnly = true)
    Sinks.appendVersioned(
      (60L until 80L).map(i => (i, (i % 4).toString, i.toInt, s"w$i")).toDF("k", "grp", "n", "w"),
      mixed, Sinks.currentVersion(mixed))
    Sinks.deleteVector(spark, mixed, col("k") % 7 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for (t <- Seq(flat, parted, dv, eqd, mapped, hidden, mixed)) {
      val live = Sinks.resolve(t)
      val files = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live)).map(_.toString)
      val whole = Sinks.snapshotRead(spark, t, live)
      val listed = Sinks.snapshotRead(spark, t, live, Some(files))
      assert(listed.schema == whole.schema,
        s"$t:\n listed: ${listed.schema.treeString}\n whole: ${whole.schema.treeString}")
      assert(rows(listed) == rows(whole), s"$t: rows differ")
      // nothing kept: no rows, the same columns and types
      val none = Sinks.snapshotRead(spark, t, live, Some(Nil))
      assert(none.schema.map(f => (f.name, f.dataType)) ==
        whole.schema.map(f => (f.name, f.dataType)), s"$t: ${none.schema.treeString}")
      assert(none.count() == 0)
    }
    // the shapes really are what they claim
    assert(Sinks.hasLayoutLegs(Sinks.resolve(mixed)))
    assert(graft.ops.ColMap.exists(Sinks.resolve(mapped)))
    assert(Sinks.snapshotRead(spark, mapped, Sinks.resolve(mapped)).columns.toSeq ==
      Seq("k", "n", "word", "extra"))
    assert(Sinks.readCurrent(spark, dv).count() == 48)
    assert(Sinks.readCurrent(spark, eqd).filter(col("w").startsWith("up")).count() == 8)
    assert(Sinks.readCurrent(spark, hidden).columns.toSeq == Seq("k", "grp", "n", "w"))
  }
}
