package graft

import java.nio.file.{Files, Path, Paths}

import graft.ops.{Dv, EqDel, Sinks, Stats}
import org.scalatest.funsuite.AnyFunSuite

/** Schema probes on the commit path: driver-side footer inference must
  * agree with Spark's own inference wherever it replaces it, and the
  * schema work of an eq-delete micro-batch and of append alignment
  * must submit no Spark job of its own.
  */
class SchemaProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def jobsOf[T](body: => T): (T, Seq[String]) = JobLog.jobsOf(spark)(body)

  private def assertParity(p: String): Unit = {
    val (got, jobs) = jobsOf(Sinks.inferSchema(spark, p))
    assert(jobs.isEmpty, s"driver-side inference of $p submitted jobs: $jobs")
    val want = spark.read.parquet(p).schema
    assert(got == want, s"\n got: ${got.treeString}\nwant: ${want.treeString}")
  }

  /** One zero-row parquet file written by parquet-hadoop (no Spark
    * schema in its footer), so inference runs the footer converter.
    */
  private def writeRaw(dir: Path, name: String, message: String): Unit = {
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    Files.createDirectories(dir)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(message)
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    GroupWriteSupport.setSchema(schema, conf)
    ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve(name).toUri), conf))
      .withConf(conf).build().close()
  }

  private val rawTypes =
    """message m {
      |  required int64 k;
      |  optional binary bin;
      |  optional binary s (UTF8);
      |  optional fixed_len_byte_array(9) dec (DECIMAL(20,4));
      |  optional int64 dl (DECIMAL(18,2));
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 ntz (TIMESTAMP(MICROS,false));
      |  optional int96 legacy_ts;
      |  optional group st { optional int32 a; optional group inner { optional binary c (UTF8); } }
      |  optional group arr (LIST) { repeated group list { optional int64 element; } }
      |  optional group mp (MAP) { repeated group key_value { required binary key (UTF8); optional double value; } }
      |}""".stripMargin

  test("driver-side inference equals Spark's on flat dirs: Spark-written rich types, raw footers, binaryAsString") {
    // Spark-written files carry Spark's own schema in the footer
    val sparkDir = tmp("probe_spark") + "/d"
    spark.sql(
      """SELECT CAST(id AS DECIMAL(18,4)) AS d, CAST(id AS DECIMAL(38,10)) AS big,
        |  TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
        |  TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ntz,
        |  named_struct('a', id, 'b', named_struct('c', CAST(id AS STRING))) AS s,
        |  array(id, id + 1) AS arr, map(CAST(id AS STRING), array(id)) AS m,
        |  CAST(CAST(id AS STRING) AS BINARY) AS bin, id AS k
        |FROM range(10)""".stripMargin)
      .repartition(3).write.parquet(sparkDir)
    assertParity(sparkDir)
    // raw footers go through the converter, under the session's confs
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    for (asString <- Seq("false", "true")) {
      spark.conf.set(key, asString)
      try {
        val rawDir = Paths.get(tmp("probe_raw"), "d")
        writeRaw(rawDir, "part-00000.parquet", rawTypes)
        assertParity(rawDir.toString)
        val bin = Sinks.inferSchema(spark, rawDir.toString)("bin").dataType
        assert(bin.simpleString == (if (asString == "true") "string" else "binary"))
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("driver-side inference reads the first data file by path, skips hidden files, and matches a driver-written _eqseq part") {
    val dir = Paths.get(tmp("probe_pick"), "d")
    writeRaw(dir, "part-b.parquet", "message m { required int64 late; }")
    writeRaw(dir, "part-a.parquet", "message m { required int64 early; optional double x; }")
    writeRaw(dir, ".hidden.parquet", "message m { required int32 dot; }")
    writeRaw(dir, "_side.parquet", "message m { required int32 under; }")
    assertParity(dir.toString)
    assert(Sinks.inferSchema(spark, dir.toString).fieldNames.toSeq == Seq("early", "x"))
    val seq = Paths.get(tmp("probe_seq"), EqDel.SeqSidecar)
    graft.io.Fs.writePart(spark, seq,
      org.apache.spark.sql.types.StructType.fromDDL("file STRING NOT NULL, seq BIGINT NOT NULL"),
      Iterator(org.apache.spark.sql.Row("part-0.parquet", 3L),
        org.apache.spark.sql.Row("part-1.parquet", 4L)))
    assertParity(seq.toString)
  }

  test("partitioned dirs keep Spark's inference") {
    import spark.implicits._
    val dir = tmp("probe_part") + "/d"
    Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(dir)
    val got = Sinks.inferSchema(spark, dir)
    assert(got == spark.read.parquet(dir).schema)
    assert(got.fieldNames.toSeq == Seq("k", "v", "p"))
  }

  test("an upsertStreamTo micro-batch on a maintained table submits only graft-labelled jobs") {
    import spark.implicits._
    val root = tmp("probe_stream") + "/t"
    val cp = tmp("probe_streamcp")
    val src = tmp("probe_streamsrc")
    Sinks.publishVersioned((0L until 100L).map(i => (i, s"base$i")).toDF("k", "v"), root, None)
    EqDel.upsertBatch(spark, Seq((1L, "u1")).toDF("k", "v"), root, Seq("k"))
    assert(EqDel.exists(Sinks.resolve(root)))
    def land(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("k", "v", "op").coalesce(1).write.mode("append").parquet(src)
    land(Seq((2L, "s1_2", "upsert"), (3L, null, "delete")))
    val q = EqDel.upsertStreamTo(
      spark.readStream.schema("k LONG, v STRING, op STRING").parquet(src), root, cp,
      keys = Seq("k"), opCol = Some("op"))
    try {
      q.processAllAvailable()
      land(Seq((4L, "s2_4", "upsert"), (2L, "s2_2", "upsert"), (5L, null, "delete")))
      val before = Sinks.currentVersion(root)
      val (_, jobs) = jobsOf(q.processAllAvailable())
      assert(Sinks.currentVersion(root) == before.map(_ + 1), "the batch must commit")
      assert(jobs.nonEmpty)
      assert(jobs.forall(_.startsWith("graft: ")), s"unlabelled jobs in one batch: $jobs")
    } finally q.stop()
    val got = Sinks.readCurrent(spark, root).as[(Long, String)].collect().toMap
    assert(got(2L) == "s2_2" && got(4L) == "s2_4" && got(1L) == "u1")
    assert(!got.contains(3L) && !got.contains(5L))
  }

  /** The serial-merge state of `base` after `batches` of (k, v, op,
    * seq) CDC rows, each collapsed to its last row per key by seq.
    */
  private def serialMerge(base: Map[Long, String],
      batches: Seq[Seq[(Long, String, String, Long)]]): Map[Long, String] =
    batches.foldLeft(base) { (acc, b) =>
      b.groupBy(_._1).values.map(_.maxBy(_._4)).foldLeft(acc) { (m, r) =>
        if (r._3 == "delete") m - r._1 else m + (r._1 -> r._2)
      }
    }

  test("an upsertStreamTo micro-batch runs at most 3 graft jobs on every route; state = serial merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = (0L until 100L).map(i => i -> s"base$i").toMap
    // (route, opCol, dedupeBy, the batch columns the stream carries)
    val routes = Seq(
      ("opCol + dedupeBy", Some("op"), Seq("seq"), Seq("k", "v", "op", "seq")),
      ("opCol only", Some("op"), Nil, Seq("k", "v", "op")),
      ("plain keys", None, Nil, Seq("k", "v")),
      ("all-delete batch", Some("op"), Nil, Seq("k", "v", "op")))
    routes.foreach { case (route, opCol, dedupeBy, cols) =>
      val root = tmp("probe_budget") + "/t"
      val cp = tmp("probe_budgetcp")
      val src = tmp("probe_budgetsrc")
      Sinks.publishVersioned(base.toSeq.sortBy(_._1).toDF("k", "v"), root, None)
      EqDel.upsertBatch(spark, Seq((1L, "u1")).toDF("k", "v"), root, Seq("k"))
      val first = Seq((2L, "a2", "upsert", 1L), (3L, "a3", "upsert", 1L))
      val second = route match {
        case "opCol + dedupeBy" => Seq((4L, "b4", "upsert", 1L), (2L, "b2x", "upsert", 1L),
          (2L, "b2", "upsert", 2L), (5L, null, "delete", 1L), (3L, "b3", "upsert", 1L),
          (3L, null, "delete", 2L))
        case "opCol only" => Seq((4L, "b4", "upsert", 1L), (2L, "b2", "upsert", 1L),
          (5L, null, "delete", 1L))
        case "plain keys" => Seq((4L, "b4", "upsert", 1L), (2L, "b2", "upsert", 1L))
        case _ => Seq((2L, null, "delete", 1L), (5L, null, "delete", 1L),
          (77L, null, "delete", 1L))
      }
      def land(rows: Seq[(Long, String, String, Long)]): Unit =
        rows.toDF("k", "v", "op", "seq").coalesce(1).write.mode("append").parquet(src)
      land(first)
      val q = EqDel.upsertStreamTo(
        spark.readStream.schema("k LONG, v STRING, op STRING, seq LONG").parquet(src)
          .select(cols.map(col): _*),
        root, cp, keys = Seq("k"), opCol = opCol, dedupeBy = dedupeBy)
      try {
        q.processAllAvailable()
        land(second)
        val before = Sinks.currentVersion(root)
        val (_, jobs) = jobsOf(q.processAllAvailable())
        assert(Sinks.currentVersion(root) == before.map(_ + 1), s"$route: the batch must commit")
        assert(jobs.nonEmpty && jobs.size <= 3, s"$route: ${jobs.size} jobs: $jobs")
        assert(jobs.forall(_.startsWith("graft: ")), s"$route: unlabelled jobs: $jobs")
        assert(!jobs.exists(_.contains("tombstone sidecar")),
          s"$route: a small batch's tombstones ride the data-stage write: $jobs")
      } finally q.stop()
      val want = serialMerge(base + (1L -> "u1"), Seq(first, second))
      val got = Sinks.readCurrent(spark, root).as[(Long, String)].collect()
      assert(got.length == got.map(_._1).distinct.length, s"$route: duplicate keys")
      assert(got.toMap == want, route)
    }
  }

  test("at or above the plan-size guard applyCdc pins the batch and writes the tombstone part with a job") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tmp("probe_guard") + "/t"
    Sinks.publishVersioned((0L until 100L).map(i => (i, s"base$i")).toDF("k", "v"), root, None)
    // a plan whose size estimate is far above the guard (the range's
    // 8 bytes a row times its length; a filter keeps the estimate) and
    // whose rows are few
    val batch = spark.range(0L, 10000000L).filter(col("id") < 40L)
      .select(col("id").as("k"), concat(lit("u"), col("id").cast("string")).as("v"),
        when(col("id") % 4 === 0, "delete").otherwise("upsert").as("op"))
    assert(batch.queryExecution.analyzed.stats.sizeInBytes >= EqDel.ObservedKeysMaxBytes)
    val (v, jobs) = jobsOf(EqDel.applyCdc(batch, root, Seq("k"), opCol = Some("op")))
    assert(Sinks.currentVersion(root).contains(v))
    assert(jobs.contains("graft: eq-delete tombstone sidecar"), jobs.toString)
    val want = (0L until 100L).map(i => i -> (if (i < 40L) s"u$i" else s"base$i"))
      .filterNot { case (i, _) => i < 40L && i % 4 == 0 }.toMap
    assert(Sinks.readCurrent(spark, root).as[(Long, String)].collect().toMap == want)
    assert(EqDel.pending(spark, Sinks.resolve(root)).count() == 40)
  }

  test("upsertBatch with extraDeletes writes the tombstone part with a job; state = serial merge") {
    import spark.implicits._
    val root = tmp("probe_extra") + "/t"
    Sinks.publishVersioned((0L until 20L).map(i => (i, s"base$i")).toDF("k", "v"), root, None)
    val (_, jobs) = jobsOf(EqDel.upsertBatch(spark, Seq((1L, "u1"), (30L, "u30")).toDF("k", "v"),
      root, Seq("k"), extraDeletes = Some(Seq(2L, 3L, 99L).toDF("k"))))
    assert(jobs.contains("graft: eq-delete tombstone sidecar"), jobs.toString)
    val want = (0L until 20L).map(i => i -> s"base$i").toMap - 2L - 3L +
      (1L -> "u1") + (30L -> "u30")
    assert(Sinks.readCurrent(spark, root).as[(Long, String)].collect().toMap == want)
  }

  test("alignToLive's live schema equals the read funnel's: partitioned + added column, rename, drop, hidden partitions") {
    val root = tmp("probe_shapes")
    spark.conf.set("spark.sql.catalog.gprobe", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gprobe.root", root)
    def sameAsFunnel(t: String): Unit = {
      val tr = s"$root/$t"
      val funnel = Sinks.readCurrent(spark, tr)
      val aligned = Sinks.alignToLive(funnel, tr, Sinks.currentVersion(tr))
      assert(aligned.schema.map(f => (f.name, f.dataType)) ==
        funnel.schema.map(f => (f.name, f.dataType)), t)
    }
    spark.sql("CREATE TABLE gprobe.pa (k BIGINT, v STRING, p INT) USING parquet PARTITIONED BY (p)")
    spark.sql("INSERT INTO gprobe.pa VALUES (1, 'a', 1), (2, 'b', 2)")
    // no file carries the added column yet: the read schema appends it
    // after the partition column, and the funnel's relation moves the
    // partition column last again
    spark.sql("ALTER TABLE gprobe.pa ADD COLUMNS (score DOUBLE)")
    assert(graft.ops.ColMap.added(Sinks.resolve(s"$root/pa")).nonEmpty)
    assert(Sinks.readCurrent(spark, s"$root/pa").columns.toSeq == Seq("k", "v", "score", "p"))
    sameAsFunnel("pa")
    spark.sql("CREATE TABLE gprobe.rd (k BIGINT, v STRING, w STRING) USING parquet")
    spark.sql("INSERT INTO gprobe.rd VALUES (1, 'a', 'x')")
    spark.sql("ALTER TABLE gprobe.rd RENAME COLUMN v TO vv")
    spark.sql("ALTER TABLE gprobe.rd DROP COLUMN w")
    assert(graft.ops.ColMap.exists(Sinks.resolve(s"$root/rd")))
    sameAsFunnel("rd")
    spark.sql("CREATE TABLE gprobe.hp (ts TIMESTAMP, u BIGINT) USING parquet " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO gprobe.hp VALUES (TIMESTAMP'2024-01-01 10:00:00', 1)")
    sameAsFunnel("hp")
  }

  test("alignToLive on an eq-delete + DV version submits no job and still rejects drift") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmp("probe_align") + "/t"
    Sinks.publishVersioned((0L until 50L).map(i => (i, s"v$i", i * 1.5)).toDF("k", "v", "x"),
      root, None)
    EqDel.upsertBatch(spark, Seq((1L, "u1", 0.0)).toDF("k", "v", "x"), root, Seq("k"))
    Sinks.deleteVector(spark, root, col("k") === 7L)
    val v = Sinks.currentVersion(root)
    val dir = Sinks.resolve(root)
    assert(EqDel.exists(dir) && Dv.exists(dir))
    val live = Sinks.readCurrent(spark, root).schema
    // column order follows the table, whatever the append's order
    val (aligned, jobs) = jobsOf(
      Sinks.alignToLive(Seq((99.0, "n", 60L)).toDF("x", "v", "k"), root, v))
    assert(jobs.isEmpty, s"alignToLive submitted jobs: $jobs")
    assert(aligned.columns.toSeq == live.fieldNames.toSeq)
    def rejected(df: => org.apache.spark.sql.DataFrame, msg: String): Unit = {
      val (e, js) = jobsOf(intercept[IllegalArgumentException](Sinks.alignToLive(df, root, v)))
      assert(e.getMessage.contains(msg), e.getMessage)
      assert(js.isEmpty, s"rejecting alignToLive submitted jobs: $js")
    }
    rejected(Seq((60L, "n")).toDF("k", "v"), "missing: x")
    rejected(Seq((60L, "n", 1.0, 2)).toDF("k", "v", "x", "y"), "extra: y")
    rejected(Seq((60L, "n", "1.0")).toDF("k", "v", "x"), "x is double but the append carries string")
  }

  test("stats-pruned reads of an unpartitioned, unmapped table build their plan without a schema-inference job") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val wh = tmp("probe_prune")
    spark.conf.set("spark.sql.catalog.graftprobe", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftprobe.root", wh)
    val root = s"$wh/t"
    Sinks.publishVersioned((0L until 400L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      root, None, statsCols = Seq("k"))
    val live = Sinks.resolve(root)
    assert(Sinks.readSchemaFor(spark, root, live).isEmpty,
      "the table must be one whose read schema nothing pins")
    // Scala door: the per-(dir, column) prune is memoized, so once it
    // is warm the plan build is the read alone
    assert(Stats.prunedFiles(spark, live, "k", 100L, 120L).size == 1)
    val (pruned, jobs) = jobsOf(Stats.readWhere(spark, live, "k", 100L, 120L)
      .queryExecution.analyzed)
    assert(jobs.isEmpty, s"readWhere's plan build submitted jobs: $jobs")
    assert(pruned.collectLeaves().size == 1)
    // SQL door: the swap's only jobs are its unmemoized sidecar
    // row-count read (Stats.maxRowsOf), which the same call counts
    val sql = "SELECT k, v FROM graftprobe.t WHERE k BETWEEN 100 AND 120"
    spark.sql(sql).queryExecution.optimizedPlan // warms the pruning memos
    val q = spark.sql(sql)
    val (_, sidecarJobs) = jobsOf(Stats.maxRowsOf(spark, live, Set(s"$live/x.parquet")))
    val (optimized, swapJobs) = jobsOf(q.queryExecution.optimizedPlan)
    assert(optimized.collectFirst {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
    }.isDefined, s"the filter did not swap to the pruned read: $optimized")
    assert(swapJobs.size == sidecarJobs.size,
      s"the StatsSkipRule swap submitted $swapJobs beyond the sidecar read's $sidecarJobs")
    assert(q.inputFiles.length == 1 && q.count() == 21)
  }

  test("a warm stats-skipping swap submits no job: the sidecar rows come from the version memo") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val wh = tmp("probe_warm")
    spark.conf.set("spark.sql.catalog.graftwarm", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftwarm.root", wh)
    Sinks.publishVersioned((0L until 400L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      s"$wh/t", None, statsCols = Seq("k"))
    val sql = "SELECT k, v FROM graftwarm.t WHERE k BETWEEN 100 AND 120"
    spark.sql(sql).queryExecution.optimizedPlan // warms the sidecar memo
    val q = spark.sql(sql)
    val (optimized, jobs) = jobsOf(q.queryExecution.optimizedPlan)
    assert(optimized.collectFirst {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
    }.isDefined, s"the filter did not swap to the pruned read: $optimized")
    assert(jobs.isEmpty, s"the warm swap submitted jobs: $jobs")
    assert(q.inputFiles.length == 1 && q.count() == 21)
  }
}
