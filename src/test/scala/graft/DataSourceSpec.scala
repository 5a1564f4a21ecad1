package graft

import java.nio.file.Files

import graft.ops.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.read.format("graft")` (B184): the path-based read door — no
  * catalog registration, snapshot-pinned at load, composing with the
  * whole optimizer tier because the returned table is a
  * GraftSnapshotDir like any catalog snapshot.
  */
class DataSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String = Files.createTempDirectory("graft_fmt").toString

  test("live read == readCurrent; versionAsOf and tag pin snapshots") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    val v0 = spark.range(0, 40).select($"id".as("k"))
    Sinks.publishVersioned(v0, tbl, None)
    Sinks.tagVersion(tbl, "first", 0L)
    Sinks.publishVersioned(v0.filter($"k" < 10), tbl, Some(0L))
    assert(spark.read.format("graft").load(tbl).count() == 10)
    assert(spark.read.format("graft").option("versionAsOf", 0).load(tbl)
      .count() == 40)
    assert(spark.read.format("graft").option("tag", "first").load(tbl)
      .count() == 40)
    // snapshot isolation: a frame loaded BEFORE a new commit keeps its pin
    val pinned = spark.read.format("graft").load(tbl)
    Sinks.publishVersioned(v0.limit(3), tbl, Some(1L))
    assert(pinned.count() == 10 &&
      spark.read.format("graft").load(tbl).count() == 3)
  }

  test("timestampAsOf resolves the newest version at or before the instant (round-14)") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    Sinks.publishVersioned(spark.range(0, 40).select($"id".as("k")), tbl, None)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    Sinks.publishVersioned(spark.range(0, 7).select($"id".as("k")), tbl, Some(0L))
    val at = java.time.Instant.ofEpochMilli(betweenMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    assert(spark.read.format("graft").option("timestampAsOf", at).load(tbl)
      .count() == 40, "the instant between commits must resolve v0")
    val now = java.time.Instant.now().atZone(java.time.ZoneOffset.UTC)
      .toLocalDateTime.toString
    assert(spark.read.format("graft").option("timestampAsOf", now).load(tbl)
      .count() == 7, "a current instant must resolve the live version")
    // zone-suffixed ISO and date-only spellings parse like SQL casts do
    val nowZ = java.time.Instant.now().toString // ...Z suffix
    assert(spark.read.format("graft").option("timestampAsOf", nowZ).load(tbl)
      .count() == 7)
    val tomorrow = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      .plusDays(1).toString
    assert(spark.read.format("graft").option("timestampAsOf", tomorrow).load(tbl)
      .count() == 7)
    // pre-history and malformed instants fail loudly
    val e = intercept[IllegalArgumentException](spark.read.format("graft")
      .option("timestampAsOf", "1999-01-01 00:00:00").load(tbl))
    assert(e.getMessage.contains("at or before"), e.getMessage)
    intercept[IllegalArgumentException](spark.read.format("graft")
      .option("timestampAsOf", "not-a-time").load(tbl))
  }

  test("deletion vectors subtract through the format read; filters push down") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    Sinks.publishVersioned(
      spark.range(0, 100).select($"id".as("k"), ($"id" % 10).as("g")), tbl, None)
    Sinks.deleteVector(spark, tbl, col("g") === 7)
    val df = spark.read.format("graft").load(tbl)
    assert(df.count() == 90 && df.filter($"g" === 7).count() == 0)
    // pushdown reaches the parquet scan on a clean table
    val clean = s"${tmp()}/c"
    Sinks.publishVersioned(spark.range(0, 50).select($"id".as("k")), clean, None)
    val plan = spark.read.format("graft").load(clean)
      .filter($"k" === 7).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(k,7)"), plan)
  }

  test("refusals: bad tag, expired version, missing table; writes rejected") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    Sinks.publishVersioned(spark.range(5).select($"id".as("k")), tbl, None)
    val e = intercept[Exception](
      spark.read.format("graft").option("tag", "nope").load(tbl).count())
    assert(e.getMessage.contains("no tag"), e.getMessage)
    val e2 = intercept[Exception](
      spark.read.format("graft").option("versionAsOf", 9).load(tbl).count())
    assert(e2.getMessage.contains("does not exist"), e2.getMessage)
    intercept[Exception](
      spark.read.format("graft").load(s"${tmp()}/absent").count())
    // writes exist now (round-16) but stay refusal-gated: a time-travel
    // option refuses (writes target the CURRENT version), a misaligned
    // frame refuses — the table is never corrupted either way
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e3 = intercept[Exception](
      spark.range(3).write.format("graft").option("versionAsOf", 0)
        .mode("append").save(tbl))
    assert(msgs(e3).exists(_.contains("read-only")), msgs(e3).mkString(" | "))
    val e4 = intercept[Exception](
      spark.range(3).write.format("graft").mode("append").save(tbl))
    assert(msgs(e4).exists(_.contains("not in")), msgs(e4).mkString(" | "))
    assert(Sinks.listVersions(tbl) == Seq(0L))
  }

  test("the write stub for an unpublished root reports the schema it was handed") {
    import org.apache.spark.sql.types._
    val declared = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val props = new java.util.HashMap[String, String]()
    props.put("path", s"${tmp()}/unpublished")
    val stub = new graft.catalog.GraftDataSource().getTable(declared,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform], props)
    assert(stub.schema() == declared)
    assert(stub.capabilities().isEmpty)
  }

  test("the write door: create, append O(delta), overwrite, save modes, gates (round-16)") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // default mode on a fresh root CREATES: empty v0 (the race anchor),
    // partition spec as props, data as v1 under the declared grid
    spark.range(0, 40).select($"id".as("k"), ($"id" % 4).cast("string").as("p"))
      .write.format("graft").partitionBy("p").save(tbl)
    assert(Sinks.listVersions(tbl) == Seq(0L, 1L))
    assert(graft.ops.TableProps.partitionCols(tbl) == Seq("p"))
    val dir1 = Sinks.versionPath(tbl, 1L)
    assert(graft.io.Fs.listDir(java.nio.file.Paths.get(dir1))
      .exists(_.getFileName.toString.startsWith("p=")),
      "the created table must lay data out under the declared grid")
    assert(spark.read.format("graft").load(tbl).count() == 40)
    // append is a LINKED commit: prior files carried by inode, and the
    // insert feed makes the commit table_changes-readable
    spark.range(40, 50).select($"id".as("k"), ($"id" % 4).cast("string").as("p"))
      .write.format("graft").mode("append").save(tbl)
    assert(spark.read.format("graft").load(tbl).count() == 50)
    val changed = spark.sql(s"SELECT * FROM table_changes('$tbl', 1, 2)")
    assert(changed.filter(col("_change_type") === "insert").count() == 10)
    // save-mode matrix on an existing table
    val e = intercept[Exception](spark.range(3).select($"id".as("k"),
      lit("0").as("p")).write.format("graft").save(tbl))
    assert(msgs(e).exists(_.contains("already holds")), msgs(e).mkString(" | "))
    spark.range(3).select($"id".as("k"), lit("0").as("p"))
      .write.format("graft").mode("ignore").save(tbl)
    assert(spark.read.format("graft").load(tbl).count() == 50, "ignore is a no-op")
    // partitionBy disagreeing with the declared layout refuses
    val e2 = intercept[Exception](spark.range(3).select($"id".as("k"),
      lit("0").as("p")).write.format("graft").mode("append")
      .partitionBy("k").save(tbl))
    assert(msgs(e2).exists(_.contains("declared partitioning")),
      msgs(e2).mkString(" | "))
    // by-name alignment: column order does not matter, missing columns
    // NULL-fill, casts land
    Seq(("9", 90)).toDF("p", "k").write.format("graft").mode("append").save(tbl)
    assert(spark.read.format("graft").load(tbl)
      .filter(col("k") === 90L && col("p") === "9").count() == 1)
    // overwrite replaces the live contents; history stays travelable
    spark.range(0, 7).select($"id".as("k"), lit("z").as("p"))
      .write.format("graft").mode("overwrite").save(tbl)
    assert(spark.read.format("graft").load(tbl).count() == 7)
    assert(spark.read.format("graft").option("versionAsOf", 2).load(tbl)
      .count() == 50, "pre-overwrite versions stay travelable")
    // the row gates ride this door too: a catalog-declared generated
    // column derives on a path-door append, identity assigns, and the
    // value lands under the same table the catalog serves
    val cat = "gfmtw"
    val root2 = tmp()
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root2)
    spark.sql(s"CREATE TABLE $cat.g (rid BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "code STRING, pfx STRING GENERATED ALWAYS AS (substring(code, 1, 2))" +
      ") USING parquet")
    Seq("ABCD", "EFGH").toDF("code")
      .write.format("graft").mode("append").save(s"$root2/g")
    val got = spark.table(s"$cat.g").orderBy("code")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(("ABCD", "AB"), ("EFGH", "EF")), got.toString)
    assert(spark.table(s"$cat.g").select("rid").distinct().count() == 2,
      "identity values must assign on the path door")
  }

  test("the streaming sink door: creates on first batch, appends exactly-once, restart dedupes (round-16)") {
    val tbl = s"${tmp()}/t"
    val cp = s"${tmp()}/cp"
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "p").writeStream
      .format("graft").option("checkpointLocation", cp)
      .partitionBy("p").start(tbl)
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    assert(spark.read.format("graft").load(tbl).count() == 2)
    assert(graft.ops.TableProps.partitionCols(tbl) == Seq("p"),
      "the first batch must land the declared partition spec")
    mem.addData((3L, "a"))
    q.processAllAvailable()
    assert(spark.read.format("graft").load(tbl).count() == 3)
    q.stop()
    // a restart on the SAME checkpoint resumes without re-appending
    val q2 = mem.toDF().toDF("k", "p").writeStream
      .format("graft").option("checkpointLocation", cp).start(tbl)
    mem.addData((4L, "b"))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.format("graft").load(tbl).orderBy("k")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L), rows.toString)
    // the grid is real (directory partitioning under each version)
    assert(graft.io.Fs.listDir(java.nio.file.Paths.get(Sinks.resolve(tbl)))
      .exists(_.getFileName.toString.startsWith("p=")))
    // non-append output modes refuse loudly
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val e = intercept[Exception](
      mem2.toDF().toDF("k", "p").groupBy("p").count().writeStream
        .format("graft").option("checkpointLocation", s"${tmp()}/cp2")
        .outputMode("complete").start(s"${tmp()}/t2"))
    assert(msgs(e).exists(_.contains("Append output mode only")),
      msgs(e).mkString(" | "))
  }

  test("one streaming sink door micro-batch runs only graft-labelled jobs") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "p").writeStream
      .format("graft").option("checkpointLocation", s"${tmp()}/cp").start(tbl)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "a"))
      val before = Sinks.currentVersion(tbl)
      val (_, jobs) = JobLog.jobsOf(spark)(q.processAllAvailable())
      assert(Sinks.currentVersion(tbl) == before.map(_ + 1), "the batch must commit")
      assert(jobs.nonEmpty && jobs.forall(_.startsWith("graft: ")),
        s"unlabelled jobs in one batch: $jobs")
    } finally q.stop()
    assert(spark.read.format("graft").load(tbl).count() == 3)
  }

  test("the streaming sink refuses a missing checkpointLocation (exactly-once tag must not default to the root)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // the hazardous case is a SESSION-DEFAULT checkpoint: Spark resolves
    // a real (per-query) checkpoint dir but the sink's parameters carry
    // no checkpointLocation, so the old root-derived fallback would give
    // two such queries on one table the SAME batch-dedupe tag — they
    // would silently skip each other's batch ids. The door must refuse.
    val key = "spark.sql.streaming.checkpointLocation"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, s"${tmp()}/sessdefault")
    try {
      val e = intercept[Exception](
        mem.toDF().toDF("k", "p").writeStream
          .format("graft").start(s"${tmp()}/t"))
      assert(msgs(e).exists(m => m.contains("checkpointLocation") &&
          m.contains("dedupe")),
        msgs(e).mkString(" | "))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the streaming source door: readStream tails the change feed; format-to-format composes (round-16)") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    Sinks.enableStreamFeed(tbl)
    Sinks.publishVersioned(
      (0L until 10L).map(i => (i, s"a$i")).toDF("k", "s"), tbl, None)
    Sinks.appendVersioned((10L until 15L).map(i => (i, s"b$i")).toDF("k", "s"),
      tbl, Some(0L), emitFeed = true)
    val q = spark.readStream.format("graft").load(tbl)
      .writeStream.format("memory").queryName("fmt_feed")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("fmt_feed").count() == 5,
      "the plain v0 publish emits no feed; the append's 5 inserts do")
    // a later commit streams incrementally into the SAME running query
    Sinks.appendVersioned((15L until 18L).map(i => (i, s"c$i")).toDF("k", "s"),
      tbl, Some(1L), emitFeed = true)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fmt_feed")
    assert(rows.count() == 8)
    assert(rows.groupBy("_commit_version").count().orderBy("_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 5L), (2L, 3L)))
    // format-to-format: the feed stream lands in ANOTHER graft table
    // through the sink door — the bronze→silver shape, zero catalog
    val out = s"${tmp()}/silver"
    val q2 = spark.readStream.format("graft").load(tbl)
      .drop("_change_type", "_commit_version")
      .writeStream.format("graft")
      .option("checkpointLocation", s"${tmp()}/cp").start(out)
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.format("graft").load(out).count() == 8)
    // a feed-less table refuses at load, with the remedy
    val bare = s"${tmp()}/bare"
    Sinks.publishVersioned(spark.range(3).toDF("k"), bare, None)
    val e = intercept[Exception](
      spark.readStream.format("graft").load(bare))
    assert(e.getMessage.contains("enableStreamFeed"), e.getMessage)
  }

  test("partitioned tables keep declared partition types through the format") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    graft.ops.TableProps.store(tbl,
      Map(graft.ops.TableProps.PartitionKey -> "part STRING"))
    Sinks.publishVersioned(
      spark.range(0, 24).select($"id".as("k"),
        concat(lit("0"), ($"id" % 3).cast("string")).as("part")), tbl, None)
    val df = spark.read.format("graft").load(tbl)
    // a STRING partition value of "00" must not infer into an int
    assert(df.schema("part").dataType.typeName == "string")
    assert(df.filter($"part" === "00").count() == 8)
  }

  test("pure-bucket hidden specs stay schema-hidden through the format door too (round-15)") {
    // the catalog door's SnapshotTable filters `_tp_*` derived columns;
    // the format door must equally — SELECT * on both doors agrees
    val root = tmp()
    spark.conf.set("spark.sql.catalog.gfmtb", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gfmtb.root", root)
    import spark.implicits._
    (0L until 200L).map(i => (i, s"p$i")).toDF("k", "payload")
      .createOrReplaceTempView("fmt_bkt_src")
    spark.sql("CREATE TABLE gfmtb.t (k BIGINT, payload STRING) USING parquet " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gfmtb.t SELECT * FROM fmt_bkt_src")
    val viaFormat = spark.read.format("graft").load(s"$root/t")
    assert(viaFormat.columns.toSeq == Seq("k", "payload"),
      s"format door must hide the derived bucket column, got ${viaFormat.columns.toSeq}")
    assert(viaFormat.columns.toSeq == spark.table("gfmtb.t").columns.toSeq,
      "both doors must serve the same logical schema")
    assert(viaFormat.count() == 200L &&
      viaFormat.agg(sum($"k")).head.getLong(0) == (0L until 200L).sum,
      "hiding the column must not drop rows")
  }

  test("SQL direct path query: SELECT ... FROM graft.`/root` (Delta spelling)") {
    val tbl = s"${tmp()}/t"
    import spark.implicits._
    Sinks.publishVersioned(
      spark.range(0, 30).select($"id".as("k"), ($"id" % 3).as("g")), tbl, None)
    val got = spark.sql(
      s"SELECT g, count(*) AS n FROM graft.`$tbl` GROUP BY g ORDER BY g")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 10L), (1L, 10L), (2L, 10L)))
    // deletion vectors subtract through the SQL path form too
    Sinks.deleteVector(spark, tbl, col("g") === 1)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$tbl`")
      .collect().head.getLong(0) == 20)
  }
}
