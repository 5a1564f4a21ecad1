package graft

import java.nio.file.{Files, Paths}

import graft.ops.{Merge, Sinks, Stats, TableProps, TableStream}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** O(delta) appends, RESTORE, and the streaming table tier (B118/B119):
  * appends must equal the union without rewriting carried files, restarted
  * streaming writers must commit each batch exactly once, and the feed
  * directory must expose exactly the live commits' changes to a
  * file-stream reader.
  */
class TableStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("appendVersioned equals union, carries files by link, and is O(delta) on disk") {
    import spark.implicits._
    val root = tmp("app") + "/t"
    val a = (0L until 500L).map(i => (i, s"a$i")).toDF("k", "s")
    val b = (500L until 600L).map(i => (i, s"b$i")).toDF("k", "s")
    Sinks.publishVersioned(a, root, None)
    val v1 = Sinks.appendVersioned(b, root, Some(0L))
    assert(v1 == 1L)
    // result = union
    val got = Sinks.readCurrent(spark, root).orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    val want = (a.collect() ++ b.collect()).map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.sameElements(want))
    // carried files are the SAME inodes (hardlinks), not copies
    val v0Files = graft.io.Fs.walkParquet(Paths.get(Sinks.versionPath(root, 0)))
    val v1Files = graft.io.Fs.walkParquet(Paths.get(Sinks.versionPath(root, 1)))
    assert(v1Files.size > v0Files.size)
    val carried = v0Files.map(f => Paths.get(Sinks.versionPath(root, 1)).resolve(f.getFileName))
    carried.foreach { f =>
      assert(Files.exists(f))
      assert(Files.getAttribute(f, "unix:nlink").asInstanceOf[Int] >= 2,
        s"$f should be a hardlink to the v0 file, not a rewrite")
    }
    // time travel still sees the pre-append snapshot
    assert(Sinks.readVersion(spark, root, 0).count() == 500)
  }

  test("append rejects schema drift and stale expected versions") {
    import spark.implicits._
    val root = tmp("appbad") + "/t"
    Sinks.publishVersioned(Seq((1L, "x")).toDF("k", "s"), root, None)
    val drift = intercept[IllegalArgumentException] {
      Sinks.appendVersioned(Seq((2L, "y", 3.0)).toDF("k", "s", "extra"), root, Some(0L))
    }
    assert(drift.getMessage.contains("schema"))
    // same names but a drifted TYPE is committed corruption readers find
    // later — must fail at the append
    val retyped = intercept[IllegalArgumentException] {
      Sinks.appendVersioned(Seq(("2", "y")).toDF("k", "s"), root, Some(0L))
    }
    assert(retyped.getMessage.contains("type mismatch"))
    intercept[java.util.ConcurrentModificationException] {
      Sinks.appendVersioned(Seq((2L, "y")).toDF("k", "s"), root, Some(5L))
    }
    // column ORDER is realigned, not rejected
    Sinks.appendVersioned(Seq(("z", 9L)).toDF("s", "k"), root, Some(0L))
    val row = Sinks.readCurrent(spark, root).filter(col("k") === 9L).collect().head
    assert(row.getAs[String]("s") == "z")
  }

  test("append carries the stats sidecar and annotates only new files") {
    import spark.implicits._
    val root = tmp("appstats") + "/t"
    val a = (0L until 400L).map(i => (i, s"a$i")).toDF("k", "s")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(a, root, None, statsCols = Seq("k"))
    val b = (1000L until 1200L).map(i => (i, s"b$i")).toDF("k", "s")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Sinks.appendVersioned(b, root, Some(0L), statsCols = Seq("k"))
    val live = Sinks.resolve(root)
    // the sidecar covers carried AND new files
    val statRows = Stats.sidecar(spark, live).select("file").distinct().count()
    assert(statRows == graft.io.Fs.walkParquet(Paths.get(live)).size.toLong)
    // pruning works across the append boundary: old-range query opens
    // only old files, new-range only new
    assert(Stats.prunedFiles(spark, live, "k", 0L, 100L).size == 1)
    assert(Stats.prunedFiles(spark, live, "k", 1000L, 1050L).size == 1)
    assert(Stats.readWhere(spark, live, "k", 1000L, 1050L).count() == 51)
  }

  test("sidecar carry-over names stay stable and checkpoint past the threshold") {
    import spark.implicits._
    val root = tmp("appsc") + "/t"
    Sinks.publishVersioned((0L until 50L).map(i => (i, s"a$i")).toDF("k", "s")
      .coalesce(1), root, None, statsCols = Seq("k"))
    for (n <- 1 to 4)
      Sinks.appendVersioned(
        ((n * 1000L) until (n * 1000L + 10L)).map(i => (i, s"b$i")).toDF("k", "s")
          .coalesce(1), root, Some(n - 1L))
    val live = java.nio.file.Paths.get(Sinks.resolve(root))
    val sideFiles = graft.io.Fs.listDir(live.resolve(Stats.Sidecar))
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
    // one sidecar file per commit, ORIGINAL names — no compounding
    // prefixes (compounding names eventually exceed NAME_MAX and brick
    // the table)
    assert(sideFiles.size == 5)
    assert(sideFiles.forall(n => n.startsWith("part-") && n.length < 120))
    assert(Stats.readWhere(spark, live.toString, "k", 4000L, 4005L).count() == 6)
    // past the checkpoint threshold one append rewrites the pile into a
    // single fresh sidecar covering every file
    val prevSide = live.resolve(Stats.Sidecar)
    val src = graft.io.Fs.listDir(prevSide)
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    (sideFiles.size until Sinks.StatsCheckpointEvery + 1).foreach { i =>
      java.nio.file.Files.createLink(prevSide.resolve(s"pad$i-dup.parquet"), src)
    }
    Sinks.appendVersioned(Seq((9000L, "z")).toDF("k", "s"), root, Some(4L))
    val after = java.nio.file.Paths.get(Sinks.resolve(root))
    val afterFiles = graft.io.Fs.listDir(after.resolve(Stats.Sidecar))
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
    assert(afterFiles.size == 1, s"checkpoint should collapse the sidecar, got $afterFiles")
    assert(Stats.sidecar(spark, after.toString).select("file").distinct().count() ==
      graft.io.Fs.walkParquet(after).size.toLong)
    assert(Stats.readWhere(spark, after.toString, "k", 9000L, 9000L).count() == 1)
  }

  test("append lays out partitioned tables and keeps pruning") {
    import spark.implicits._
    val root = tmp("apppart") + "/t"
    TableProps.store(root, Map(TableProps.PartitionKey -> "region STRING"))
    val a = Seq((1L, "eu"), (2L, "us")).toDF("k", "region")
    Sinks.publishVersioned(a, root, None)
    Sinks.appendVersioned(Seq((3L, "eu"), (4L, "ap")).toDF("k", "region"), root, Some(0L))
    val cur = Sinks.readCurrent(spark, root)
    assert(cur.count() == 4)
    assert(cur.filter(col("region") === "eu").count() == 2)
    // partition dirs exist for carried and appended values
    val live = Paths.get(Sinks.resolve(root))
    for (p <- Seq("region=eu", "region=us", "region=ap"))
      assert(Files.isDirectory(live.resolve(p)), s"missing $p")
  }

  test("restoreVersion rewinds by link and keeps history") {
    import spark.implicits._
    val root = tmp("restore") + "/t"
    Sinks.publishVersioned((0L until 100L).toDF("k"), root, None)
    Sinks.publishVersioned((0L until 10L).toDF("k"), root, Some(0L)) // bad overwrite
    val v2 = Sinks.restoreVersion(spark, root, 0L)
    assert(v2 == 2L)
    assert(Sinks.readCurrent(spark, root).count() == 100)
    assert(Sinks.readVersion(spark, root, 1).count() == 10) // history intact
    // restoring the live version is a no-op
    assert(Sinks.restoreVersion(spark, root, 2L) == 2L)
    intercept[IllegalStateException] { Sinks.restoreVersion(spark, root, 9L) }
  }

  test("streamTo commits each batch exactly once across a restart") {
    import spark.implicits._
    val root = tmp("stream") + "/t"
    val cp = tmp("streamcp")
    val src = tmp("streamsrc")
    val schema = "k LONG, s STRING"
    (0L until 100L).map(i => (i, s"a$i")).toDF("k", "s")
      .coalesce(1).write.mode("append").parquet(src)
    val q1 = TableStream.streamTo(
      spark.readStream.schema(schema).parquet(src), root, cp)
    q1.processAllAvailable(); q1.stop()
    assert(Sinks.readCurrent(spark, root).count() == 100)
    // restart with MORE data: only the new file lands, nothing replays
    (100L until 150L).map(i => (i, s"b$i")).toDF("k", "s")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = TableStream.streamTo(
      spark.readStream.schema(schema).parquet(src), root, cp)
    q2.processAllAvailable(); q2.stop()
    assert(Sinks.readCurrent(spark, root).count() == 150)
    assert(Sinks.readCurrent(spark, root).select("k").distinct().count() == 150)
  }

  test("streamTo assigns identity values and derives generated columns (round-16)") {
    // the streaming sink is a first-class writer: a NULL identity cell
    // reserves under the commit lock and a NULL generated cell derives,
    // exactly like a SQL INSERT — previously both landed as silent NULLs
    import spark.implicits._
    val base = tmp("streamgen")
    val root = base + "/t"
    val cp = tmp("streamgencp")
    val src = tmp("streamgensrc")
    spark.conf.set("spark.sql.catalog.graft_tsg", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tsg.root", base)
    // declare BEFORE the first batch creates data: the table must exist
    // with its specs so the stream's first commit derives too
    spark.sql(s"CREATE TABLE graft_tsg.t (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 100 INCREMENT BY 1), code STRING, " +
      "pfx STRING GENERATED ALWAYS AS (substring(code, 1, 2))) USING parquet")
    (0 until 6).map(i => (null.asInstanceOf[java.lang.Long], s"C${i}XX", null
      .asInstanceOf[String])).toDF("id", "code", "pfx")
      .coalesce(1).write.mode("append").parquet(src)
    val q = TableStream.streamTo(
      spark.readStream.schema("id LONG, code STRING, pfx STRING").parquet(src),
      root, cp)
    q.processAllAvailable(); q.stop()
    val got = spark.table("graft_tsg.t").orderBy("code").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.length == 6)
    assert(got.map(_._1).distinct.length == 6 && got.map(_._1).forall(_ >= 100L),
      s"identity values must be unique reservations: ${got.mkString(",")}")
    assert(got.forall(t => t._3 == t._2.take(2)),
      s"generated values must derive: ${got.mkString(",")}")
  }

  test("a committed-then-crashed batch is not re-appended (commit survives a lost props update)") {
    import spark.implicits._
    val root = tmp("crash") + "/t"
    // simulate: the append committed with its _BATCHID stamp, but the
    // writer died before TableProps.update recorded the high-water mark
    Sinks.appendVersioned(Seq((1L, "x")).toDF("k", "s"), root, None,
      batchTag = Some("deadbeef:0"))
    assert(TableStream.committed(root, "deadbeef", 0L))
    // an orphan ABOVE current (rename happened, pointer flip did not)
    // must NOT count as committed — its data was never visible
    val orphan = Paths.get(Sinks.versionPath(root, 7))
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("_BATCHID"), "deadbeef:3".getBytes("UTF-8"))
    assert(!TableStream.committed(root, "deadbeef", 3L))
    // distinct writer tags do not shadow each other
    assert(!TableStream.committed(root, "cafebabe", 0L))
  }

  test("feed directory exposes exactly the live commits' changes and streams with versions") {
    import spark.implicits._
    val root = tmp("feed") + "/t"
    Sinks.enableStreamFeed(root)
    // v0: plain publish (no feed emitted) — must NOT appear in the feed
    Sinks.publishVersioned((0L until 10L).map(i => (i, s"a$i")).toDF("k", "s"), root, None)
    // v1, v2: appends with the insert feed
    Sinks.appendVersioned((10L until 15L).map(i => (i, s"b$i")).toDF("k", "s"),
      root, Some(0L), emitFeed = true)
    Sinks.appendVersioned((15L until 18L).map(i => (i, s"c$i")).toDF("k", "s"),
      root, Some(1L), emitFeed = true)
    // batch read of the feed dir: 8 insert rows, v0's 10 absent
    val batch = spark.read.parquet(s"$root/${Sinks.FeedDir}")
    assert(batch.count() == 8)
    assert(batch.filter(col("_change_type") =!= "insert").count() == 0)
    // streaming read carries the commit version parsed from the file name
    val got = TableStream.streamFeed(spark, root)
      .writeStream.format("memory").queryName("feed_t").outputMode("append").start()
    got.processAllAvailable(); got.stop()
    val rows = spark.table("feed_t")
    assert(rows.count() == 8)
    assert(rows.groupBy("_commit_version").count().orderBy("_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 5L), (2L, 3L)))
    // a MERGE commit's feed rides along too (update/delete rows)
    val delta = Seq((10L, "B10", "upsert"), (0L, "", "delete")).toDF("k", "s", "op")
    Merge.applyTo(spark, root, delta, Seq("k"), "op", emitChanges = true)
    val after = spark.read.parquet(s"$root/${Sinks.FeedDir}")
    assert(after.filter(col("_change_type") === "update_postimage").count() == 1)
    assert(after.filter(col("_change_type") === "delete").count() == 1)
  }

  test("feed links survive vacuum and a missing link is repaired by the next commit") {
    import spark.implicits._
    val root = tmp("feedvac") + "/t"
    Sinks.enableStreamFeed(root)
    Sinks.publishVersioned((0L until 10L).toDF("k"), root, None)
    Sinks.appendVersioned((10L until 20L).toDF("k"), root, Some(0L), emitFeed = true)
    // crash simulation: delete the feed link of v1 (commit stamped the
    // pointer but died before reconcile... or an operator rm'd it)
    graft.io.Fs.listDir(Paths.get(root, Sinks.FeedDir)).foreach(p => Files.delete(p))
    assert(spark.read.schema("k LONG, _change_type STRING")
      .parquet(s"$root/${Sinks.FeedDir}").count() == 0)
    // the next commit repairs the whole live chain
    Sinks.appendVersioned((20L until 25L).toDF("k"), root, Some(1L), emitFeed = true)
    assert(spark.read.parquet(s"$root/${Sinks.FeedDir}").count() == 15)
    // vacuum old versions: compaction keeps the data; feed files survive
    // as their own inodes
    Sinks.compactVersioned(spark, root, retainVersions = 0)
    assert(Sinks.listVersions(root).min >= 2L)
    assert(spark.read.parquet(s"$root/${Sinks.FeedDir}").count() == 15)
  }

  test("SQL INSERT INTO is an O(delta) linked append that keeps stats and feeds") {
    import spark.implicits._
    val wh = tmp("insap")
    spark.conf.set("spark.sql.catalog.insap", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.insap.root", wh)
    val root = s"$wh/t"
    // v0 via the API with footer stats, so inheritance is observable
    Sinks.publishVersioned((0L until 100L).map(i => (i, s"a$i")).toDF("k", "s"),
      root, None, statsCols = Seq("k"))
    Sinks.enableStreamFeed(root)
    spark.sql("INSERT INTO insap.t VALUES (1000, 'x'), (1001, 'y')") // v1
    spark.sql("INSERT INTO insap.t VALUES (1002, 'z')")              // v2
    assert(spark.sql("SELECT count(*) FROM insap.t").head.getLong(0) == 103)
    // v2 carries v1's files as hardlinks, not rewrites
    val v1Files = graft.io.Fs.walkParquet(Paths.get(Sinks.versionPath(root, 1)))
    v1Files.foreach { f =>
      val inV2 = Paths.get(Sinks.versionPath(root, 2)).resolve(f.getFileName)
      assert(Files.exists(inV2))
      assert(Files.getAttribute(inV2, "unix:nlink").asInstanceOf[Int] >= 2)
    }
    // the stats sidecar still covers EVERY file (inherited columns)
    val live = Sinks.resolve(root)
    assert(Stats.sidecar(spark, live).select("file").distinct().count() ==
      graft.io.Fs.walkParquet(Paths.get(live)).size.toLong)
    assert(Stats.readWhere(spark, live, "k", 1000L, 1002L).count() == 3)
    // both INSERTs are readable through the O(delta) feed fast path AND
    // the streaming feed dir
    val feed = Sinks.changeFeed(spark, root, 0L, 2L)
    assert(feed.isDefined && feed.get.count() == 3)
    assert(spark.read.parquet(s"$root/${Sinks.FeedDir}").count() == 3)
  }

  test("feed heals ACROSS a no-feed commit before vacuum can destroy the sidecar") {
    import spark.implicits._
    val root = tmp("feedheal") + "/t"
    Sinks.enableStreamFeed(root)
    Sinks.publishVersioned((0L until 10L).toDF("k"), root, None)
    Sinks.appendVersioned((10L until 20L).toDF("k"), root, Some(0L), emitFeed = true) // v1
    Sinks.publishVersioned((0L until 25L).toDF("k"), root, Some(1L))                 // v2, no feed
    // crash simulation: v1's feed links vanish AFTER v2 committed (the
    // reconcile that would have restored them already ran) — the next
    // commit must walk THROUGH the no-feed v2 to re-link v1, or
    // compaction's vacuum deletes the only copy of those rows
    graft.io.Fs.listDir(Paths.get(root, Sinks.FeedDir)).foreach(p => Files.delete(p))
    Sinks.compactVersioned(spark, root, retainVersions = 0) // v3 + vacuum of v0,v1
    assert(Sinks.listVersions(root).min >= 2L)
    assert(spark.read.parquet(s"$root/${Sinks.FeedDir}").count() == 10,
      "v1's feed rows must be re-linked by the compaction commit before its vacuum")
  }

  test("repairFeed relinks a feed link lost below the watermark, which ordinary commits skip") {
    import spark.implicits._
    val root = tmp("feedrepair") + "/t"
    Sinks.enableStreamFeed(root)
    Sinks.publishVersioned((0L until 10L).toDF("k"), root, None)                       // v0, no feed
    Sinks.appendVersioned((10L until 20L).toDF("k"), root, Some(0L), emitFeed = true) // v1
    Sinks.appendVersioned((20L until 25L).toDF("k"), root, Some(1L), emitFeed = true) // v2
    Sinks.appendVersioned((25L until 28L).toDF("k"), root, Some(2L), emitFeed = true) // v3
    val feedDir = Paths.get(root, Sinks.FeedDir)
    def v1Links = graft.io.Fs.listDir(feedDir).filter(_.getFileName.toString.startsWith("v1-"))
    def feedKeys =
      spark.read.parquet(feedDir.toString).select("k").as[Long].collect().sorted.toSeq
    // an operator removes v1's link; the watermark already covers v1
    assert(v1Links.nonEmpty)
    v1Links.foreach(p => Files.delete(p))
    // an ordinary commit reconciles only the versions above the watermark
    Sinks.appendVersioned((28L until 30L).toDF("k"), root, Some(3L), emitFeed = true) // v4
    assert(v1Links.isEmpty, "an ordinary commit must not re-walk below the watermark")
    assert(feedKeys == (20L until 30L))
    // the operator repair re-walks the whole live chain
    Sinks.repairFeed(root)
    assert(v1Links.nonEmpty)
    assert(feedKeys == (10L until 30L))
    val changes = spark.sql(s"SELECT * FROM table_changes('$root', 0, 4)")
    assert(changes.select("k").as[Long].collect().sorted.toSeq == feedKeys)
  }

  test("vacuum folds evicted _BATCHID stamps into the durable high-water mark") {
    import spark.implicits._
    val root = tmp("vacstamp") + "/t"
    // batch 5 committed with its stamp, writer died before the props
    // update (the crash window)
    Sinks.appendVersioned(Seq((1L, "x")).toDF("k", "s"), root, None,
      batchTag = Some("deadbeef:5"))
    Sinks.publishVersioned(Seq((1L, "x"), (2L, "y")).toDF("k", "s"), root, Some(0L))
    assert(TableStream.committed(root, "deadbeef", 5L)) // via the v0 stamp
    Sinks.compactVersioned(spark, root, retainVersions = 0) // evicts stamped v0
    assert(!Files.exists(Paths.get(Sinks.versionPath(root, 0), "_BATCHID")))
    assert(TableStream.committed(root, "deadbeef", 5L),
      "the stamp must survive vacuum via _PROPS or a restarted stream re-appends")
    assert(!TableStream.committed(root, "deadbeef", 6L))
  }

  test("bronze→silver: streamFeed drives a downstream merge to convergence") {
    import spark.implicits._
    val bronze = tmp("medal") + "/bronze"
    val silver = tmp("medal2") + "/silver"
    val cp = tmp("medalcp")
    Sinks.enableStreamFeed(bronze)
    Sinks.appendVersioned(
      Seq((1L, "eu", 10.0), (2L, "us", 20.0)).toDF("k", "region", "amt"),
      bronze, None, emitFeed = true)
    Sinks.appendVersioned(
      Seq((3L, "eu", 5.0)).toDF("k", "region", "amt"),
      bronze, Some(0L), emitFeed = true)
    val q = TableStream.streamFeed(spark, bronze)
      .filter(col("_change_type") === "insert")
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val delta = batch.select(col("k"), col("region"), col("amt"))
          .withColumn("op", lit("upsert"))
        if (!batch.isEmpty) {
          if (Sinks.currentVersion(silver).isEmpty)
            Sinks.publishVersioned(delta.drop("op"), silver, None)
          else Merge.applyTo(spark, silver, delta, Seq("k"))
        }
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val got = Sinks.readCurrent(spark, silver).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "eu", 10.0), (2L, "us", 20.0), (3L, "eu", 5.0)))
  }

  test("read_stream TVF: the feed as a SQL streaming source, checkpoint-resumable") {
    import spark.implicits._
    val base = tmp("sqltvf")
    val (bronze, silver, cp) = (base + "/b", base + "/s", base + "/cp")
    Sinks.enableStreamFeed(bronze)
    Sinks.appendVersioned(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      bronze, None, emitFeed = true)
    def sqlFeed() = spark.sql(
      s"SELECT k, v FROM read_stream('$bronze') WHERE _change_type = 'insert'")
    assert(sqlFeed().isStreaming, "read_stream must yield a streaming relation")
    val q1 = TableStream.streamTo(sqlFeed(), silver, cp)
    try q1.processAllAvailable() finally q1.stop()
    assert(Sinks.readCurrent(spark, silver).orderBy("k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // a new bronze commit; a RESTARTED query on the same checkpoint
    // resumes where it left off and ships ONLY the delta
    Sinks.appendVersioned(Seq((3L, "c")).toDF("k", "v"),
      bronze, Some(0L), emitFeed = true)
    val silverV = Sinks.currentVersion(silver).get
    val q2 = TableStream.streamTo(sqlFeed(), silver, cp)
    try q2.processAllAvailable() finally q2.stop()
    assert(Sinks.readCurrent(spark, silver).orderBy("k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Sinks.currentVersion(silver).get == silverV + 1,
      "the resumed stream must land exactly one O(delta) commit")
    // a feed-less table refuses with the enableStreamFeed hint
    val bare = base + "/bare"
    Sinks.publishVersioned(Seq((9L, "z")).toDF("k", "v"), bare, None)
    val e = intercept[Exception](spark.sql(s"SELECT * FROM read_stream('$bare')"))
    assert(e.getMessage.contains("enableStreamFeed"))
  }

  test("metadata-only RENAME lands mid-stream: the resumed read_stream consumer continues under the new name") {
    import spark.implicits._
    val base = tmp("renstream")
    val (bronze, silver, cp) = (base + "/b", base + "/s", base + "/cp")
    spark.conf.set("spark.sql.catalog.graftrn", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftrn.root", base)
    Sinks.enableStreamFeed(bronze)
    Sinks.appendVersioned(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      bronze, None, emitFeed = true)
    // batch 1 consumes under the ORIGINAL name
    val q1 = TableStream.streamTo(spark.sql(
      s"SELECT k, v FROM read_stream('$bronze') WHERE _change_type = 'insert'"),
      silver, cp)
    try q1.processAllAvailable() finally q1.stop()
    // B141 rename lands BETWEEN micro-batches — metadata-only (hardlink
    // commit, column mapping), on producer and replica alike
    spark.sql("ALTER TABLE graftrn.b RENAME COLUMN v TO val")
    spark.sql("ALTER TABLE graftrn.s RENAME COLUMN v TO val")
    assert(graft.ops.ColMap.load(Sinks.resolve(bronze)) == Map("val" -> "v"),
      "the mid-stream rename must be a column-mapping commit")
    // a post-rename append speaks the NEW logical name; its feed rows
    // must too (the feed stores logical names)
    Sinks.appendVersioned(Seq((3L, "c")).toDF("k", "val"),
      bronze, Sinks.currentVersion(bronze), emitFeed = true)
    // the RESUMED consumer (same checkpoint) redeploys under the new
    // name and ships exactly the delta — state reconstructs seamlessly
    val q2 = TableStream.streamTo(spark.sql(
      s"SELECT k, val FROM read_stream('$bronze') WHERE _change_type = 'insert'"),
      silver, cp)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.sql("SELECT k, val FROM graftrn.s ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // and the replica's files were never rewritten by the rename: its
    // new-name reads serve through the mapping
    assert(graft.ops.ColMap.load(Sinks.resolve(silver)) == Map("val" -> "v"))
  }

  test("metadata-only partition evolution lands mid-stream: the resumed consumer continues across the no-feed commit") {
    import spark.implicits._
    val base = tmp("pestream")
    val (bronze, silver, cp) = (base + "/b", base + "/s", base + "/cp")
    Sinks.enableStreamFeed(bronze)
    Sinks.appendVersioned(Seq((1L, "a"), (2L, "b")).toDF("k", "grp"),
      bronze, None, emitFeed = true)
    val q1 = TableStream.streamTo(spark.sql(
      s"SELECT k, grp FROM read_stream('$bronze') WHERE _change_type = 'insert'"),
      silver, cp)
    try q1.processAllAvailable() finally q1.stop()
    // B160 evolution lands BETWEEN micro-batches: a hardlink commit
    // with NO _changes sidecar — the feed chain must walk across it
    Sinks.repartitionTable(spark, bronze, Seq("grp"), metadataOnly = true)
    assert(Sinks.hasLayoutLegs(Sinks.resolve(bronze)),
      "the mid-stream evolution must be the metadata-only form")
    // a post-evolution append lands under the NEW spec; its feed rows
    // flow to the resumed consumer exactly once
    Sinks.appendVersioned(Seq((3L, "c")).toDF("k", "grp"),
      bronze, Sinks.currentVersion(bronze), emitFeed = true)
    val q2 = TableStream.streamTo(spark.sql(
      s"SELECT k, grp FROM read_stream('$bronze') WHERE _change_type = 'insert'"),
      silver, cp)
    try q2.processAllAvailable() finally q2.stop()
    assert(Sinks.readCurrent(spark, silver).orderBy("k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("streaming feed across a MOR DELETE/UPDATE/MERGE chain: checkpoint resume reconstructs the final state") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    val base = tmp("morfeed")
    val (bronze, silver, cp) = (base + "/b", base + "/s", base + "/cp")
    spark.conf.set("spark.sql.catalog.graftmf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftmf.root", base)
    Sinks.enableStreamFeed(bronze)
    Sinks.appendVersioned((1L to 8L).map(k => (k, k * 1.0)).toDF("k", "v"),
      bronze, None, emitFeed = true)
    TableProps.update(bronze)(_ + ("graft.dml.mode" -> "mor"))

    // the consumer: last-write-wins per key across the batch's commits,
    // applied to silver as a keyed merge — the standard CDC replica
    def consume(): Unit = {
      val q = TableStream.streamFeed(spark, bronze)
        .filter(col("_change_type") =!= "update_preimage")
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          if (!batch.isEmpty) {
            val delta = Merge.latestPerKey(
                batch.select(col("k"), col("v"), col("_change_type"),
                  col("_commit_version")),
                Seq("k"), Seq("_commit_version"))
              .withColumn("op",
                when(col("_change_type") === "delete", lit("delete"))
                  .otherwise(lit("upsert")))
              .drop("_change_type", "_commit_version")
            if (Sinks.currentVersion(silver).isEmpty)
              Sinks.publishVersioned(
                delta.filter(col("op") =!= "delete").drop("op"), silver, None)
            else Merge.applyTo(spark, silver, delta, Seq("k"))
          }
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    // leg 1: MOR DELETE feeds delete rows; the consumer applies them
    Sinks.deleteVector(spark, bronze, col("k").isin(2L, 3L))
    consume()
    assert(Sinks.readCurrent(spark, silver).orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq(1L, 4L, 5L, 6L, 7L, 8L).map(k => (k, k * 1.0)))

    // leg 2: MOR UPDATE and MOR MERGE land while the consumer is DOWN;
    // the restarted query resumes from the checkpoint and ships only
    // the new commits' rows
    Sinks.updateVector(spark, bronze, col("k") === 4L,
      Map("v" -> lit(44.0)))
    Seq((5L, "u", 55.0), (6L, "d", 0.0), (9L, "i", 99.0)).toDF("k", "op", "nv")
      .createOrReplaceTempView("morfeed_src")
    spark.sql(
      """MERGE INTO graftmf.b t USING morfeed_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'u' THEN UPDATE SET v = s.nv
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin)
    val silverVBefore = Sinks.currentVersion(silver).get
    consume()
    val want = Sinks.readCurrent(spark, bronze).orderBy("k")
      .as[(Long, Double)].collect().toSeq
    val got = Sinks.readCurrent(spark, silver).orderBy("k")
      .as[(Long, Double)].collect().toSeq
    assert(got == want, s"replica diverged: got=$got want=$want")
    assert(got == Seq((1L, 1.0), (4L, 44.0), (5L, 55.0), (7L, 7.0),
      (8L, 8.0), (9L, 99.0)))
    // resume really was incremental: silver advanced, it did not rebuild
    assert(Sinks.currentVersion(silver).get > silverVBefore)
    assert(Sinks.readVersion(spark, silver, silverVBefore).count() == 6,
      "the pre-restart replica state must still be the leg-1 result")
  }
}
