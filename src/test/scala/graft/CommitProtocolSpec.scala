package graft

import java.nio.file.{Files, Path, Paths}

import graft.ops.{CommitProtocol, LocalFsCommit, Sinks}
import org.scalatest.funsuite.AnyFunSuite

/** The commit-protocol seam: a deliberately-failing binding at each
  * commit move must leave NO partial state — pointer unchanged, the
  * previous version fully readable, no staging debris — and a retry
  * through the healthy binding must succeed. This is the local-FS
  * stand-in for an object-store conditional-PUT failure (throttle,
  * precondition loss, network death mid-commit).
  */
class CommitProtocolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Delegating protocol that fails one step, ONLY for tables under
    * `scope` — the binding is process-global, and sibling suites may be
    * committing their own tables concurrently.
    */
  private final class FailAt(scope: String, step: String) extends CommitProtocol {
    private def inScope(p: String) = p.startsWith(scope)
    def readPointer(root: String): Option[Long] = LocalFsCommit.readPointer(root)
    def versionExists(root: String, v: Long): Boolean =
      LocalFsCommit.versionExists(root, v)
    def publishVersionDir(stage: Path, dest: Path): Unit = {
      if (step == "publish" && inScope(dest.toString))
        throw new RuntimeException(s"injected failure @$step")
      LocalFsCommit.publishVersionDir(stage, dest)
    }
    def flipPointer(root: String, v: Long): Unit = {
      if (step == "flip" && inScope(root))
        throw new RuntimeException(s"injected failure @$step")
      LocalFsCommit.flipPointer(root, v)
    }
    def withCommitLock[T](root: String)(body: => T): T =
      LocalFsCommit.withCommitLock(root)(body)
  }

  private def withProtocol[T](p: CommitProtocol)(body: => T): T = {
    Sinks.commitProtocol = p
    try body finally Sinks.commitProtocol = LocalFsCommit
  }

  private def stageDebris(root: String): Seq[String] =
    graft.io.Fs.listDir(Paths.get(root))
      .map(_.getFileName.toString).filter(_.startsWith(".stage-"))

  test("a failed publish step leaks nothing: pointer, data, and staging all intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cps").toString + "/t"
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Sinks.publishVersioned(v0, root, None)
    val next = Seq((3L, "c")).toDF("k", "v")

    for (step <- Seq("publish", "flip")) {
      val e = intercept[RuntimeException](
        withProtocol(new FailAt(root, step)) {
          Sinks.publishVersioned(next, root, Some(0L))
        })
      assert(e.getMessage.contains(step))
      // pointer unchanged; the committed version reads fully
      assert(Sinks.currentVersion(root).contains(0L), s"@$step moved the pointer")
      assert(Sinks.readCurrent(spark, root).count() == 2, s"@$step damaged v0")
      // no staging debris survives a failed commit
      assert(stageDebris(root).isEmpty, s"@$step leaked staging dirs")
    }
    // @flip may strand an orphan version dir (documented: never live,
    // never on any base chain); the retry allocates past it and wins
    val v = Sinks.publishVersioned(next, root, Some(0L))
    assert(Sinks.currentVersion(root).contains(v))
    assert(Sinks.readCurrent(spark, root).count() == 1)
    // and the orphan (if any) is not the live version
    assert(v != 1L || !Files.exists(Paths.get(Sinks.versionPath(root, 2L))))
  }

  test("appends and linked publishes fail just as cleanly through the seam") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cpa").toString + "/t"
    Sinks.publishVersioned(Seq((1L, "a")).toDF("k", "v"), root, None,
      statsCols = Seq("k"))
    val delta = Seq((2L, "b")).toDF("k", "v")
    val e = intercept[RuntimeException](
      withProtocol(new FailAt(root, "flip")) {
        Sinks.appendVersioned(delta, root, Some(0L), emitFeed = true)
      })
    assert(e.getMessage.contains("flip"))
    assert(Sinks.currentVersion(root).contains(0L))
    assert(Sinks.readCurrent(spark, root).count() == 1)
    assert(stageDebris(root).isEmpty)
    // retry through the healthy binding: O(delta) append lands, stats
    // sidecar inherited, feed readable
    val v = Sinks.appendVersioned(delta, root, Some(0L), emitFeed = true)
    assert(Sinks.readCurrent(spark, root).count() == 2)
    assert(graft.ops.Stats.sidecarCols(spark, Sinks.resolve(root)) == Seq("k"))
    assert(Sinks.changeFeed(spark, root, 0L, v).get.count() == 1)
  }

  test("vacuum_orphans removes aged crash debris, keeps fresh debris and all live state") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_vo").toString
    spark.conf.set("spark.sql.catalog.graftvo", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftvo.root", base)
    val root = s"$base/t"
    Sinks.publishVersioned(Seq((1L, "a")).toDF("k", "v"), root, None)
    // debris class 1: a crash between version-dir rename and pointer
    // flip leaves an orphan ABOVE the live pointer
    intercept[RuntimeException](withProtocol(new FailAt(root, "flip")) {
      Sinks.publishVersioned(Seq((2L, "b")).toDF("k", "v"), root, Some(0L))
    })
    // debris class 2: a writer that died mid-staging
    val deadStage = Paths.get(s"$root/.stage-dead-1")
    Files.createDirectories(deadStage)
    Files.write(deadStage.resolve("part-dead.parquet"), Array[Byte](1, 2))
    assert(Files.exists(Paths.get(Sinks.versionPath(root, 1L))), "expected an orphan v1")
    // fresh debris is KEPT (the in-flight-writer window)
    val kept = spark.sql(
      "CALL graftvo.system.vacuum_orphans(table => 't')").collect()(0)
    assert(kept.getLong(1) == 0 && kept.getLong(2) == 0,
      s"fresh debris must survive the default window: $kept")
    // aged debris goes (older_than_hours => 0 ages everything out)
    val gone = spark.sql(
      "CALL graftvo.system.vacuum_orphans(table => 't', older_than_hours => 0.0)")
      .collect()(0)
    assert(gone.getLong(1) == 1 && gone.getLong(2) == 1, s"got $gone")
    assert(!Files.exists(deadStage) &&
      !Files.exists(Paths.get(Sinks.versionPath(root, 1L))))
    // live state untouched; the next commit allocates cleanly
    assert(Sinks.readCurrent(spark, root).count() == 1)
    val v = Sinks.publishVersioned(Seq((2L, "b")).toDF("k", "v"), root, Some(0L))
    assert(Sinks.currentVersion(root).contains(v))
    assert(Sinks.readCurrent(spark, root).count() == 1)
    // debris class 3 (round-15): UNREFERENCED foreign entries — a stray
    // file, a foreign directory, a half-written _PROPS.tmp, and a dead
    // tag-write tmp. A tag pins its version through the sweep.
    Sinks.tagVersion(root, "keepme", v)
    // the streaming CDC feed dir ("feed", NOT underscore-prefixed) is
    // LIVE root-level state — an aged sweep must never count it foreign
    Sinks.enableStreamFeed(root)
    Files.write(Paths.get(root, "somebody_elses.csv"), Array[Byte](1))
    Files.createDirectories(Paths.get(root, "_temporary", "0"))
    Files.write(Paths.get(root, "_PROPS.tmp"), Array[Byte](2))
    Files.write(Paths.get(root, "_tags", ".dead.tmp99999"), Array[Byte](3))
    // round-16: OTHER underscore-prefixed entries are user-reserved
    // (Delta's VACUUM contract) — a streaming checkpoint parked at the
    // table root must survive an aged sweep
    Files.createDirectories(Paths.get(root, "_checkpoint", "offsets"))
    Files.write(Paths.get(root, "_checkpoint", "offsets", "0"), Array[Byte](4))
    val kept2 = spark.sql(
      "CALL graftvo.system.vacuum_orphans(table => 't')").collect()(0)
    assert(kept2.getLong(3) == 0, s"fresh foreign entries survive the window: $kept2")
    val gone2 = spark.sql(
      "CALL graftvo.system.vacuum_orphans(table => 't', older_than_hours => 0.0)")
      .collect()(0)
    assert(gone2.getLong(3) == 4, s"got $gone2")
    assert(!Files.exists(Paths.get(root, "somebody_elses.csv")) &&
      !Files.exists(Paths.get(root, "_temporary")) &&
      !Files.exists(Paths.get(root, "_PROPS.tmp")) &&
      !Files.exists(Paths.get(root, "_tags", ".dead.tmp99999")))
    assert(Files.isDirectory(Paths.get(root, "feed")),
      "the change-feed dir must survive an aged orphan sweep")
    assert(Files.exists(Paths.get(root, "_checkpoint", "offsets", "0")),
      "user-reserved underscore entries must survive an aged sweep")
    // referenced state all survives: pointer, props, tag, live version
    assert(Sinks.listTags(root) == Map("keepme" -> v))
    assert(Sinks.readCurrent(spark, root).count() == 1)
    assert(spark.sql("SELECT count(*) FROM graftvo.t VERSION AS OF 'keepme'")
      .head.getLong(0) == 1)
  }

  // ---- multi-table transactions (Txn) ----

  import graft.ops.{Txn, TxnWrite}

  private def withFailpoint[T](f: String => Unit)(body: => T): T = {
    Txn.failpoint = f
    try body finally Txn.failpoint = _ => ()
  }

  test("commit lock: reentrant per root, exclusive against concurrent props writers, independent across tables") {
    import graft.ops.{Sinks, TableProps}
    val base = Files.createTempDirectory("graft_lock").toString
    val a = s"$base/a"
    val b = s"$base/b"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(b))
    // 1. reentrancy — REPLACE's props-swap + publish composes in one
    //    scope (the pre-round-18 lock threw OverlappingFileLockException
    //    on a nested acquire of the same root)
    val nested = Sinks.withTableLock(a) { Sinks.withTableLock(a) { 42 } }
    assert(nested == 42)
    // 2. exclusivity — a concurrent props writer cannot interleave with
    //    a held scope (the REPLACE props/publish window): it blocks
    //    until the scope releases
    val entered = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    Sinks.withTableLock(a) {
      val t = new Thread(() => {
        entered.countDown()
        TableProps.update(a)(_ + ("x" -> "1"))
        done.set(true)
      })
      t.start()
      entered.await()
      // 3. independence — another TABLE's writer proceeds while a's
      //    scope is held (the old global monitor serialized them)
      val tb = new Thread(() => {
        TableProps.update(b)(_ + ("y" -> "2")); bDone.set(true)
      })
      tb.start()
      tb.join(10000)
      assert(bDone.get, "a held lock on table a must not block table b")
      Thread.sleep(150)
      assert(!done.get, "a props update interleaved with a held lock scope")
    }
    val t1 = System.nanoTime()
    while (!done.get && (System.nanoTime() - t1) < 10e9) Thread.sleep(10)
    assert(done.get, "the blocked props update must proceed after release")
    assert(TableProps.load(a).get("x").contains("1"))
  }

  test("commit lock: a root and its symlink alias share one lock; concurrent commits through both land") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_lockalias")
    Files.createDirectories(base.resolve("real"))
    Files.createSymbolicLink(base.resolve("link"), base.resolve("real"))
    val root = base.resolve("real/t").toString
    val alias = base.resolve("link/t").toString
    Sinks.publishVersioned(Seq((0L, "seed")).toDF("k", "v"), root, None)
    // a scope held through one spelling BLOCKS the other (two JVM locks
    // for one file lock would throw OverlappingFileLockException instead)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val entered = new java.util.concurrent.atomic.AtomicBoolean(false)
    val blocked = Sinks.withTableLock(root) {
      val th = new Thread(() =>
        try Sinks.withTableLock(alias)(entered.set(true))
        catch { case e: Throwable => failure.set(e) })
      th.start()
      th.join(300)
      assert(failure.get == null, s"alias scope failed: ${failure.get}")
      assert(!entered.get, "the alias entered a scope held through the root")
      th
    }
    blocked.join(10000)
    assert(failure.get == null && entered.get, s"alias scope never ran: ${failure.get}")
    // concurrent appends through both spellings all commit
    val writers = Seq(root, alias).zipWithIndex.map { case (r, w) =>
      new Thread(() =>
        try (1 to 4).foreach { i =>
          Sinks.appendVersioned(Seq((w * 100L + i, r)).toDF("k", "v"), r,
            Sinks.currentVersion(r))
        } catch { case e: Throwable => failure.compareAndSet(null, e) })
    }
    writers.foreach(_.start())
    writers.foreach(_.join(120000))
    assert(failure.get == null, s"a writer failed: ${failure.get}")
    assert(Sinks.readCurrent(spark, root).count() == 9)
  }

  test("multi-table transaction: bronze+silver commit atomically; stale OCC aborts both") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_txn").toString
    val (bronze, silver) = (s"$base/bronze", s"$base/silver")
    // create both in ONE transaction
    val created = Txn.publishAll(Seq(
      TxnWrite(bronze, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amt"), None),
      TxnWrite(silver, Seq((1L, 10.0)).toDF("k", "total"), None, statsCols = Seq("k"))))
    assert(created == Map(bronze -> 0L, silver -> 0L))
    assert(Sinks.readCurrent(spark, bronze).count() == 2)
    assert(graft.ops.Stats.sidecarCols(spark, Sinks.resolve(silver)) == Seq("k"))
    // evolve both consistently
    Txn.publishAll(Seq(
      TxnWrite(bronze, Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "amt"), Some(0L)),
      TxnWrite(silver, Seq((1L, 60.0)).toDF("k", "total"), Some(0L))))
    assert(Sinks.currentVersion(bronze).contains(1L) &&
      Sinks.currentVersion(silver).contains(1L))
    // one stale expectation aborts the WHOLE transaction, nothing moves
    intercept[java.util.ConcurrentModificationException](Txn.publishAll(Seq(
      TxnWrite(bronze, Seq((9L, 9.0)).toDF("k", "amt"), Some(1L)),
      TxnWrite(silver, Seq((9L, 9.0)).toDF("k", "total"), Some(0L))))) // stale
    assert(Sinks.currentVersion(bronze).contains(1L) &&
      Sinks.currentVersion(silver).contains(1L))
    assert(stageDebris(bronze).isEmpty && stageDebris(silver).isEmpty)
    // the incremental medallion hop: bronze LINKED APPEND (O(delta) —
    // v1's files carried by hardlink) + silver refresh, one atomic flip
    val v1Keys = graft.io.Fs.walkParquet(Paths.get(Sinks.versionPath(bronze, 1L)))
      .map(f => Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet
    Txn.publishAll(Seq(
      TxnWrite(bronze, Seq((4L, 40.0)).toDF("k", "amt"), Some(1L), linked = true),
      TxnWrite(silver, Seq((1L, 100.0)).toDF("k", "total"), Some(1L))))
    assert(Sinks.readCurrent(spark, bronze).count() == 4)
    val v2Keys = graft.io.Fs.walkParquet(Paths.get(Sinks.versionPath(bronze, 2L)))
      .map(f => Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet
    assert(v1Keys.subsetOf(v2Keys),
      "linked txn append must carry the base version's files by hardlink")
    assert(Sinks.readCurrent(spark, silver).head().getDouble(1) == 100.0)
  }

  test("txn kill between pointer parks: every table still reads its PRE-transaction version") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_txnk").toString
    val (bronze, silver) = (s"$base/a_bronze", s"$base/b_silver")
    Txn.publishAll(Seq(
      TxnWrite(bronze, Seq((1L, "x")).toDF("k", "v"), None),
      TxnWrite(silver, Seq((1L, "X")).toDF("k", "v"), None)))
    // bronze sorts first, so its pointer parks first — kill right after
    val e = intercept[RuntimeException](withFailpoint(
      s => if (s == s"conditional:$bronze") throw new RuntimeException("killed @park")) {
      Txn.publishAll(Seq(
        TxnWrite(bronze, Seq((2L, "y")).toDF("k", "v"), Some(0L)),
        TxnWrite(silver, Seq((2L, "Y")).toDF("k", "v"), Some(0L))))
    })
    assert(e.getMessage.contains("killed"))
    // NO mixed state: both resolve the old version (bronze's pointer is
    // parked conditional, but the marker never landed)
    assert(Sinks.currentVersion(bronze).contains(0L), "bronze flipped early")
    assert(Sinks.currentVersion(silver).contains(0L))
    assert(Sinks.readCurrent(spark, bronze).orderBy("k").as[(Long, String)]
      .collect().toSeq == Seq((1L, "x")))
    // a retry against the SAME expected versions wins cleanly
    val retried = Txn.publishAll(Seq(
      TxnWrite(bronze, Seq((2L, "y")).toDF("k", "v"), Some(0L)),
      TxnWrite(silver, Seq((2L, "Y")).toDF("k", "v"), Some(0L))))
    assert(Sinks.readCurrent(spark, bronze).count() == 1 &&
      Sinks.readCurrent(spark, bronze).head().getString(1) == "y")
    assert(Sinks.currentVersion(bronze) == Some(retried(bronze)))
  }

  test("txn kill right after the marker: every table already reads its NEW version") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_txnm").toString
    val (bronze, silver) = (s"$base/a", s"$base/b")
    Txn.publishAll(Seq(
      TxnWrite(bronze, Seq((1L, "x")).toDF("k", "v"), None),
      TxnWrite(silver, Seq((1L, "X")).toDF("k", "v"), None)))
    intercept[RuntimeException](withFailpoint(
      s => if (s == "marker") throw new RuntimeException("killed @marker")) {
      Txn.publishAll(Seq(
        TxnWrite(bronze, Seq((2L, "y")).toDF("k", "v"), Some(0L)),
        TxnWrite(silver, Seq((2L, "Y")).toDF("k", "v"), Some(0L))))
    })
    // the marker IS the commit point: both tables flip together even
    // though no pointer was normalized
    assert(Sinks.currentVersion(bronze).contains(1L), "marker did not commit bronze")
    assert(Sinks.currentVersion(silver).contains(1L), "marker did not commit silver")
    assert(Sinks.readCurrent(spark, silver).head().getString(1) == "Y")
    // an ordinary later commit normalizes the parked pointer in passing
    Sinks.publishVersioned(Seq((3L, "z")).toDF("k", "v"), bronze, Some(1L))
    assert(Sinks.currentVersion(bronze).contains(2L))
    assert(Sinks.readCurrent(spark, bronze).head().getString(1) == "z")
  }

  test("linked TxnWrite aligns to the live schema like a single-table append") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_txnalign").toString
    val tbl = s"$base/t"
    Sinks.publishVersioned(Seq((1L, "a")).toDF("k", "v"), tbl, None)
    // column ORDER drift must be realigned, not committed as-is (a
    // mixed-schema version readers infer from one arbitrary footer)
    Txn.publishAll(Seq(
      TxnWrite(tbl, Seq(("b", 2L)).toDF("v", "k"), Some(0L), linked = true)))
    val rows = Sinks.readCurrent(spark, tbl).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b")))
    // column SET drift must fail loudly, nothing staged or committed
    intercept[IllegalArgumentException](Txn.publishAll(Seq(
      TxnWrite(tbl, Seq((3L, "c", true)).toDF("k", "v", "extra"),
        Some(1L), linked = true))))
    assert(Sinks.currentVersion(tbl).contains(1L))
  }

  test("txn publish of an empty frame keeps the schema readable (zero-row footer lands)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_txnempty").toString
    val tbl = s"$base/t"
    Txn.publishAll(Seq(
      TxnWrite(tbl, Seq((1L, "a")).toDF("k", "v").filter("k < 0"), None)))
    val cur = Sinks.readCurrent(spark, tbl)
    assert(cur.count() == 0)
    assert(cur.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("a table root containing whitespace is refused before anything stages") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_txnws").toString
    val err = intercept[IllegalArgumentException](Txn.publishAll(Seq(
      TxnWrite(s"$base/bad name", Seq((1L, "a")).toDF("k", "v"), None))))
    assert(err.getMessage.contains("whitespace"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/bad name")))
  }
}
