package graft

import java.nio.file.{Files, Paths}

import graft.ops.{EqDel, Sinks, Stats, TableProps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equality deletes (round-14): blind upsert commits must reconcile at
  * read time exactly like a serial MERGE would have, across every read
  * door (funnel, SQL, pruned fast paths), survive restarts exactly
  * once, and fold away at compaction.
  */
class EqDelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def state(root: String): Seq[(Long, String)] =
    Sinks.readCurrent(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("upsertBatch: blind commits reconcile to the serial MERGE state; no table read at commit") {
    import spark.implicits._
    val root = tmp("eqd") + "/t"
    val base = (0L until 1000L).map(i => (i, s"v0_$i")).toDF("k", "v")
    Sinks.publishVersioned(base, root, None)
    // batch 1: update 5 keys, insert 2 new
    EqDel.upsertBatch(spark,
      Seq((10L, "v1_10"), (20L, "v1_20"), (30L, "v1_30"), (40L, "v1_40"),
        (50L, "v1_50"), (2000L, "v1_2000"), (2001L, "v1_2001")).toDF("k", "v"),
      root, Seq("k"))
    // batch 2: re-update one of batch 1's keys + one base key
    EqDel.upsertBatch(spark,
      Seq((10L, "v2_10"), (999L, "v2_999")).toDF("k", "v"), root, Seq("k"))
    val got = state(root)
    assert(got.size == 1002)
    val byK = got.toMap
    assert(byK(10L) == "v2_10", "batch-2 tombstone must kill the batch-1 row")
    assert(byK(20L) == "v1_20" && byK(999L) == "v2_999")
    assert(byK(2000L) == "v1_2000" && byK(0L) == "v0_0")
    // the commits really were blind: tombstones pend in the sidecar
    val live = Sinks.resolve(root)
    assert(EqDel.exists(live))
    assert(EqDel.pending(spark, live).count() == 9)
    // scale shape: the reconciliation is broadcast-sided — the data
    // scan never shuffles for a metadata-scale tombstone set (both the
    // seq attach and the key anti-join plan as broadcast joins)
    val plan = Sinks.readCurrent(spark, root).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"eq-delete reconciliation must broadcast, got:\n$plan")
    // exactly one row per key survives everywhere
    assert(Sinks.readCurrent(spark, root).groupBy("k").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("CDC deletes tombstone without replacing; same-commit rows survive their own tombstone") {
    import spark.implicits._
    val root = tmp("eqdel2") + "/t"
    Sinks.publishVersioned(
      (0L until 100L).map(i => (i, s"a$i")).toDF("k", "v"), root, None)
    // one commit: upsert k=1, delete k=2 and k=3
    EqDel.upsertBatch(spark, Seq((1L, "b1")).toDF("k", "v"), root, Seq("k"),
      extraDeletes = Some(Seq(Tuple1(2L), Tuple1(3L)).toDF("k")))
    val got = state(root).toMap
    assert(got.size == 98, s"got ${got.size}")
    assert(got(1L) == "b1" && !got.contains(2L) && !got.contains(3L))
    // a later plain append of a previously-tombstoned key SURVIVES —
    // its file's sequence stamp postdates the tombstone
    Sinks.appendVersioned(Seq((2L, "resurrected")).toDF("k", "v"), root,
      Sinks.currentVersion(root))
    val got2 = state(root).toMap
    assert(got2(2L) == "resurrected",
      "a row appended AFTER the tombstone must not be killed by it")
    assert(got2.size == 99)
  }

  test("applyCdc with no key columns fails loudly on the op-column route and commits nothing") {
    import spark.implicits._
    val root = tmp("eqdnokeys") + "/t"
    Sinks.publishVersioned(Seq((1L, "a")).toDF("k", "v"), root, None)
    val batch = Seq((1L, "b", "upsert"), (2L, "c", "delete")).toDF("k", "v", "op")
    val e = intercept[IllegalArgumentException](
      EqDel.applyCdc(batch, root, Nil, opCol = Some("op")))
    assert(e.getMessage.contains("key column"), e.getMessage)
    assert(Sinks.listVersions(root) == Seq(0L))
    assert(state(root) == Seq((1L, "a")))
  }

  test("SQL reads, stats-pruned reads, and MOR DML all apply pending tombstones; COW refuses") {
    import spark.implicits._
    val root = tmp("eqdsql")
    val tbl = s"$root/t"
    spark.conf.set("spark.sql.catalog.grafteqd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grafteqd.root", root)
    Sinks.publishVersioned(
      (0L until 400L).map(i => (i, s"a$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      tbl, None, statsCols = Seq("k"))
    EqDel.upsertBatch(spark,
      (0L until 10L).map(i => (i, s"up$i")).toDF("k", "v"), tbl, Seq("k"))
    // SQL door (DvReadRule swap)
    assert(spark.sql("SELECT count(*) AS n FROM grafteqd.t").head().getLong(0) == 400)
    assert(spark.sql("SELECT v FROM grafteqd.t WHERE k = 5").head().getString(0) == "up5")
    // stats-pruned read applies the subtraction too
    val pruned = Stats.readCurrentWhere(spark, tbl, "k", 0L, 9L)
    assert(pruned.count() == 10)
    assert(pruned.filter(col("v").startsWith("up")).count() == 10,
      "pruned fast path must hide tombstoned rows")
    // MetaCountRewrite declines (scan answers, exactly)
    val mc = spark.sql("SELECT count(*) AS n FROM grafteqd.t")
    assert(mc.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isEmpty, "metadata count must decline under pending tombstones")
    // MOR delete composes: the tombstoned-and-replaced row is NOT
    // resurrected, and the delete takes effect
    TableProps.update(tbl)(_ + (TableProps.DmlModeKey -> "mor"))
    spark.sql("DELETE FROM grafteqd.t WHERE k = 5")
    assert(spark.sql("SELECT count(*) AS n FROM grafteqd.t").head().getLong(0) == 399)
    assert(spark.sql("SELECT count(*) AS n FROM grafteqd.t WHERE k = 5")
      .head().getLong(0) == 0)
    // even WITHOUT the mor property, DML auto-routes merge-on-read under
    // pending tombstones — a COW rewrite would resurrect them
    TableProps.update(tbl)(_ - TableProps.DmlModeKey)
    spark.sql("UPDATE grafteqd.t SET v = 'cow_guarded' WHERE k = 6")
    assert(spark.sql("SELECT v FROM grafteqd.t WHERE k = 6")
      .head().getString(0) == "cow_guarded")
    // the raw COW door itself refuses loudly (backstop for direct callers)
    val cur = Sinks.currentVersion(tbl).get
    val e = intercept[Exception](
      Sinks.cowPublish(spark, tbl, cur, Set.empty,
        Sinks.readCurrent(spark, tbl).limit(0)))
    assert(e.getMessage.contains("compact"), e.getMessage)
  }

  test("CALL graft.system.eq_upsert: the SQL door applies a CDC view as one blind commit (round-14)") {
    import spark.implicits._
    val root = tmp("eqdcall")
    val tbl = s"$root/t"
    spark.conf.set("spark.sql.catalog.grafteqc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grafteqc.root", root)
    Sinks.publishVersioned(
      (0L until 50L).map(i => (i, s"a$i")).toDF("k", "v"), tbl, None)
    // CDC batch with multi-op keys (seq orders them) and a delete
    Seq((1L, "stale", "upsert", 1L), (1L, "fresh", "upsert", 2L),
      (2L, null: String, "delete", 1L), (100L, "new", "upsert", 1L))
      .toDF("k", "v", "op", "seq").createOrReplaceTempView("cdc_batch")
    val row = spark.sql("CALL grafteqc.system.eq_upsert(table => 't', " +
      "source => 'cdc_batch', keys => 'k', op_col => 'op', " +
      "dedupe_by => 'seq')").collect().head
    assert(row.getString(0) == "t" && row.getLong(1) == 1L)
    val got = state(tbl).toMap
    assert(got(1L) == "fresh" && !got.contains(2L) && got(100L) == "new")
    assert(got.size == 50, s"${got.size}")
    // it really was the blind door: tombstones pend, op tag stamped
    assert(EqDel.exists(Sinks.resolve(tbl)))
    assert(graft.ops.Sinks.opOf(Sinks.versionPath(tbl, 1L)) == "eq-upsert")
    // DESCRIBE DETAIL surfaces the compaction signal
    assert(spark.sql("SELECT n_pending_tombstones FROM table_detail('grafteqc.t')")
      .head().getLong(0) == 3L)
  }

  test("bloom point lookups apply pending tombstones; declared bloom keeps annotating upsert commits") {
    import spark.implicits._
    val root = tmp("eqdbloom") + "/t"
    graft.ops.TableProps.update(root)(_ +
      (graft.ops.TableProps.BloomKey -> "k"))
    Sinks.publishVersioned(
      (0L until 2000L).map(i => (i, s"a$i")).toDF("k", "v")
        .repartition(4, col("k")), root, None)
    EqDel.upsertBatch(spark,
      Seq((777L, "fresh777"), (9999L, "new9999")).toDF("k", "v"),
      root, Seq("k"))
    val live = Sinks.resolve(root)
    // the upsert's delta files were bloom-annotated by declaration
    assert(graft.ops.Bloom.sidecarCols(spark, live) == Seq("k"))
    // a point lookup of the REPLACED key returns only the fresh row —
    // the bloom fast path must apply the tombstones too (the old copy's
    // file still passes the membership filter)
    val got = graft.ops.Bloom.readCurrentWhereEq(spark, root, "k", 777L)
      .collect()
    assert(got.length == 1 && got.head.getString(1) == "fresh777",
      got.mkString(", "))
    assert(graft.ops.Bloom.readCurrentWhereEq(spark, root, "k", 9999L)
      .count() == 1)
    // an untouched key reads exactly one row through the same path
    assert(graft.ops.Bloom.readCurrentWhereEq(spark, root, "k", 123L)
      .count() == 1)
  }

  test("compaction folds tombstones into files: sidecars gone, state identical, metadata counts return") {
    import spark.implicits._
    val root = tmp("eqdcomp") + "/t"
    Sinks.publishVersioned(
      (0L until 500L).map(i => (i, s"a$i")).toDF("k", "v"), root, None,
      statsCols = Seq("k"))
    EqDel.upsertBatch(spark,
      Seq((7L, "b7"), (8L, "b8"), (9000L, "b9000")).toDF("k", "v"),
      root, Seq("k"),
      extraDeletes = Some(Seq(Tuple1(42L)).toDF("k")))
    val before = state(root)
    Sinks.compactVersioned(spark, root)
    val live = Sinks.resolve(root)
    assert(!EqDel.exists(live), "compaction must fold tombstones away")
    assert(!Files.isDirectory(Paths.get(live, EqDel.SeqSidecar)))
    assert(state(root) == before, "fold must preserve the reconciled state")
    assert(state(root).toMap.get(42L).isEmpty)
    assert(state(root).size == 500) // 500 - 1 deleted + 1 inserted
  }

  test("sidecar pile folds at the checkpoint threshold; reconciliation stays exact under churn") {
    import spark.implicits._
    val root = tmp("eqdckpt") + "/t"
    Sinks.publishVersioned(
      (0L until 200L).map(i => (i, s"a$i")).toDF("k", "v"), root, None)
    // enough upsert commits to cross StatsCheckpointEvery (32) — key 0
    // is re-upserted every time (the fold must keep its MAX seq)
    (1 to 34).foreach { n =>
      EqDel.upsertBatch(spark,
        Seq((0L, s"gen$n"), (n.toLong, s"gen$n")).toDF("k", "v"),
        root, Seq("k"))
    }
    val live = Sinks.resolve(root)
    val parts = graft.io.Fs.listDir(Paths.get(live, EqDel.Sidecar))
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parts < 34, s"eqdel pile must checkpoint-fold, got $parts parts")
    val got = state(root).toMap
    assert(got(0L) == "gen34", s"got ${got(0L)}")
    assert(got(34L) == "gen34" && got(1L) == "gen1")
    assert(state(root).size == 200) // every upserted key already existed
  }

  test("dead-tombstone sweep: the fold drops tombstones no live file can match; a full sweep exits maintenance (round-14)") {
    import spark.implicits._
    // synthetic stage: data files all stamped at seq 5; tombstones at
    // 3 (dead: no file older), 5 (dead: scoping is strict), 7 (live)
    val stage = tmp("eqdsweep")
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val files = graft.io.Fs.walkParquet(Paths.get(stage))
      .map(p => Paths.get(stage).relativize(p).toString)
    assert(files.nonEmpty)
    files.map((_, 5L)).toDF("file", "seq")
      .coalesce(1).write.parquet(s"$stage/${EqDel.SeqSidecar}")
    Seq((1L, 3L), (2L, 5L), (3L, 7L)).toDF("k", "__gf_seq")
      .coalesce(1).write.parquet(s"$stage/${EqDel.Sidecar}")
    EqDel.compactSidecar(spark, stage, EqDel.SeqSidecar)
    EqDel.compactSidecar(spark, stage, EqDel.Sidecar)
    val left = spark.read.parquet(s"$stage/${EqDel.Sidecar}")
      .select("k").as[Long].collect().toSet
    assert(left == Set(3L),
      s"tombstones at or below the live seq floor must drop, got $left")
    // rewrite the pile to dead-only and fold again: the table must exit
    // eq-delete maintenance entirely (both sidecars removed)
    graft.io.Fs.deleteRecursively(Paths.get(s"$stage/${EqDel.Sidecar}"))
    Seq((9L, 4L)).toDF("k", "__gf_seq")
      .coalesce(1).write.parquet(s"$stage/${EqDel.Sidecar}")
    EqDel.compactSidecar(spark, stage, EqDel.Sidecar)
    assert(!EqDel.maintained(stage),
      "a fully-swept table must shed both sidecars and exit maintenance")
  }

  test("CALL system.eq_checkpoint: O(metadata) fold commit — one part, state identical, exits maintenance after a full rewrite (round-14)") {
    import spark.implicits._
    val wh = tmp("eqdchk")
    val root = s"$wh/t"
    TableProps.update(root)(_ + (TableProps.PartitionKey -> "cat STRING"))
    Sinks.publishVersioned(
      (0L until 100L).map(i => (i, Seq("a", "b")((i % 2).toInt), s"v$i"))
        .toDF("k", "cat", "payload"), root, None)
    (1 to 5).foreach { n =>
      EqDel.upsertBatch(spark,
        Seq((n.toLong, Seq("a", "b")(n % 2), s"gen$n")).toDF("k", "cat", "payload"),
        root, Seq("k"))
    }
    spark.conf.set("spark.sql.catalog.geqc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.geqc.root", wh)
    val before = Sinks.readCurrent(spark, root).collect().toSet
    val r = spark.sql("CALL geqc.system.eq_checkpoint(table => 't')")
      .collect().head
    val live = Sinks.resolve(root)
    // folded to one part each; five pending tombstones survive (the
    // base file is unstamped, so nothing is dead yet); data identical
    assert(r.getLong(2) == 5L, s"pending = ${r.getLong(2)}")
    assert(graft.io.Fs.listDir(Paths.get(live, EqDel.Sidecar))
      .count(_.getFileName.toString.endsWith(".parquet")) == 1)
    assert(Sinks.readCurrent(spark, root).collect().toSet == before)
    // a scoped compaction over EVERY partition re-stamps every file the
    // tombstones could apply to — the next checkpoint exits maintenance
    Sinks.compactVersionedWhere(spark, root, "cat IN ('a', 'b')")
    assert(EqDel.maintained(Sinks.resolve(root)), "tombstones carry until folded")
    val r2 = spark.sql("CALL geqc.system.eq_checkpoint(table => 't')")
      .collect().head
    assert(r2.getLong(2) == 0L)
    assert(!EqDel.maintained(Sinks.resolve(root)),
      "a fully-rewritten table must exit eq-delete maintenance")
    assert(Sinks.readCurrent(spark, root).collect().toSet == before)
  }

  test("upsertStreamTo: exactly-once across restart, op-column deletes, final state = serial merge") {
    import spark.implicits._
    val root = tmp("eqdstream") + "/t"
    val cp = tmp("eqdstreamcp")
    val src = tmp("eqdstreamsrc")
    val schema = "k LONG, v STRING, op STRING"
    Sinks.publishVersioned(
      (0L until 100L).map(i => (i, s"base$i")).toDF("k", "v"), root, None)
    (0L until 10L).map(i => (i, s"s1_$i", "upsert")).toDF("k", "v", "op")
      .coalesce(1).write.mode("append").parquet(src)
    val q1 = EqDel.upsertStreamTo(
      spark.readStream.schema(schema).parquet(src), root, cp,
      keys = Seq("k"), opCol = Some("op"))
    q1.processAllAvailable(); q1.stop()
    assert(state(root).toMap.apply(3L) == "s1_3")
    assert(state(root).size == 100)
    // restart with a second file: updates + deletes, applied once
    (Seq((3L, "s2_3", "upsert"), (4L, null: String, "delete"),
      (200L, "s2_200", "upsert"))).toDF("k", "v", "op")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = EqDel.upsertStreamTo(
      spark.readStream.schema(schema).parquet(src), root, cp,
      keys = Seq("k"), opCol = Some("op"))
    q2.processAllAvailable(); q2.stop()
    val got = state(root).toMap
    assert(got(3L) == "s2_3" && !got.contains(4L) && got(200L) == "s2_200")
    assert(got.size == 100, s"${got.size}")
    // nothing replayed: exactly one live row per key
    assert(Sinks.readCurrent(spark, root).groupBy("k").count()
      .filter(col("count") > 1).count() == 0)
    // and the upsert commits really were blind appends (no MERGE joins):
    // every commit in the lineage carries the eq-upsert op tag
    val ops = Sinks.listVersions(root).map(v =>
      graft.ops.Sinks.opOf(Sinks.versionPath(root, v)))
    assert(ops.count(_ == "eq-upsert") == 2, ops.mkString(", "))
  }

  test("metadata-only partition evolution re-keys sequence stamps; reconciliation survives") {
    import spark.implicits._
    val root = tmp("eqdevo") + "/t"
    Sinks.publishVersioned(
      (0L until 100L).map(i => (i, i % 3, s"a$i")).toDF("k", "g", "v"),
      root, None)
    EqDel.upsertBatch(spark,
      Seq((5L, 2L, "up5"), (6L, 0L, "up6")).toDF("k", "g", "v"),
      root, Seq("k"))
    // metadata-only evolution: files move under _layout0/, stamps re-key
    Sinks.repartitionTable(spark, root, Seq("g"), metadataOnly = true)
    val got = Sinks.readCurrent(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got.size == 100 && got(5L) == "up5" && got(6L) == "up6",
      "tombstones must keep reconciling across a metadata-only evolution")
    // and a post-evolution upsert still works (new files stamp at top level)
    EqDel.upsertBatch(spark,
      Seq((5L, 2L, "post5")).toDF("k", "g", "v"), root, Seq("k"))
    val got2 = Sinks.readCurrent(spark, root)
      .filter(col("k") === 5L).collect()
    assert(got2.length == 1 && got2.head.getString(2) == "post5")
  }
}
