package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.{Scan, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B185 (sidecar-exact plan statistics) + B186 (storage-partitioned
  * joins): the catalog scan wrapper serves row counts, honest sizes, and
  * column statistics from the `_stats` sidecar, and reports key-grouped
  * partitioning on identity-partitioned tables so co-partitioned joins
  * run with zero Exchange.
  */
class ScanStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private var seq = 0
  private def mkCat(): String = {
    seq += 1
    val cat = s"gscan$seq"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      Files.createTempDirectory("graft_scanstats").toString)
    cat
  }

  private def scanOf(df: DataFrame): SupportsReportStatistics =
    df.queryExecution.optimizedPlan.collectFirst {
      case s: DataSourceV2ScanRelation => s.scan
    }.getOrElse(fail(s"no v2 scan in:\n${df.queryExecution.optimizedPlan}"))
      .asInstanceOf[SupportsReportStatistics]

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("estimateStatistics serves EXACT rows from the sidecar, and partition pruning shrinks them") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 3000L).map(i => (i, s"p$i", s"r${i % 3}")).toDF("k", "payload", "region")
      .createOrReplaceTempView("scanstats_src")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, payload STRING, region STRING) " +
      "USING parquet PARTITIONED BY (region) " +
      "TBLPROPERTIES ('graft.stats.columns' = 'k')")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM scanstats_src")
    val full = scanOf(spark.table(s"$cat.t")).estimateStatistics()
    assert(full.numRows.isPresent && full.numRows.getAsLong == 3000L,
      s"exact rows expected, got ${full.numRows}")
    // honest size: rows × schema width, NOT compressed parquet bytes —
    // and unmoved by the compression-factor guess the delegate leans on
    val width = 8L + (8L + 20L + 20L) // k + payload + region defaults
    assert(full.sizeInBytes.getAsLong == 3000L * width,
      s"size ${full.sizeInBytes.getAsLong} != 3000*$width")
    val pruned = scanOf(spark.table(s"$cat.t").filter($"region" === "r1"))
      .estimateStatistics()
    assert(pruned.numRows.getAsLong == 1000L,
      s"partition-pruned scan must report pruned rows, got ${pruned.numRows}")
    // the escape hatch restores the delegate's own estimate
    withConfs("spark.graft.scan.stats.enabled" -> "false") {
      val off = scanOf(spark.table(s"$cat.t")).estimateStatistics()
      assert(!off.numRows.isPresent || off.sizeInBytes.getAsLong != 3000L * width)
    }
  }

  test("column statistics: null counts, bounds in the internal domain, sketch-served NDV") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 2000L).map(i => (i, if (i % 10 == 0) None else Some(i % 97)))
      .toDF("k", "v").createOrReplaceTempView("scanstats_cols")
    spark.sql(s"CREATE TABLE $cat.t " +
      "TBLPROPERTIES ('graft.stats.columns' = 'k,v', 'graft.ndv.columns' = 'v') " +
      "AS SELECT * FROM scanstats_cols")
    val stats = scanOf(spark.table(s"$cat.t")).estimateStatistics()
    val byName = stats.columnStats().entrySet().iterator()
    var seen = Map.empty[String, org.apache.spark.sql.connector.read.colstats.ColumnStatistics]
    while (byName.hasNext) { val e = byName.next(); seen += e.getKey.describe() -> e.getValue }
    val kStat = seen("k")
    assert(kStat.nullCount.getAsLong == 0L)
    assert(kStat.min.get == 0L && kStat.max.get == 1999L, s"${kStat.min}/${kStat.max}")
    val vStat = seen("v")
    assert(vStat.nullCount.getAsLong == 200L)
    // HLL in coupon mode at 97 values: the estimate is exact
    assert(vStat.distinctCount.getAsLong == 97L, s"${vStat.distinctCount}")
    // under CBO the numbers reach the logical plan's attribute stats
    withConfs("spark.sql.cbo.enabled" -> "true") {
      val st = spark.table(s"$cat.t").queryExecution.optimizedPlan.stats
      assert(st.rowCount.contains(BigInt(2000)), s"rowCount=${st.rowCount}")
      val attr = st.attributeStats.toSeq.map { case (a, cs) => a.name -> cs }.toMap
      assert(attr("v").distinctCount.contains(BigInt(97)))
      assert(attr("v").nullCount.contains(BigInt(200)))
    }
  }

  test("honest size decides the broadcast: sidecar stats keep a small table broadcastable when file-byte guesses balloon") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 2000L).map(i => (i, s"name$i")).toDF("k", "nm")
      .createOrReplaceTempView("scanstats_dim")
    (0L until 20000L).map(i => (i % 2000L, i)).toDF("k", "ord")
      .createOrReplaceTempView("scanstats_fact")
    spark.sql(s"CREATE TABLE $cat.dim TBLPROPERTIES ('graft.stats.columns' = 'k') " +
      "AS SELECT * FROM scanstats_dim")
    spark.sql(s"CREATE TABLE $cat.fact TBLPROPERTIES ('graft.stats.columns' = 'k') " +
      "AS SELECT * FROM scanstats_fact")
    // a pathological compression-factor guess (what a 10× compressed
    // parquet file IS at 100 TB) balloons the delegate's estimate past
    // the broadcast threshold; the sidecar's exact rows × width does not
    def joinPlan(): String = {
      val df = spark.table(s"$cat.fact").join(spark.table(s"$cat.dim"), "k")
      df.queryExecution.executedPlan.toString
    }
    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.sources.fileCompressionFactor" -> "10000.0",
      "spark.sql.autoBroadcastJoinThreshold" -> (1024 * 1024).toString) {
      assert(joinPlan().contains("BroadcastHashJoin"),
        s"exact stats must keep the dim broadcastable:\n${joinPlan()}")
      withConfs("spark.graft.scan.stats.enabled" -> "false") {
        assert(!joinPlan().contains("BroadcastHashJoin"),
          "with stats off the ballooned guess must lose the broadcast " +
            s"(the flip proves the wrapper decided it):\n${joinPlan()}")
      }
    }
  }

  test("SPJ: co-partitioned tables join with ZERO Exchange, results exact, off-switch restores the shuffle") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 4000L).map(i => (i, i * 2, s"r${i % 5}")).toDF("k", "a", "region")
      .createOrReplaceTempView("spj_left")
    (0L until 4000L).map(i => (i, i * 3, s"r${i % 4}")).toDF("k", "b", "region")
      .createOrReplaceTempView("spj_right") // r4 missing on the right: pushPartValues pads
    spark.sql(s"CREATE TABLE $cat.l (k BIGINT, a BIGINT, region STRING) " +
      "USING parquet PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.l SELECT * FROM spj_left")
    spark.sql(s"CREATE TABLE $cat.r (k BIGINT, b BIGINT, region STRING) " +
      "USING parquet PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.r SELECT * FROM spj_right")
    val expected = spark.table("spj_left").as("l")
      .join(spark.table("spj_right").as("r"), Seq("region"))
      .groupBy("region").agg(count(lit(1)).as("n"), sum($"l.a" + $"r.b").as("s"))
      .orderBy("region").collect().toSeq
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table(s"$cat.l").join(spark.table(s"$cat.r"), Seq("region"))
      val agg = joined.groupBy("region")
        .agg(count(lit(1)).as("n"), sum(col("a") + col("b")).as("s"))
      val got = agg.orderBy("region").collect().toSeq
      assert(got == expected, "SPJ result must equal the shuffled recompute")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-partitioned join must not shuffle EITHER side:\n$plan")
      // off-switch: same query shuffles again
      withConfs("spark.graft.scan.spj.enabled" -> "false") {
        val p2 = spark.table(s"$cat.l").join(spark.table(s"$cat.r"), Seq("region"))
          .queryExecution.executedPlan.toString
        assert(p2.contains("Exchange"), s"spj off must restore the shuffle:\n$p2")
      }
      // the same key-grouped report serves AGGREGATES: a groupBy on the
      // partition column clusters for free — no Exchange either
      val aggQ = spark.table(s"$cat.l").groupBy("region")
        .agg(sum(col("a")).as("s"))
      val aggGot = aggQ.orderBy("region").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      val aggWant = spark.table("spj_left").groupBy("region")
        .agg(sum(col("a")).as("s")).orderBy("region").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(aggGot == aggWant)
      val aggPlan = aggQ.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"groupBy on the partition key must not shuffle:\n$aggPlan")
    }
  }

  test("dynamic partition pruning reaches the v2 catalog scan: a filtered dim prunes the fact's partitions") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 8000L).map(i => (i, s"r${i % 8}")).toDF("k", "region")
      .createOrReplaceTempView("dpp_fact_src")
    spark.sql(s"CREATE TABLE $cat.fact (k BIGINT, region STRING) USING parquet " +
      "PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.fact SELECT * FROM dpp_fact_src")
    (0 until 8).map(i => (s"r$i", i)).toDF("region", "grp")
      .createOrReplaceTempView("dpp_dim_src")
    // the dim must survive as a SCAN with a selective filter (a local
    // relation constant-folds its filter away and DPP sees no predicate)
    spark.sql(s"CREATE TABLE $cat.dim AS SELECT * FROM dpp_dim_src")
    val q = spark.table(s"$cat.fact")
      .join(spark.table(s"$cat.dim").filter($"grp" < 2), "region")
      .agg(count(lit(1)).as("n"))
    assert(q.collect().head.getLong(0) == 2000L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"the v2 catalog scan must accept the runtime partition filter:\n$plan")
  }

  test("SPJ with SUPERSET join keys: joining on (partition col, k) still needs no Exchange") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 3000L).map(i => (i, s"r${i % 4}", i * 2)).toDF("k", "region", "a")
      .createOrReplaceTempView("spj_sup_src")
    spark.sql(s"CREATE TABLE $cat.l (k BIGINT, a BIGINT, region STRING) " +
      "USING parquet PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.l SELECT k, a, region FROM spj_sup_src")
    spark.sql(s"CREATE TABLE $cat.r (k BIGINT, b BIGINT, region STRING) " +
      "USING parquet PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.r SELECT k, a * 3, region FROM spj_sup_src")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // clustering on region is a valid (coarser) clustering for join
      // keys (region, k) — rows with equal (region, k) share a region
      // group, so no redistribution is needed on either side (Spark
      // accepts the subset clustering only when
      // requireAllClusterKeysForCoPartition is off)
      val j = spark.table(s"$cat.l").join(spark.table(s"$cat.r"), Seq("region", "k"))
      assert(j.count() == 3000L)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"superset join keys must ride the partition clustering:\n$plan")
    }
  }

  test("SPJ rides the path-based format door too: no catalog registration, still zero Exchange") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 2000L).map(i => (i, s"r${i % 4}")).toDF("k", "region")
      .createOrReplaceTempView("spj_fmt_src")
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT, region STRING) USING parquet " +
      "PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.a SELECT * FROM spj_fmt_src")
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT, region STRING) USING parquet " +
      "PARTITIONED BY (region)")
    spark.sql(s"INSERT INTO $cat.b SELECT k * 2, region FROM spj_fmt_src")
    val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val l = spark.read.format("graft").load(s"$root/a")
      val r = spark.read.format("graft").load(s"$root/b")
      val j = l.join(r, "region")
      assert(j.count() == 1000000L) // 500 × 500 per region × 4 regions
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"format-door co-partitioned join must not shuffle:\n$plan")
    }
  }

  test("declines stay honest: sidecar-less versions and pushed aggregates fall back to the delegate") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 500L).map(i => (i, s"x$i")).toDF("k", "v")
      .createOrReplaceTempView("scanstats_bare")
    // no graft.stats.columns: no sidecar, no exact rows — the wrapper
    // must fall back, never guess
    spark.sql(s"CREATE TABLE $cat.bare AS SELECT * FROM scanstats_bare")
    val bare = scanOf(spark.table(s"$cat.bare")).estimateStatistics()
    assert(!bare.numRows.isPresent || bare.numRows.getAsLong != 500L ||
      bare.columnStats().isEmpty,
      "a sidecar-less table must not serve sidecar-grade statistics")
    assert(bare.sizeInBytes.isPresent && bare.sizeInBytes.getAsLong > 0)
  }

  test("CBO join reorder: exact stats put the selective dimension first (round-15)") {
    val cat = mkCat()
    import spark.implicits._
    // a 3-table star written in the WORST order: fact ⋈ big-dim first,
    // tiny-dim last. With exact row counts + NDV sketches served into
    // the CBO, CostBasedJoinReorder must flip the tiny dim to the
    // bottom join; with CBO off the written order stands.
    (0L until 60000L).map(i => (i % 8000L, i % 40L, i)).toDF("ka", "kb", "m")
      .createOrReplaceTempView("cbo_f_src")
    (0L until 8000L).map(i => (i, i * 3)).toDF("ka", "va")
      .createOrReplaceTempView("cbo_a_src")
    (0L until 40L).map(i => (i, i * 7)).toDF("kb", "vb")
      .createOrReplaceTempView("cbo_b_src")
    for ((t, src, keys) <- Seq(("f", "cbo_f_src", "ka,kb"),
        ("a", "cbo_a_src", "ka"), ("b", "cbo_b_src", "kb"))) {
      val cols = spark.table(src).schema.toDDL
      spark.sql(s"CREATE TABLE $cat.$t ($cols) USING parquet " +
        s"TBLPROPERTIES ('graft.stats.columns' = '$keys', " +
        s"'graft.ndv.columns' = '$keys')")
      spark.sql(s"INSERT INTO $cat.$t SELECT * FROM $src")
    }
    val sql =
      s"""SELECT count(*) AS n, sum(f.m + a.va + b.vb) AS s
         |FROM $cat.f f
         |JOIN $cat.a a ON f.ka = a.ka
         |JOIN $cat.b b ON f.kb = b.kb""".stripMargin
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def bottomJoinSides(plan: LogicalPlan): Set[String] = {
      val joins = plan.collect { case j: Join => j }
      val bottom = joins.find(j => j.collect { case x: Join => x }.size == 1)
        .getOrElse(fail(s"no bottom join in:\n$plan"))
      bottom.collectLeaves().collect {
        case r: DataSourceV2ScanRelation => r.relation.table.name()
      }.toSet
    }
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val on = spark.sql(sql)
      val sides = bottomJoinSides(on.queryExecution.optimizedPlan)
      assert(sides.exists(_.endsWith(".b")) && !sides.exists(_.endsWith(".a")),
        s"with exact stats the selective dim must join first, got $sides")
      val row = on.head
      assert(row.getLong(0) == 60000L)
    }
    withConfs("spark.sql.cbo.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val off = spark.sql(sql)
      val sides = bottomJoinSides(off.queryExecution.optimizedPlan)
      assert(sides.exists(_.endsWith(".a")) && !sides.exists(_.endsWith(".b")),
        s"without CBO the written order stands, got $sides")
      assert(off.head.getLong(0) == 60000L, "results agree either way")
    }
  }

  test("CBO histograms see skew: the heavy-value predicate loses the broadcast only with histograms (round-16)") {
    val cat = mkCat()
    import spark.implicits._
    // v is 95% zero: the uniform rows/ndv guess puts `v = 0` at ~20
    // rows; the merged equi-height histogram's point bins put it at
    // ~38k. Identical tables, the ONLY difference is the declared
    // 'graft.histogram.columns' — so a broadcast flip between them
    // proves the histogram decided it.
    (0L until 40000L).map(i =>
      (i, if (i % 20L != 0L) 0L else (i % 2000L) + 1L))
      .toDF("k", "v").createOrReplaceTempView("hist_fact_src")
    (0L until 20000L).map(i => (i, i * 3)).toDF("k", "w")
      .createOrReplaceTempView("hist_dim_src")
    spark.sql(s"CREATE TABLE $cat.fh TBLPROPERTIES (" +
      "'graft.stats.columns' = 'k,v', 'graft.ndv.columns' = 'v', " +
      "'graft.histogram.columns' = 'v') AS SELECT * FROM hist_fact_src")
    spark.sql(s"CREATE TABLE $cat.fn TBLPROPERTIES (" +
      "'graft.stats.columns' = 'k,v', 'graft.ndv.columns' = 'v') " +
      "AS SELECT * FROM hist_fact_src")
    spark.sql(s"CREATE TABLE $cat.d TBLPROPERTIES " +
      "('graft.stats.columns' = 'k') AS SELECT * FROM hist_dim_src")
    def joined(t: String) = spark.table(s"$cat.$t").filter($"v" === 0L)
      .join(spark.table(s"$cat.d"), "k")
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString) {
      val noHist = joined("fn").queryExecution.executedPlan.toString
      assert(noHist.contains("BroadcastHashJoin"),
        s"without a histogram the uniform guess must keep the broadcast:\n$noHist")
      val withHist = joined("fh").queryExecution.executedPlan.toString
      assert(!withHist.contains("BroadcastHashJoin"),
        s"the histogram must price the heavy value and lose the broadcast:\n$withHist")
      // both answer identically — the histogram only moved the plan
      val expected = spark.table("hist_fact_src").filter($"v" === 0L)
        .join(spark.table("hist_dim_src"), "k")
        .agg(count(lit(1)).as("n"), sum($"w").as("s")).head
      assert(joined("fh").agg(count(lit(1)).as("n"), sum($"w").as("s")).head
        == expected)
      assert(joined("fn").agg(count(lit(1)).as("n"), sum($"w").as("s")).head
        == expected)
      // declared AFTER data: CALL system.annotate_stats retrofits the
      // boundaries (the documented NDV remedy, extended to histograms)
      // and the broadcast flips on the previously-uniform table too
      spark.sql(s"ALTER TABLE $cat.fn SET TBLPROPERTIES " +
        "('graft.histogram.columns' = 'v')")
      spark.sql(s"CALL $cat.system.annotate_stats(table => 'fn', " +
        "columns => 'k,v')")
      val retro = joined("fn").queryExecution.executedPlan.toString
      assert(!retro.contains("BroadcastHashJoin"),
        s"the retrofitted histogram must price the heavy value:\n$retro")
    }
  }

  test("datetime histograms: a heavy DATE value prices correctly (round-16)") {
    val cat = mkCat()
    import spark.implicits._
    // 95% of the fact rows land on one day — the uniform rows/ndv guess
    // prices the heavy-day predicate ~300× too low; the merged
    // equi-height histogram (epoch-day domain) sees the plateau
    (0L until 40000L).map { i =>
      val d = if (i % 20L != 0L) java.time.LocalDate.of(2024, 6, 1)
        else java.time.LocalDate.of(2024, 6, 2).plusDays(i % 300L)
      (i, java.sql.Date.valueOf(d))
    }.toDF("k", "d").createOrReplaceTempView("dh_fact_src")
    (0L until 20000L).map(i => (i, i * 3)).toDF("k", "w")
      .createOrReplaceTempView("dh_dim_src")
    spark.sql(s"CREATE TABLE $cat.fh TBLPROPERTIES (" +
      "'graft.stats.columns' = 'k,d', 'graft.ndv.columns' = 'd', " +
      "'graft.histogram.columns' = 'd') AS SELECT * FROM dh_fact_src")
    spark.sql(s"CREATE TABLE $cat.fn TBLPROPERTIES (" +
      "'graft.stats.columns' = 'k,d', 'graft.ndv.columns' = 'd') " +
      "AS SELECT * FROM dh_fact_src")
    spark.sql(s"CREATE TABLE $cat.d TBLPROPERTIES " +
      "('graft.stats.columns' = 'k') AS SELECT * FROM dh_dim_src")
    def joined(t: String) = spark.table(s"$cat.$t")
      .filter($"d" === java.sql.Date.valueOf("2024-06-01"))
      .join(spark.table(s"$cat.d"), "k")
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString) {
      val noHist = joined("fn").queryExecution.executedPlan.toString
      assert(noHist.contains("BroadcastHashJoin"),
        s"without a histogram the uniform date guess keeps the broadcast:\n$noHist")
      val withHist = joined("fh").queryExecution.executedPlan.toString
      assert(!withHist.contains("BroadcastHashJoin"),
        s"the date histogram must price the heavy day:\n$withHist")
      val expected = spark.table("dh_fact_src")
        .filter($"d" === java.sql.Date.valueOf("2024-06-01"))
        .join(spark.table("dh_dim_src"), "k")
        .agg(count(lit(1)).as("n"), sum($"w").as("s")).head
      assert(joined("fh").agg(count(lit(1)).as("n"), sum($"w").as("s")).head
        == expected)
      assert(joined("fn").agg(count(lit(1)).as("n"), sum($"w").as("s")).head
        == expected)
    }
  }

  test("ANALYZE TABLE routes to the sidecar annotate pass (round-16 SQL door)") {
    val cat = mkCat()
    import spark.implicits._
    (0L until 40000L).map(i =>
      (i, if (i % 20L != 0L) 0L else (i % 2000L) + 1L))
      .toDF("k", "v").createOrReplaceTempView("an_fact_src")
    (0L until 20000L).map(i => (i, i * 3)).toDF("k", "w")
      .createOrReplaceTempView("an_dim_src")
    // created with NO stats declarations and no sidecar column tier
    spark.sql(s"CREATE TABLE $cat.f AS SELECT * FROM an_fact_src")
    spark.sql(s"CREATE TABLE $cat.d AS SELECT * FROM an_dim_src")
    // declare the NDV/histogram tiers after the fact; the SQL-standard
    // spelling retrofits them exactly like CALL system.annotate_stats
    spark.sql(s"ALTER TABLE $cat.f SET TBLPROPERTIES (" +
      "'graft.ndv.columns' = 'v', 'graft.histogram.columns' = 'v')")
    spark.sql(s"ANALYZE TABLE $cat.f COMPUTE STATISTICS FOR COLUMNS k, v")
    spark.sql(s"ANALYZE TABLE $cat.d COMPUTE STATISTICS FOR ALL COLUMNS")
    def joined = spark.table(s"$cat.f").filter($"v" === 0L)
      .join(spark.table(s"$cat.d"), "k")
    withConfs(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString) {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"the ANALYZE-built histogram must price the heavy value:\n$plan")
      val expected = spark.table("an_fact_src").filter($"v" === 0L)
        .join(spark.table("an_dim_src"), "k")
        .agg(count(lit(1)).as("n"), sum($"w").as("s")).head
      assert(joined.agg(count(lit(1)).as("n"), sum($"w").as("s")).head
        == expected)
    }
    // bare ANALYZE refreshes the DECLARED tiers (no names needed),
    // NOSCAN validates and does nothing, an unknown column refuses
    spark.sql(s"ANALYZE TABLE $cat.f COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $cat.f COMPUTE STATISTICS NOSCAN")
    val e = intercept[Exception](spark.sql(
      s"ANALYZE TABLE $cat.f COMPUTE STATISTICS FOR COLUMNS nope"))
    assert(e.getMessage.contains("not in"), e.getMessage)
  }

  test("a _stats sidecar rewritten in place with the same part count and mtime serves fresh statistics") {
    val cat = mkCat()
    spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES ('graft.stats.columns' = 'k') " +
      "AS SELECT id AS k FROM range(0, 500)")
    def rows(): Long =
      scanOf(spark.table(s"$cat.t")).estimateStatistics().numRows.getAsLong
    assert(rows() == 500L)
    val live = graft.ops.Sinks.resolve(s"${spark.conf.get(s"spark.sql.catalog.$cat.root")}/t")
    VersionMemoSpec.rewriteStatsInPlace(spark, live) { r =>
      VersionMemoSpec.updated(r, "rows" -> (r.getAs[Long]("rows") + 1000L))
    }
    val files = graft.io.Fs.walkParquet(java.nio.file.Paths.get(live)).size
    assert(rows() == 500L + 1000L * files, "the memo served the old sidecar rows")
  }
}
