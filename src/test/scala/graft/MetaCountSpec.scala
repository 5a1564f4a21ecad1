package graft

import java.nio.file.Files

import graft.ops.Sinks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B132 metadata-only count ([[graft.plans.MetaCountRewrite]]):
  * global unfiltered counts over Graft catalog tables collapse to a
  * LocalRelation answered from the `_stats` sidecar — and every case
  * where exactness cannot be proven declines to the ordinary scan.
  */
class MetaCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf001

  private def isMetaOnly(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case _: LocalRelation => true
    }.isDefined &&
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r
        case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => s
      }.isEmpty

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft_metacount").toString
    val nation = graft.io.Tables.nation(spark, sf001)
    // stats-annotated table (rule eligible)
    Sinks.publishVersioned(nation, s"$dir/annotated", None,
      statsCols = Seq("n_nationkey", "n_regionkey"))
    // bare table (no sidecar — rule must decline)
    Sinks.publishVersioned(nation, s"$dir/bare", None)
    spark.conf.set("spark.sql.catalog.graftmeta", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftmeta.root", dir)
    dir
  }

  test("count(*) and count(col) collapse to metadata and stay exact") {
    root
    val n = graft.io.Tables.nation(spark, sf001).count()
    val df = spark.sql(
      "SELECT count(*) AS a, count(n_regionkey) AS b FROM graftmeta.annotated")
    assert(isMetaOnly(df), s"expected metadata-only plan, got\n${df.queryExecution.optimizedPlan}")
    val row = df.collect().head
    assert(row.getLong(0) == n && row.getLong(1) == n)
  }

  test("the metadata answer follows appends and COW DML") {
    root
    val nation = graft.io.Tables.nation(spark, sf001)
    val tbl = s"$root/lived"
    Sinks.publishVersioned(nation, tbl, None, statsCols = Seq("n_nationkey"))
    Sinks.appendVersioned(nation.filter(col("n_nationkey") < 5), tbl, Some(0L),
      statsCols = Seq("n_nationkey"))
    spark.sql("DELETE FROM graftmeta.lived WHERE n_nationkey >= 20")
    val expected = nation.filter(col("n_nationkey") < 20).count() +
      nation.filter(col("n_nationkey") < 5).count()
    val df = spark.sql("SELECT count(*) AS a FROM graftmeta.lived")
    assert(isMetaOnly(df),
      s"sidecar must cover appended + COW-rewritten files\n${df.queryExecution.optimizedPlan}")
    assert(df.collect().head.getLong(0) == expected)
  }

  test("declines: filter, grouping, distinct, unannotated table, non-catalog frame — all still correct") {
    root
    val n = graft.io.Tables.nation(spark, sf001).count()
    // a WHERE clause means the sidecar cannot answer — full scan, right result
    val filtered = spark.sql(
      "SELECT count(*) AS a FROM graftmeta.annotated WHERE n_nationkey < 5")
    assert(!isMetaOnly(filtered))
    assert(filtered.collect().head.getLong(0) == 5)
    val grouped = spark.sql(
      "SELECT n_regionkey, count(*) AS a FROM graftmeta.annotated GROUP BY n_regionkey")
    assert(!isMetaOnly(grouped))
    val distinct = spark.sql(
      "SELECT count(DISTINCT n_regionkey) AS a FROM graftmeta.annotated")
    assert(!isMetaOnly(distinct))
    assert(distinct.collect().head.getLong(0) ==
      graft.io.Tables.nation(spark, sf001).select("n_regionkey").distinct().count())
    val bare = spark.sql("SELECT count(*) AS a FROM graftmeta.bare")
    assert(!isMetaOnly(bare))
    assert(bare.collect().head.getLong(0) == n)
    // count over a non-catalog DataFrame is untouched
    val plain = graft.io.Tables.nation(spark, sf001).agg(count(lit(1)).as("a"))
    assert(plain.collect().head.getLong(0) == n)
  }

  test("count(col) declines when the column lacks usable stats; count(*) still fires") {
    root
    // n_name (string) was not in statsCols — per-column trust is per-file
    val df = spark.sql("SELECT count(n_name) AS a FROM graftmeta.annotated")
    assert(!isMetaOnly(df))
    assert(df.collect().head.getLong(0) ==
      graft.io.Tables.nation(spark, sf001).count())
    val star = spark.sql("SELECT count(*) AS a FROM graftmeta.annotated")
    assert(isMetaOnly(star))
  }

  test("min/max collapse to metadata for numeric columns, stay exact, and handle all-null") {
    root
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double, java.lang.Double, String)](
      (5L, 1.5, null, "b"), (2L, -3.25, null, "a"), (9L, 7.0, null, "c"))
      .toDF("k", "v", "allnull", "s")
    val tbl = s"$root/mm"
    Sinks.publishVersioned(df.repartition(2), tbl, None,
      statsCols = Seq("k", "v", "allnull", "s"))
    val q = spark.sql(
      "SELECT min(k) AS a, max(k) AS b, min(v) AS c, max(v) AS d, " +
        "max(allnull) AS e, count(*) AS n FROM graftmeta.mm")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 9L)
    assert(r.getDouble(2) == -3.25 && r.getDouble(3) == 7.0)
    assert(r.isNullAt(4), "min/max over an all-null column is NULL, not a decline")
    assert(r.getLong(5) == 3L)
    // strings answer too (round-14): the annotator computed exact
    // bounds from the data at commit time (`s_exact`), so the footer
    // truncation hazard never reaches the answer path
    val sq = spark.sql("SELECT min(s) AS a, max(s) AS b FROM graftmeta.mm")
    assert(isMetaOnly(sq), s"\n${sq.queryExecution.optimizedPlan}")
    val sr = sq.collect().head
    assert(sr.getString(0) == "a" && sr.getString(1) == "c")
  }

  test("string min/max: exact commit-time bounds answer where footers cannot; pre-round-14 sidecars decline (round-14)") {
    root
    import spark.implicits._
    // a long-string column: parquet drops binary min/max past the 4 KB
    // stats cap, so the FOOTER alone can neither prune nor answer — the
    // exact data pass must carry the whole column
    val long = (0 until 40).map(i => (i.toLong, f"k$i%03d" + ("x" * 3000)))
      .toDF("k", "doc")
    val tbl = s"$root/sbig"
    Sinks.publishVersioned(long.repartition(4), tbl, None,
      statsCols = Seq("doc"))
    val q = spark.sql(
      "SELECT min(doc) AS lo, max(doc) AS hi, count(doc) AS n FROM graftmeta.sbig")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val r = q.collect().head
    assert(r.getString(0).startsWith("k000") && r.getString(1).startsWith("k039"))
    assert(r.getLong(2) == 40)
    // ground truth from the scan
    val scan = Sinks.readCurrent(spark, tbl).agg(min("doc"), max("doc")).head()
    assert(r.getString(0) == scan.getString(0) && r.getString(1) == scan.getString(1))
    // a pre-round-14 sidecar (no s_exact column) must DECLINE the string
    // answer — footer bounds may be truncated — while count(*) still fires
    val side = s"${Sinks.resolve(tbl)}/${graft.ops.Stats.Sidecar}"
    val stripped = spark.read.parquet(side).drop("s_exact")
      .collect()
    val schema = spark.read.parquet(side).drop("s_exact").schema
    val tmpSide = side + ".old"
    spark.createDataFrame(
        spark.sparkContext.parallelize(stripped.toIndexedSeq, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmpSide)
    graft.io.Fs.deleteRecursively(java.nio.file.Paths.get(side))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmpSide),
      java.nio.file.Paths.get(side))
    spark.catalog.clearCache()
    val q2 = spark.sql("SELECT min(doc) AS lo FROM graftmeta.sbig")
    assert(!isMetaOnly(q2),
      "an era sidecar without s_exact must decline, never guess")
    assert(q2.collect().head.getString(0) == scan.getString(0))
    val q3 = spark.sql("SELECT count(*) AS n FROM graftmeta.sbig")
    assert(isMetaOnly(q3) && q3.collect().head.getLong(0) == 40)
  }

  test("min/max of TIMESTAMP collapse to metadata (µs exact); NTZ flavor guards") {
    import spark.implicits._
    root
    val df = spark.range(0, 500).select($"id".as("k"),
      expr("timestamp'2024-05-01 00:00:00' + " +
        "make_interval(0,0,0,0, CAST(id AS INT),0,0)").as("ts"))
    Sinks.publishVersioned(df.repartition(4), s"$root/tsmeta", None,
      statsCols = Seq("ts"))
    val q = spark.sql(
      "SELECT count(*) AS n, min(ts) AS lo, max(ts) AS hi FROM graftmeta.tsmeta")
    assert(isMetaOnly(q),
      s"freshness probe must be metadata-only, got\n${q.queryExecution.optimizedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 500)
    assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-05-01 00:00:00"))
    assert(r.getTimestamp(2) == java.sql.Timestamp.valueOf("2024-05-21 19:00:00"))
    // values equal the scan's own answer (the ground truth)
    val scan = Sinks.readCurrent(spark, s"$root/tsmeta")
      .agg(min("ts"), max("ts")).head()
    assert(r.getTimestamp(1) == scan.getTimestamp(0) &&
      r.getTimestamp(2) == scan.getTimestamp(1))
    // an NTZ column answers under its own flavor too
    Sinks.publishVersioned(
      df.select($"k", $"ts".cast("timestamp_ntz").as("ts")).repartition(2),
      s"$root/tsmeta_ntz", None, statsCols = Seq("ts"))
    val qn = spark.sql(
      "SELECT min(ts) AS lo, max(ts) AS hi FROM graftmeta.tsmeta_ntz")
    assert(isMetaOnly(qn), qn.queryExecution.optimizedPlan.toString)
    val rn = qn.collect().head
    assert(rn.get(0).toString.startsWith("2024-05-01T00:00") &&
      rn.get(1).toString.startsWith("2024-05-21T19:00"), rn.toString)
  }

  test("filtered count: partition-only predicates answer from directory arithmetic (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/fpart"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "cat STRING"))
    val df = (0 until 300).map(i => (i.toLong, Seq("a", "b", "c")(i % 3)))
      .toDF("k", "cat")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k"))
    // equality on the partition column: every file is ALL or NONE by its
    // directory value alone — zero files opened
    val q = spark.sql("SELECT count(*) AS n FROM graftmeta.fpart WHERE cat = 'a'")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    assert(q.collect().head.getLong(0) == 100)
    // IN over two partitions
    val q2 = spark.sql(
      "SELECT count(*) AS n FROM graftmeta.fpart WHERE cat IN ('a', 'b')")
    assert(isMetaOnly(q2), s"\n${q2.queryExecution.optimizedPlan}")
    assert(q2.collect().head.getLong(0) == 200)
    // partition conjunct AND an always-true stats conjunct: still pure
    // metadata (both classify every file ALL/NONE)
    val q3 = spark.sql(
      "SELECT count(*) AS n FROM graftmeta.fpart WHERE cat = 'b' AND k >= 0")
    assert(isMetaOnly(q3), s"\n${q3.queryExecution.optimizedPlan}")
    assert(q3.collect().head.getLong(0) == 100)
    // an unanalyzable conjunct declines wholesale — correct via the scan
    val q4 = spark.sql(
      "SELECT count(*) AS n FROM graftmeta.fpart WHERE cat LIKE 'a%'")
    assert(!isMetaOnly(q4))
    assert(q4.collect().head.getLong(0) == 100)
  }

  test("filtered count: interior files count from metadata, only boundary files scan, strictness exact (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/fmix"
    // 4 files with disjoint k ranges [0,249][250,499][500,749][750,999]
    val df = (0L until 1000L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k"))
    // [250,499] is interior (metadata), [500,749] is boundary (scanned),
    // the other two are disjoint (never opened)
    val q = spark.sql(
      "SELECT count(*) AS n FROM graftmeta.fmix WHERE k >= 250 AND k < 600")
    assert(!isMetaOnly(q)) // a (single-file) scan exists
    assert(q.collect().head.getLong(0) == 350)
    assert(q.inputFiles.length == 1,
      s"only the boundary file must open, got ${q.inputFiles.mkString(", ")}")
    // strict endpoints classify exactly: k > 249 AND k <= 499 makes file
    // [250,499] provably ALL and every other file provably NONE —
    // answered with zero files opened (the relaxed-to-inclusive keep-set
    // semantics of pruning would have been WRONG here)
    val q2 = spark.sql(
      "SELECT count(*) AS n FROM graftmeta.fmix WHERE k > 249 AND k <= 499")
    assert(isMetaOnly(q2), s"\n${q2.queryExecution.optimizedPlan}")
    assert(q2.collect().head.getLong(0) == 250)
    // open endpoint ON a file minimum: [250,499] must NOT be interior
    val q3 = spark.sql("SELECT count(*) AS n FROM graftmeta.fmix WHERE k > 250")
    assert(!isMetaOnly(q3))
    assert(q3.collect().head.getLong(0) == 749)
    assert(q3.inputFiles.length == 1)
  }

  test("filtered count(col): ALL files contribute rows minus nulls from metadata; uncovered columns demote (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/fnul"
    // 4 disjoint k-range files; s is null on multiples of 5
    val df = (0L until 1000L).map(i =>
        (i, if (i % 5 == 0) null else s"s$i", s"p$i"))
      .toDF("k", "s", "payload")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k", "s"))
    // [250,500) is exactly one file: pure metadata, count(s) = 250 − 50
    val q = spark.sql("SELECT count(s) AS n, count(*) AS m " +
      "FROM graftmeta.fnul WHERE k >= 250 AND k < 500")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 200 && r.getLong(1) == 250)
    // hybrid: one interior + one boundary file, both counts exact
    val q2 = spark.sql("SELECT count(s) AS n, count(*) AS m " +
      "FROM graftmeta.fnul WHERE k >= 250 AND k < 600")
    assert(!isMetaOnly(q2))
    assert(q2.inputFiles.length == 1)
    val r2 = q2.collect().head
    assert(r2.getLong(0) == 280 && r2.getLong(1) == 350)
    // a column WITHOUT trusted stats demotes its interior files to the
    // scan — still correct, never guessed
    val q3 = spark.sql("SELECT count(payload) AS n " +
      "FROM graftmeta.fnul WHERE k >= 250 AND k < 500")
    assert(!isMetaOnly(q3))
    assert(q3.collect().head.getLong(0) == 250)
  }

  test("filtered min/max: per-segment freshness probes answer from metadata; hybrids combine exactly (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/fmm"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "cat STRING"))
    val df = spark.range(0, 600).select(
      $"id".as("k"),
      expr("CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
        "ELSE 'c' END").as("cat"),
      expr("timestamp'2024-06-01 00:00:00' + " +
        "make_interval(0,0,0,0, CAST(id % 48 AS INT), CAST(id AS INT), 0)").as("ts"),
      expr("CAST(NULL AS DOUBLE)").as("allnull"))
    Sinks.publishVersioned(df.repartition(2), tbl, None,
      statsCols = Seq("k", "ts", "allnull"))
    // partition-only predicate + min/max: THE per-segment freshness
    // probe — zero files opened
    val q = spark.sql("SELECT count(*) AS n, min(ts) AS lo, max(ts) AS hi, " +
      "min(k) AS klo, max(k) AS khi, max(allnull) AS an " +
      "FROM graftmeta.fmm WHERE cat = 'a'")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val want = Sinks.readCurrent(spark, tbl).filter(col("cat") === "a")
      .agg(count(lit(1)), min("ts"), max("ts"), min("k"), max("k")).head()
    val r = q.collect().head
    assert(r.getLong(0) == want.getLong(0))
    assert(r.getTimestamp(1) == want.getTimestamp(1) &&
      r.getTimestamp(2) == want.getTimestamp(2))
    assert(r.getLong(3) == want.getLong(3) && r.getLong(4) == want.getLong(4))
    assert(r.isNullAt(5), "min/max over an all-null column is NULL, not a decline")
    // hybrid: interior + boundary bounds combine via Least/Greatest
    val tbl2 = s"$root/fmm2"
    val df2 = (0L until 1000L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df2, tbl2, None, statsCols = Seq("k"))
    val q2 = spark.sql("SELECT min(k) AS lo, max(k) AS hi, count(*) AS n " +
      "FROM graftmeta.fmm2 WHERE k >= 100 AND k < 600")
    assert(!isMetaOnly(q2)) // one boundary file scans
    assert(q2.inputFiles.length == 2, q2.inputFiles.mkString(", "))
    val r2 = q2.collect().head
    assert(r2.getLong(0) == 100 && r2.getLong(1) == 599 && r2.getLong(2) == 500)
  }

  test("filtered count with a DECIMAL conjunct classifies per file and equals the scan") {
    root
    import spark.implicits._
    val tbl = s"$root/fdec"
    // price = k / 4 as DECIMAL(12,2) over 4 disjoint k-range files:
    // [0.00,62.25] [62.50,124.75] [125.00,187.25] [187.50,249.75]
    val df = (0L until 1000L).toDF("k")
      .select($"k", ($"k" / 4).cast("decimal(12,2)").as("price"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k", "price"))
    // the strict lower edge sits on the second file's maximum, so only
    // the third file can hold a match
    val pred = "price > 124.75 AND price <= 187.25"
    val q = spark.sql(s"SELECT count(*) AS n FROM graftmeta.fdec WHERE $pred")
    val want = Sinks.readCurrent(spark, tbl).filter(pred).count()
    assert(q.collect().head.getLong(0) == want && want == 250)
    assert(q.inputFiles.length == 1,
      s"only the overlapping file must open, got ${q.inputFiles.mkString(", ")}")
  }

  test("filtered count: deletion-vector files are forced into the boundary scan (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/fdv"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.DmlModeKey -> "mor"))
    val df = (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "payload")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k"))
    // MOR delete touches BOTH files' vectors
    spark.sql("DELETE FROM graftmeta.fdv WHERE k = 10 OR k = 700")
    assert(graft.ops.Dv.exists(Sinks.resolve(tbl)), "fixture must be MOR")
    // file [0,499] classifies ALL but carries a vector → boundary scan
    // (its metadata row count is pre-delete); file [500,999] is NONE —
    // a delete only removes rows, so provably-zero stays zero
    val q = spark.sql("SELECT count(*) AS n FROM graftmeta.fdv WHERE k < 500")
    assert(!isMetaOnly(q))
    assert(q.collect().head.getLong(0) == 499)
    val q2 = spark.sql("SELECT count(*) AS n FROM graftmeta.fdv WHERE k >= 500")
    assert(q2.collect().head.getLong(0) == 499)
  }

  test("grouped metadata counts: GROUP BY partition column answers from directories (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/fgrp"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "cat STRING"))
    // 300 rows over a/b/c plus 30 NULL-partition rows; s null on %5
    val df = (0 until 330).map { i =>
      val cat = if (i >= 300) null else Seq("a", "b", "c")(i % 3)
      (i.toLong, cat, if (i % 5 == 0) null else s"s$i")
    }.toDF("k", "cat", "s")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k", "s"))
    // the partitions-overview probe: zero files opened
    val q = spark.sql(
      "SELECT cat, count(*) AS n, count(s) AS ns FROM graftmeta.fgrp GROUP BY cat")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val got = q.collect().map(r =>
      Option(r.getString(0)).getOrElse("NULL") ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val want = Sinks.readCurrent(spark, tbl)
      .groupBy("cat").agg(count(lit(1)), count(col("s"))).collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, s"got $got want $want")
    assert(got.keySet == Set("a", "b", "c", "NULL"))
    // an ALL/NONE-classifiable predicate composes: NONE groups vanish
    val q2 = spark.sql("SELECT cat, count(*) AS n FROM graftmeta.fgrp " +
      "WHERE cat IN ('a', 'b') GROUP BY cat")
    assert(isMetaOnly(q2), s"\n${q2.queryExecution.optimizedPlan}")
    assert(q2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 100, "b" -> 100))
    // a boundary-producing predicate goes HYBRID (round-14): interior
    // groups inject metadata partials, only boundary files scan
    val q3 = spark.sql("SELECT cat, count(*) AS n FROM graftmeta.fgrp " +
      "WHERE k < 150 GROUP BY cat")
    assert(q3.collect().map(_.getLong(1)).sum == 150)
    assert(q3.inputFiles.length <
      graft.io.Fs.walkParquet(java.nio.file.Paths.get(Sinks.resolve(tbl))).size,
      "the grouped hybrid must scan only boundary files")
    // grouping by a NON-partition column declines (values live in files)
    val q4 = spark.sql(
      "SELECT s, count(*) AS n FROM graftmeta.fgrp GROUP BY s")
    assert(!isMetaOnly(q4))
    assert(q4.collect().map(_.getLong(1)).sum == 330)
    // SELECT DISTINCT <partition col> is SHOW PARTITIONS — zero files
    val q5 = spark.sql("SELECT DISTINCT cat FROM graftmeta.fgrp")
    assert(isMetaOnly(q5), s"\n${q5.queryExecution.optimizedPlan}")
    assert(q5.collect().map(r => Option(r.getString(0)).getOrElse("NULL"))
      .toSet == Set("a", "b", "c", "NULL"))
  }

  test("sum/avg collapse to metadata for integer columns and stay exact (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/msum"
    // 4 range files; v (int) nulls on %5; one all-null column
    val df = (0L until 1000L).map(i =>
        (i, if (i % 5 == 0) null else Integer.valueOf((i % 7).toInt),
          null: java.lang.Long))
      .toDF("k", "v", "allnull")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k", "v", "allnull"))
    val q = spark.sql(
      "SELECT sum(k) AS sk, avg(k) AS ak, sum(v) AS sv, avg(v) AS av, " +
        "sum(allnull) AS sn, avg(allnull) AS an, count(*) AS n " +
        "FROM graftmeta.msum")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val want = Sinks.readCurrent(spark, tbl)
      .agg(sum("k"), avg("k"), sum("v"), avg("v"), count(lit(1))).head()
    val r = q.collect().head
    assert(r.getLong(0) == want.getLong(0))
    assert(r.getDouble(1) == want.getDouble(1), "avg must match the scan to the bit")
    assert(r.getLong(2) == want.getLong(2))
    assert(r.getDouble(3) == want.getDouble(3))
    assert(r.isNullAt(4) && r.isNullAt(5),
      "sum/avg over an all-null column are NULL, not a decline")
    assert(r.getLong(6) == 1000L)
    // the metadata answer follows a linked append too
    Sinks.appendVersioned(
      Seq((2000L, Integer.valueOf(3), null: java.lang.Long))
        .toDF("k", "v", "allnull"),
      tbl, Some(0L), statsCols = Seq("k", "v", "allnull"))
    val q2 = spark.sql("SELECT sum(k) AS sk, sum(v) AS sv FROM graftmeta.msum")
    assert(isMetaOnly(q2), s"\n${q2.queryExecution.optimizedPlan}")
    val r2 = q2.collect().head
    assert(r2.getLong(0) == want.getLong(0) + 2000L &&
      r2.getLong(1) == want.getLong(2) + 3L)
  }

  test("sum/avg decline where exactness cannot be proven (round-14)") {
    root
    import spark.implicits._
    // mixed-sign values: SUM still serves (exact addition has no sign
    // gate) but AVG declines — double accumulation order could round
    val tbl = s"$root/msign"
    val df = (0L until 400L).map(i => (i, i - 200L)).toDF("k", "v")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k", "v"))
    val qs = spark.sql("SELECT sum(v) AS s FROM graftmeta.msign")
    assert(isMetaOnly(qs), s"\n${qs.queryExecution.optimizedPlan}")
    assert(qs.collect().head.getLong(0) == (0L until 400L).map(_ - 200L).sum)
    val qa = spark.sql("SELECT avg(v) AS a FROM graftmeta.msign")
    assert(!isMetaOnly(qa), "mixed-sign avg must decline to the scan")
    assert(qa.collect().head.getDouble(0) ==
      Sinks.readCurrent(spark, tbl).agg(avg("v")).head().getDouble(0))
    // a double column never serves sums (accumulation order visible)
    val tbl2 = s"$root/mdbl"
    Sinks.publishVersioned(
      (0 until 100).map(i => (i.toLong, i * 0.1)).toDF("k", "d"),
      tbl2, None, statsCols = Seq("k", "d"))
    val qd = spark.sql("SELECT sum(d) AS s FROM graftmeta.mdbl")
    assert(!isMetaOnly(qd))
    // an era sidecar (no sum_l column) declines sums; count(*) still fires
    val side = s"${Sinks.resolve(tbl)}/${graft.ops.Stats.Sidecar}"
    val stripped = spark.read.parquet(side).drop("sum_l").collect()
    val schema = spark.read.parquet(side).drop("sum_l").schema
    val tmpSide = side + ".old"
    spark.createDataFrame(
        spark.sparkContext.parallelize(stripped.toIndexedSeq, 1), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmpSide)
    graft.io.Fs.deleteRecursively(java.nio.file.Paths.get(side))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmpSide),
      java.nio.file.Paths.get(side))
    spark.catalog.clearCache()
    val q2 = spark.sql("SELECT sum(v) AS s FROM graftmeta.msign")
    assert(!isMetaOnly(q2), "an era sidecar without sum_l must decline, never guess")
    assert(q2.collect().head.getLong(0) == (0L until 400L).map(_ - 200L).sum)
    val q3 = spark.sql("SELECT count(*) AS n FROM graftmeta.msign")
    assert(isMetaOnly(q3) && q3.collect().head.getLong(0) == 400L)
  }

  test("filtered sums: partition-only pure metadata, hybrids add interior sums (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/fsum"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "cat STRING"))
    val df = (0L until 600L).map(i =>
        (i, Seq("a", "b", "c")((i % 3).toInt), null: java.lang.Long))
      .toDF("k", "cat", "allnull")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k", "allnull"))
    // partition-only: the per-segment revenue probe — zero files opened
    val q = spark.sql("SELECT sum(k) AS s, avg(k) AS a, sum(allnull) AS sn " +
      "FROM graftmeta.fsum WHERE cat = 'a'")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val want = Sinks.readCurrent(spark, tbl).filter(col("cat") === "a")
      .agg(sum("k"), avg("k")).head()
    val r = q.collect().head
    assert(r.getLong(0) == want.getLong(0))
    assert(r.getDouble(1) == want.getDouble(1))
    assert(r.isNullAt(2), "all-null interior sum is NULL, not a decline")
    // hybrid: interior sums ride the boundary scan's aggregate
    val tbl2 = s"$root/fsum2"
    val df2 = (0L until 1000L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df2, tbl2, None, statsCols = Seq("k"))
    val q2 = spark.sql("SELECT sum(k) AS s, count(*) AS n " +
      "FROM graftmeta.fsum2 WHERE k >= 100 AND k < 600")
    assert(!isMetaOnly(q2)) // boundary files scan
    assert(q2.inputFiles.length == 2, q2.inputFiles.mkString(", "))
    val r2 = q2.collect().head
    assert(r2.getLong(0) == (100L until 600L).sum && r2.getLong(1) == 500L)
    // a hybrid avg declines — Average cannot combine with a boundary
    val q3 = spark.sql("SELECT avg(k) AS a " +
      "FROM graftmeta.fsum2 WHERE k >= 100 AND k < 600")
    assert(!isMetaOnly(q3))
    assert(q3.collect().head.getDouble(0) == (100L until 600L).sum.toDouble / 500)
  }

  test("grouped sums and bounds: GROUP BY partition column serves min/max/sum/avg (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/gsum"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "cat STRING"))
    // 'a:b' is stored Hive-escaped (cat=a%3Ab)
    val df = (0 until 330).map { i =>
      val cat = if (i >= 300) null else Seq("a", "b", "c", "a:b")(i % 4)
      (i.toLong, cat, if (i % 5 == 0) null else java.lang.Long.valueOf(i * 2L))
    }.toDF("k", "cat", "v")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k", "v"))
    val q = spark.sql(
      "SELECT cat, count(*) AS n, sum(v) AS sv, avg(v) AS av, " +
        "min(k) AS lo, max(k) AS hi FROM graftmeta.gsum GROUP BY cat")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val got = q.collect().map(r => Option(r.getString(0)).getOrElse("NULL") ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))).toMap
    val want = Sinks.readCurrent(spark, tbl).groupBy("cat")
      .agg(count(lit(1)), sum("v"), avg("v"), min("k"), max("k")).collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == want, s"got $got want $want")
    // the escaped directory decodes as Spark's partition discovery
    // decodes it, in the grouped answer and in the .partitions meta-table
    assert(got.contains("a:b"), s"got ${got.keySet}")
    val parts = spark.sql("SELECT cat, n_rows FROM graftmeta.gsum.partitions").collect()
      .map(r => Option(r.getString(0)).getOrElse("NULL") -> r.getLong(1)).toMap
    assert(parts == want.map { case (c, w) => c -> w._1 }, s"partitions $parts want $want")
  }

  test("count(DISTINCT partition col) answers from directories; non-partition distinct declines (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/dpart"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "cat STRING"))
    // three values + a NULL partition; count(DISTINCT) excludes NULL
    val df = (0 until 120).map { i =>
      val cat = if (i >= 90) null else Seq("a", "b", "c")(i % 3)
      (i.toLong, cat)
    }.toDF("k", "cat")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k"))
    val q = spark.sql(
      "SELECT count(DISTINCT cat) AS n, count(*) AS m FROM graftmeta.dpart")
    assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 120L)
    // a non-partition column's distinct count declines — values live in
    // files, not directories — and the scan still answers
    val q2 = spark.sql("SELECT count(DISTINCT k) AS n FROM graftmeta.dpart")
    assert(!isMetaOnly(q2))
    assert(q2.collect().head.getLong(0) == 120L)
  }

  test("grouped hybrid: boundary files scan per group, interior groups inject partials, interior-only groups survive (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/ghyb"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "cat STRING"))
    // a/b span k 0..599; c exists only below 300 — so under the range
    // below, c is INTERIOR-ONLY (the scan leg emits no c rows at all)
    val df = ((0L until 600L).flatMap(k => Seq((k, "a"), (k, "b"))) ++
      (0L until 300L).map(k => (k, "c")))
      .map { case (k, cat) => (k, cat, if (k % 5 == 0) null else s"s$k") }
      .toDF("k", "cat", "s")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k", "s"))
    val q = spark.sql(
      "SELECT cat, count(*) AS n, count(s) AS ns, sum(k) AS sk, " +
        "min(k) AS lo, max(k) AS hi FROM graftmeta.ghyb " +
        "WHERE k >= 100 AND k < 560 GROUP BY cat")
    val want = Sinks.readCurrent(spark, tbl)
      .filter(col("k") >= 100 && col("k") < 560)
      .groupBy("cat").agg(count(lit(1)), count(col("s")), sum("k"),
        min("k"), max("k")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val got = q.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got == want, s"got $got want $want")
    assert(got.contains("c"),
      "an interior-only group must survive the hybrid via the union leg")
    // only BOUNDARY files open: the metadata partials carry the rest
    val total = graft.io.Fs.walkParquet(
      java.nio.file.Paths.get(Sinks.resolve(tbl))).size
    assert(q.inputFiles.nonEmpty && q.inputFiles.length < total,
      s"hybrid must scan a strict file subset, got ${q.inputFiles.length}/$total")
    // the same shape with avg declines (partials cannot merge) — and
    // still answers exactly from the scan
    val qa = spark.sql("SELECT cat, avg(k) AS a FROM graftmeta.ghyb " +
      "WHERE k >= 100 AND k < 560 GROUP BY cat")
    val wantA = Sinks.readCurrent(spark, tbl)
      .filter(col("k") >= 100 && col("k") < 560)
      .groupBy("cat").agg(avg("k")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(qa.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap == wantA)
  }

  test("grouped hybrid: deletion-vector files demote to the boundary, clean files stay metadata (round-14)") {
    root
    import spark.implicits._
    val tbl = s"$root/gdv"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "cat STRING") +
      (graft.ops.TableProps.DmlModeKey -> "mor"))
    val df = (0L until 300L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt)))
      .toDF("k", "cat")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k"))
    spark.sql("DELETE FROM graftmeta.gdv WHERE k = 7") // k=7 is in cat=b
    assert(graft.ops.Dv.exists(Sinks.resolve(tbl)))
    val q = spark.sql("SELECT cat, count(*) AS n, sum(k) AS sk " +
      "FROM graftmeta.gdv GROUP BY cat")
    val want = Sinks.readCurrent(spark, tbl).groupBy("cat")
      .agg(count(lit(1)), sum("k")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(q.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap == want)
    // only the vectored file scans; the clean files serve from metadata
    val total = graft.io.Fs.walkParquet(
      java.nio.file.Paths.get(Sinks.resolve(tbl))).size
    assert(q.inputFiles.nonEmpty && q.inputFiles.length < total,
      s"only DV files must scan, got ${q.inputFiles.length}/$total")
  }

  test("time-travel snapshots answer from their own version's sidecar") {
    root
    val nation = graft.io.Tables.nation(spark, sf001)
    val tbl = s"$root/tt"
    Sinks.publishVersioned(nation, tbl, None, statsCols = Seq("n_nationkey"))
    Sinks.publishVersioned(nation.filter(col("n_nationkey") < 3), tbl, Some(0L),
      statsCols = Seq("n_nationkey"))
    val v0 = spark.sql("SELECT count(*) AS a FROM graftmeta.tt VERSION AS OF 0")
    val cur = spark.sql("SELECT count(*) AS a FROM graftmeta.tt")
    assert(isMetaOnly(v0) && isMetaOnly(cur))
    assert(v0.collect().head.getLong(0) == nation.count())
    assert(cur.collect().head.getLong(0) == 3)
  }

  test("a _stats sidecar rewritten in place with the same part count and mtime is served fresh") {
    root
    val tbl = s"$root/restamp"
    Sinks.publishVersioned(graft.io.Tables.nation(spark, sf001), tbl, None,
      statsCols = Seq("n_nationkey"))
    val sql = "SELECT count(*) AS n, min(n_nationkey) AS lo, max(n_nationkey) AS hi " +
      "FROM graftmeta.restamp"
    def answer(): Seq[Long] = {
      val q = spark.sql(sql)
      assert(isMetaOnly(q), s"\n${q.queryExecution.optimizedPlan}")
      q.collect().head.toSeq.map(_.asInstanceOf[Number].longValue)
    }
    assert(answer() == Seq(25L, 0L, 24L))
    VersionMemoSpec.rewriteStatsInPlace(spark, Sinks.resolve(tbl)) { r =>
      VersionMemoSpec.updated(r, "rows" -> (r.getAs[Long]("rows") + 1000L),
        "hi_l" -> 999L)
    }
    val files = graft.io.Fs.walkParquet(java.nio.file.Paths.get(Sinks.resolve(tbl))).size
    assert(answer() == Seq(25L + 1000L * files, 0L, 999L),
      "the memo served the old sidecar rows")
  }

  test("grouped count(DISTINCT partition col) over two partition columns matches the scan") {
    root
    import spark.implicits._
    val tbl = s"$root/twoparts"
    graft.ops.TableProps.update(tbl)(_ +
      (graft.ops.TableProps.PartitionKey -> "p1 STRING, p2 STRING"))
    val df = (0 until 120).map(i => (i.toLong, s"a${i % 3}", s"b${i % 4}"))
      .toDF("k", "p1", "p2")
    Sinks.publishVersioned(df, tbl, None, statsCols = Seq("k"))
    val got = spark.sql("SELECT p1, count(DISTINCT p2) AS n FROM graftmeta.twoparts " +
      "GROUP BY p1").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Sinks.readCurrent(spark, tbl).groupBy("p1")
      .agg(countDistinct(col("p2"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && want == Map("a0" -> 4L, "a1" -> 4L, "a2" -> 4L),
      s"got $got want $want")
  }
}
