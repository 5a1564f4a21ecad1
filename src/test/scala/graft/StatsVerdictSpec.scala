package graft

import java.nio.file.Paths

import graft.ops.{Sinks, Stats}
import graft.ops.Stats.{AllRows, CEq, CGe, CGt, CLe, CLt, Conj, NoRows, Verdict}
import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one per-file verdict ([[Stats.verdict]]) — the classifier stats
  * skipping keeps files by and the metadata answers count by — checked
  * against the data it summarizes: every file classified NONE holds no
  * row the scan matches, and every file classified ALL holds only rows
  * the scan matches, for each comparison domain, operator and bound
  * position (at, inside and outside each file's edges).
  */
class StatsVerdictSpec extends AnyFunSuite with PredicateHelper {
  lazy val spark = TestSpark.spark

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$p").toString

  /** Verdicts of every parquet file of `dir` on column `x` against each
    * (SQL predicate, conjunct) pair, asserted sound against the scan's
    * per-file match counts; returns every verdict for vacuity checks.
    * A None conjunct is parsed from the predicate's optimized plan
    * through [[Stats.conjOf]], the SQL doors' parser.
    */
  private def checkSound(dir: String, preds: Seq[(String, Option[Conj])]): Seq[Verdict] = {
    val rows = Stats.sidecarRows(spark, dir).byFileCol
    val utc = Stats.sessionUtc(spark)
    def key(uri: String): String = Paths.get(new java.net.URI(uri)).toString
      .stripPrefix(dir).stripPrefix("/")
    val files = graft.io.Fs.walkParquet(Paths.get(dir))
      .map(_.toString.stripPrefix(dir).stripPrefix("/"))
    val all = spark.read.parquet(dir)
    val totals = all.groupBy(col("_metadata.file_path")).count().collect()
      .map(r => key(r.getString(0)) -> r.getLong(1)).toMap
    preds.flatMap { case (pred, given) =>
      val df = all.filter(pred)
      val conj = given.getOrElse {
        val cond = df.queryExecution.optimizedPlan.collectFirst {
          case f: Filter => f.condition }.get
        val cs = splitConjunctivePredicates(cond).flatMap(Stats.conjOf)
        assert(cs.size == 1, s"$pred parsed to $cs")
        cs.head
      }
      val matched = df.groupBy(col("_metadata.file_path")).count().collect()
        .map(r => key(r.getString(0)) -> r.getLong(1)).toMap
      files.map { f =>
        val v = Stats.verdict(rows((f, "x")), conj, utc)
        val (m, n) = (matched.getOrElse(f, 0L), totals.getOrElse(f, 0L))
        v match {
          case NoRows => assert(m == 0, s"$pred: NONE file $f holds $m matching rows")
          case AllRows => assert(m == n, s"$pred: ALL file $f holds ${n - m} failing rows")
          case _ => ()
        }
        v
      }
    }
  }

  /** Four files of one domain: ids [0,99], [100,199], [200,299] plus
    * five nulls, and an all-null file — `value` maps an id to the
    * domain's value expression.
    */
  private def domainDir(name: String, value: String): String = {
    val dir = tmp(s"verdict_$name") + "/t"
    Seq((0L, 99L, 0), (100L, 199L, 0), (200L, 299L, 5)).foreach { case (lo, hi, nulls) =>
      spark.range(lo, hi + 1).selectExpr(s"$value AS x")
        .union(spark.range(nulls).selectExpr(s"CAST(NULL AS ${sqlType(value)}) AS x"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    spark.range(10).selectExpr(s"CAST(NULL AS ${sqlType(value)}) AS x")
      .coalesce(1).write.mode("append").parquet(dir)
    Stats.annotate(spark, dir, Seq("x"))
    dir
  }

  private def sqlType(value: String): String =
    spark.range(1).selectExpr(s"$value AS x").schema("x").dataType.sql

  /** Bound ids at, inside and outside every file's edges. */
  private val ids = Seq(-1L, 0L, 50L, 99L, 100L, 150L, 199L, 200L, 250L, 299L, 300L, 400L)

  private def predicates(lit: Long => String): Seq[(String, Option[Conj])] =
    ids.flatMap { k =>
      Seq("=", "<", "<=", ">", ">=").map(op => (s"x $op ${lit(k)}", None)) :+
        ((s"x IN (${lit(k)}, ${lit(k + 100)})", None))
    }

  private val domains: Seq[(String, String, Long => String)] = Seq(
    ("bigint", "id", k => s"${k}L"),
    ("int", "CAST(id AS INT)", k => s"$k"),
    ("date", "date_add(DATE'2024-01-01', CAST(id AS INT))",
      k => s"DATE'${java.time.LocalDate.of(2024, 1, 1).plusDays(k)}'"),
    ("double", "CAST(id AS DOUBLE) / 4", k => s"${k / 4.0}D"),
    ("string", "format_string('k%04d', id)", k => f"'k$k%04d'"),
    ("timestamp", "timestamp_seconds(1704067200 + id * 60)",
      k => s"timestamp_seconds(${1704067200L + k * 60})"),
    ("timestamp_ntz", "CAST(timestamp_seconds(1704067200 + id * 60) AS TIMESTAMP_NTZ)",
      k => s"CAST(timestamp_seconds(${1704067200L + k * 60}) AS TIMESTAMP_NTZ)"),
    ("decimal", "CAST(id / 4 AS DECIMAL(12,2))",
      k => s"CAST(${BigDecimal(k) / 4} AS DECIMAL(12,2))"))

  domains.foreach { case (name, value, lit) =>
    test(s"verdict soundness: $name under =, <, <=, >, >=, IN at, inside and outside file edges") {
      val vs = checkSound(domainDir(name, value), predicates(lit))
      assert(vs.contains(NoRows), s"$name: no file was ever classified NONE")
      // a DECIMAL row is never ALL; every other domain must reach ALL
      if (name == "decimal") assert(!vs.contains(AllRows))
      else assert(vs.contains(AllRows), s"$name: no file was ever classified ALL")
    }
  }

  test("verdict soundness: a decimal bound off the file's scale rescales floor/ceil, never ALL") {
    val dir = domainDir("decimal_rescale", "CAST(id / 4 AS DECIMAL(12,2))")
    // bounds at scale 3 sit between two representable values (12.251
    // lies inside (12.25, 12.26)); the SQL cast widens the column, so
    // the conjunct is built as the Scala door builds it
    val preds = Seq("12.251", "24.749", "24.751", "-0.001", "74.751").flatMap { b =>
      val d = new java.math.BigDecimal(b)
      Seq((">=", CGe), (">", CGt), ("<=", CLe), ("<", CLt), ("=", CEq)).map {
        case (op, cmp) => (s"x $op $b", Some(Conj("x", cmp, Seq(d))))
      }
    }
    val vs = checkSound(dir, preds)
    assert(vs.contains(NoRows) && !vs.contains(AllRows))
  }

  test("signed zero: -0.0 and 0.0 files classify soundly and graft counts equal the scan") {
    import spark.implicits._
    val cat = "graftverdict"
    val wh = tmp("verdict_zero")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh)
    val tbl = s"$wh/z"
    // one file of -0.0, one of 0.0
    Sinks.publishVersioned(Seq(-0.0).toDF("x").coalesce(1), tbl, None,
      statsCols = Seq("x"))
    Sinks.appendVersioned(Seq(0.0, 0.0).toDF("x").coalesce(1), tbl,
      Sinks.currentVersion(tbl), Seq("x"))
    val dir = Sinks.resolve(tbl)
    assert(graft.io.Fs.walkParquet(Paths.get(dir)).size == 2)
    val preds = Seq("x >= 0.0D", "x < 0.0D", "x > -0.0D", "x <= -0.0D", "x = 0.0D")
    checkSound(dir, preds.map(p => (p, None)))
    preds.foreach { p =>
      val graftN = spark.sql(s"SELECT count(*) FROM $cat.z WHERE $p").head.getLong(0)
      val scanN = spark.read.parquet(dir).filter(p).count()
      assert(graftN == scanN, s"$p: graft counted $graftN, the scan $scanN")
    }
  }
}
