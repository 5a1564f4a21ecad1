package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.ops.{ColMap, CommitProtocol, EqDel, LocalFsCommit, Sinks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `_eqdel` part a small CDC batch's driver writes from the keys
  * its data-stage write observed must be interchangeable with the part
  * a distributed write lands: same parquet schema and Spark footer
  * metadata, same inferred schema, same rows, no more bytes — and a
  * version holding both kinds, or re-staged after a lost commit race,
  * must still reconcile to the serial-merge state.
  */
class TombstonePartSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def parts(dir: String): Seq[Path] =
    graft.io.Fs.listDir(Paths.get(dir, EqDel.Sidecar))
      .filter(_.getFileName.toString.endsWith(".parquet"))

  private def footer(p: Path) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration()))
    try r.getFooter.getFileMetaData finally r.close()
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Upsert `batch` into two copies of `base`: one through the observed
    * route (driver-written part), one through `extraDeletes` (the
    * distributed write). Returns both table roots.
    */
  private def twoWays(base: DataFrame, batch: DataFrame,
      keys: Seq[String]): (String, String) = {
    val driver = tmp("tomb_driver") + "/t"
    val spark0 = tmp("tomb_spark") + "/t"
    Sinks.publishVersioned(base, driver, None)
    Sinks.publishVersioned(base, spark0, None)
    EqDel.applyCdc(batch, driver, keys)
    EqDel.upsertBatch(spark, batch, spark0, keys,
      extraDeletes = Some(batch.select(keys.map(col): _*).limit(0)))
    (driver, spark0)
  }

  private def assertSameParts(driver: String, spark0: String, what: String): Unit = {
    val (dd, sd) = (Sinks.resolve(driver), Sinks.resolve(spark0))
    val Seq(dp) = parts(dd)
    val Seq(sp) = parts(sd)
    val (df, sf) = (footer(dp), footer(sp))
    assert(df.getSchema == sf.getSchema, s"$what: parquet schema")
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    assert(df.getKeyValueMetaData.asScala.get(rowMeta) ==
      sf.getKeyValueMetaData.asScala.get(rowMeta), s"$what: Spark row metadata")
    val inferred = Sinks.inferSchema(spark, s"$dd/${EqDel.Sidecar}")
    assert(inferred == Sinks.inferSchema(spark, s"$sd/${EqDel.Sidecar}"), what)
    assert(inferred == spark.read.parquet(s"$sd/${EqDel.Sidecar}").schema, what)
    assert(rowsOf(EqDel.pending(spark, dd)) == rowsOf(EqDel.pending(spark, sd)), what)
    // on disk: the part plus the checksum and marker files a job leaves
    // (row order, and so a page's encoded bytes, may differ by a byte)
    def bytes(dir: String) = graft.io.Fs.listDir(Paths.get(dir, EqDel.Sidecar))
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    assert(bytes(dd) <= bytes(sd), s"$what: ${bytes(dd)} > ${bytes(sd)} bytes")
    assert(rowsOf(Sinks.readCurrent(spark, driver)) == rowsOf(Sinks.readCurrent(spark, spark0)),
      what)
  }

  test("a driver-written _eqdel part equals a Spark-written one for every key type") {
    val cases = Seq(
      "LONG" -> "id",
      "INT" -> "CAST(id AS INT)",
      "STRING" -> "concat('key', id)",
      "DECIMAL(12,2)" -> "CAST(id * 1.25 AS DECIMAL(12, 2))",
      "DECIMAL(30,6)" -> "CAST(id * 1.25 AS DECIMAL(30, 6))",
      "DATE" -> "date_add(DATE'2024-01-01', CAST(id AS INT))",
      "TIMESTAMP" -> "timestamp_seconds(1700000000 + id * 7)")
    cases.foreach { case (what, keyExpr) =>
      def frame(from: Long, until: Long, tag: String) = spark.range(from, until)
        .selectExpr(s"$keyExpr AS k", s"concat('$tag', id) AS v")
      val (d, s) = twoWays(frame(0, 20, "base"),
        frame(3, 8, "u").union(frame(25, 28, "n")), Seq("k"))
      assertSameParts(d, s, what)
    }
    // the legacy INT96 timestamp encoding follows the session conf too
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    try {
      def frame(from: Long, until: Long) = spark.range(from, until)
        .selectExpr("timestamp_seconds(1700000000 + id) AS k", "concat('v', id) AS v")
      val (d, s) = twoWays(frame(0, 10), frame(4, 12), Seq("k"))
      assert(footer(parts(Sinks.resolve(d)).head).getSchema.getFields.asScala
        .find(_.getName == "k").get.asPrimitiveType.getPrimitiveTypeName.name == "INT96")
      assertSameParts(d, s, "TIMESTAMP (INT96)")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a composite key and a key renamed by column mapping land alike on both routes") {
    def comp(from: Long, until: Long, tag: String) = spark.range(from, until)
      .selectExpr("CAST(id % 3 AS INT) AS a", "concat('s', id) AS b", s"concat('$tag', id) AS v")
    val (d, s) = twoWays(comp(0, 20, "base"), comp(5, 9, "u"), Seq("a", "b"))
    assertSameParts(d, s, "composite (a INT, b STRING)")
    // a metadata-only RENAME: the batch speaks the logical name, both
    // parts carry the physical one
    val wh = tmp("tomb_colmap")
    spark.conf.set("spark.sql.catalog.gtomb", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtomb.root", wh)
    Seq("ra", "rb").foreach { t =>
      spark.sql(s"CREATE TABLE gtomb.$t (k BIGINT, v STRING) USING parquet")
      spark.sql(s"INSERT INTO gtomb.$t SELECT id, concat('base', id) FROM range(20)")
      spark.sql(s"ALTER TABLE gtomb.$t RENAME COLUMN k TO kk")
    }
    val (rd, rs) = (s"$wh/ra", s"$wh/rb")
    val batch = spark.range(3, 8).selectExpr("id AS kk", "concat('u', id) AS v")
    EqDel.applyCdc(batch, rd, Seq("kk"))
    EqDel.upsertBatch(spark, batch, rs, Seq("kk"),
      extraDeletes = Some(batch.select("kk").limit(0)))
    val phys = ColMap.toPhysicalName(Sinks.resolve(rd), "kk")
    assert(phys != "kk", "the rename must be metadata-only")
    assert(EqDel.keyColumns(spark, Sinks.resolve(rd)) == Seq(phys))
    assertSameParts(rd, rs, "renamed key")
    val got = Sinks.readCurrent(spark, rd).selectExpr("kk", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (0L until 20L).map(i => i -> (if (i >= 3 && i < 8) s"u$i" else s"base$i")).toMap)
  }

  test("a version holding Spark-written and driver-written parts reconciles to the serial merge") {
    import spark.implicits._
    val root = tmp("tomb_mixed") + "/t"
    Sinks.publishVersioned((0L until 50L).map(i => (i, s"base$i")).toDF("k", "v"), root, None)
    var want = (0L until 50L).map(i => i -> s"base$i").toMap
    val batches = Seq(
      Seq((1L, "a1", "upsert"), (2L, "a2", "upsert"), (60L, "a60", "upsert")),
      Seq((2L, null, "delete"), (3L, "b3", "upsert"), (1L, "b1", "upsert")),
      Seq((60L, null, "delete"), (4L, "c4", "upsert"), (2L, "c2", "upsert")),
      Seq((3L, null, "delete"), (61L, "d61", "upsert"), (4L, "d4", "upsert")))
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF("k", "v", "op")
      if (i % 2 == 0) EqDel.applyCdc(df, root, Seq("k"), opCol = Some("op"))
      else {
        // the distributed route: upserts land, deletes ride extraDeletes
        EqDel.upsertBatch(spark, df.filter($"op" =!= "delete").drop("op"), root, Seq("k"),
          extraDeletes = Some(df.filter($"op" === "delete").select("k")))
      }
      want = b.foldLeft(want) { case (m, (k, v, op)) =>
        if (op == "delete") m - k else m + (k -> v)
      }
    }
    val dir = Sinks.resolve(root)
    assert(parts(dir).size == batches.size, "one tombstone part per commit")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/${EqDel.Sidecar}").schema
    assert(merged == Sinks.inferSchema(spark, s"$dir/${EqDel.Sidecar}"),
      "every part must carry the same schema")
    val got = Sinks.readCurrent(spark, root).as[(Long, String)].collect()
    assert(got.length == got.map(_._1).distinct.length, "duplicate keys")
    assert(got.toMap == want)
  }

  /** Runs `race` once, just before the first commit-lock section on
    * `root` — the interleaving of a writer that lost its commit race.
    */
  private final class RaceOnce(root: String, race: () => Unit) extends CommitProtocol {
    private val fired = new AtomicBoolean(false)
    def readPointer(r: String): Option[Long] = LocalFsCommit.readPointer(r)
    def versionExists(r: String, v: Long): Boolean = LocalFsCommit.versionExists(r, v)
    def publishVersionDir(stage: Path, dest: Path): Unit =
      LocalFsCommit.publishVersionDir(stage, dest)
    def flipPointer(r: String, v: Long): Unit = LocalFsCommit.flipPointer(r, v)
    def withCommitLock[T](r: String)(body: => T): T = {
      if (r == root && fired.compareAndSet(false, true)) race()
      LocalFsCommit.withCommitLock(r)(body)
    }
  }

  test("a lost commit race re-stages the observed tombstones at the new base + 1") {
    import spark.implicits._
    Seq(false, true).foreach { aboveGuard =>
      val root = tmp("tomb_race") + "/t"
      Sinks.publishVersioned((0L until 20L).map(i => (i, s"base$i")).toDF("k", "v"), root, None)
      // the racing writer appends key 5 after the upsert staged at v0;
      // the upsert commits later, so its tombstone for key 5 must hide
      // the appended row: only a seq above the append's own file seq does
      val race = () => {
        Sinks.appendVersioned(Seq((5L, "raced")).toDF("k", "v"), root, Sinks.currentVersion(root))
        ()
      }
      val batch = {
        val small = Seq((5L, "u5", "upsert"), (6L, null, "delete")).toDF("k", "v", "op")
        if (!aboveGuard) small
        else spark.range(0L, 10000000L).filter(col("id") === 5L || col("id") === 6L)
          .select(col("id").as("k"),
            when(col("id") === 5L, lit("u5")).as("v"),
            when(col("id") === 5L, "upsert").otherwise("delete").as("op"))
      }
      val rebases = Sinks.rebaseRetries.get()
      Sinks.commitProtocol = new RaceOnce(root, race)
      val v = try EqDel.applyCdc(batch, root, Seq("k"), opCol = Some("op"))
        finally Sinks.commitProtocol = LocalFsCommit
      assert(Sinks.rebaseRetries.get() == rebases + 1, "the upsert must have rebased")
      assert(v == 2L, "the raced append is v1, the rebased upsert v2")
      val seqs = EqDel.pending(spark, Sinks.resolve(root)).select("__gf_seq").as[Long]
        .collect().toSet
      assert(seqs == Set(2L), s"tombstones must carry the new base + 1, got $seqs")
      val got = Sinks.readCurrent(spark, root).as[(Long, String)].collect()
      assert(got.count(_._1 == 5L) == 1, got.filter(_._1 == 5L).toSeq.toString)
      assert(got.toMap == (0L until 20L).map(i => i -> s"base$i").toMap - 6L + (5L -> "u5"),
        s"aboveGuard=$aboveGuard")
    }
  }
}
