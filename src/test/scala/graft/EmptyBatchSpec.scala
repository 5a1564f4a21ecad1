package graft

import java.nio.file.{Files, Paths}

import graft.ops.{EqDel, Sinks, TableProps, TableStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Empty micro-batches on the three streaming doors (`streamTo`,
  * `upsertStreamTo`, `writeStream.format("graft")`): no probe job
  * decides emptiness, so the commit path itself must publish nothing
  * for a batch with no rows on an existing table while the batch's
  * high-water mark still advances — and a first batch on a fresh root
  * must still create the table.
  */
class EmptyBatchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val schema = StructType.fromDDL("k BIGINT, v STRING")

  /** The streaming doors' durable high-water mark of `root` (one writer). */
  private def lastBatch(root: String): Option[Long] =
    TableProps.load(root).collectFirst {
      case (k, v) if k.startsWith("graft.stream.lastBatch.") => v.toLong
    }

  private def stageDebris(root: String): Seq[String] =
    graft.io.Fs.listDir(Paths.get(root))
      .map(_.getFileName.toString).filter(_.startsWith(".stage-"))

  private def landFile(src: String, rows: Seq[(Long, String)]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (k, v) => Row(k, v) }, 1), schema)
      .write.mode("append").parquet(src)

  /** Runs one file-stream door over `src` into `root`. */
  private def fileDoor(door: String, src: String, root: String, cp: String): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(src)
    if (door == "streamTo") TableStream.streamTo(stream, root, cp)
    else EqDel.upsertStreamTo(stream, root, cp, keys = Seq("k"))
  }

  private def state(root: String): Map[Long, String] =
    Sinks.readCurrent(spark, root).collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("an empty micro-batch on an existing table publishes no version and advances the high-water mark") {
    import spark.implicits._
    Seq("streamTo", "upsertStreamTo").foreach { door =>
      val root = tmp("empty_door") + "/t"
      val src = tmp("empty_src")
      val cp = tmp("empty_cp")
      Sinks.publishVersioned(Seq((1L, "base1")).toDF("k", "v"), root, None)
      landFile(src, Seq((2L, "b2")))
      val q = fileDoor(door, src, root, cp)
      try {
        q.processAllAvailable()
        val v = Sinks.currentVersion(root)
        assert(v.contains(1L) && lastBatch(root).contains(0L), door)
        landFile(src, Nil)
        q.processAllAvailable()
        assert(lastBatch(root).contains(1L), s"$door: the empty batch must advance the mark")
        assert(Sinks.currentVersion(root) == v, s"$door: the empty batch published a version")
        assert(Sinks.listVersions(root) == Seq(0L, 1L), door)
        assert(stageDebris(root).isEmpty, s"$door: the dropped stage must be deleted")
        landFile(src, Seq((3L, "b3")))
        q.processAllAvailable()
        assert(Sinks.currentVersion(root).contains(2L) && lastBatch(root).contains(2L), door)
      } finally q.stop()
      assert(state(root) == Map(1L -> "base1", 2L -> "b2", 3L -> "b3"), door)
    }
    // the V1 sink door
    val root = tmp("empty_fmt") + "/t"
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .format("graft").option("checkpointLocation", tmp("empty_fmtcp")).start(root)
    try {
      mem.addData((1L, "a"))
      q.processAllAvailable()
      val v = Sinks.currentVersion(root)
      assert(v.isDefined && lastBatch(root).contains(0L))
      mem.addData()
      q.processAllAvailable()
      assert(lastBatch(root).contains(1L), "format door: the empty batch must advance the mark")
      assert(Sinks.currentVersion(root) == v, "format door: the empty batch published a version")
      assert(stageDebris(root).isEmpty)
    } finally q.stop()
    assert(state(root) == Map(1L -> "a"))
  }

  test("an empty first micro-batch on a fresh root still creates the table") {
    import spark.implicits._
    Seq("streamTo", "upsertStreamTo").foreach { door =>
      val root = tmp("empty_fresh") + "/t"
      val src = tmp("empty_freshsrc")
      landFile(src, Nil)
      val q = fileDoor(door, src, root, tmp("empty_freshcp"))
      try q.processAllAvailable() finally q.stop()
      assert(Sinks.currentVersion(root).contains(0L), door)
      val got: DataFrame = Sinks.readCurrent(spark, root)
      assert(got.schema.fieldNames.toSeq == Seq("k", "v") && got.count() == 0, door)
      assert(lastBatch(root).contains(0L), door)
    }
    val root = tmp("empty_freshfmt") + "/t"
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .format("graft").option("checkpointLocation", tmp("empty_freshfmtcp")).start(root)
    try {
      mem.addData()
      q.processAllAvailable()
    } finally q.stop()
    assert(Sinks.currentVersion(root).isDefined, "format door: the table must exist")
    assert(Sinks.readCurrent(spark, root).schema.fieldNames.toSeq == Seq("k", "v"))
    assert(lastBatch(root).contains(0L))
  }
}
