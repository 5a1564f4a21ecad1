package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.VersionMemo
import org.scalatest.funsuite.AnyFunSuite

/** The version-dir memo: stamped keys, per-session entries, an LRU
  * bound, and computes that run outside the memo's lock.
  */
class VersionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def dirWithPart(): Path = {
    val d = Files.createTempDirectory("graft_vmemo")
    Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    d
  }

  /** A memo call that counts its computes. */
  private final class Counted(cap: Int) {
    val memo = new VersionMemo[String](cap)
    val computes = new AtomicInteger()
    def get(paths: String*): String =
      memo(spark, paths) { computes.incrementAndGet(); paths.mkString(",") }
  }

  test("LRU eviction at the cap; a hit refreshes recency") {
    val m = new Counted(2)
    val Seq(a, b, c) = Seq.fill(3)(dirWithPart().toString)
    m.get(a); m.get(b)
    assert(m.computes.get == 2)
    m.get(a) // hit: a becomes the most recent
    assert(m.computes.get == 2)
    m.get(c) // evicts b, the least recently used
    m.get(a)
    assert(m.computes.get == 3, "a was evicted although it was used last")
    m.get(b)
    assert(m.computes.get == 4, "b survived past the cap")
  }

  test("a changed artifact misses; an absent path stamps as - and caches") {
    val m = new Counted(8)
    val d = dirWithPart()
    m.get(d.toString); m.get(d.toString)
    assert(m.computes.get == 1)
    Files.write(d.resolve("part-1.parquet"), Array[Byte](4))
    m.get(d.toString)
    assert(m.computes.get == 2, "a new part file must change the stamp")
    assert(VersionMemo.stamp(d.resolve("absent").toString) == "-")
    val absent = d.resolve("absent").toString
    m.get(absent); m.get(absent)
    assert(m.computes.get == 3)
  }

  test("a stamping IOException returns the computed value uncached") {
    val m = new Counted(8)
    val d = Files.createTempDirectory("graft_vmemo_io")
    // a part file that vanishes between the listing and its stat
    Files.createSymbolicLink(d.resolve("gone.parquet"), d.resolve("missing"))
    intercept[java.io.IOException](VersionMemo.stamp(d.toString))
    assert(m.get(d.toString) == d.toString)
    assert(m.get(d.toString) == d.toString)
    assert(m.computes.get == 2)
  }

  test("two sessions never share an entry") {
    val memo = new VersionMemo[String](8)
    val d = dirWithPart().toString
    val other = spark.newSession()
    assert(memo(spark, Seq(d))("first") == "first")
    assert(memo(other, Seq(d))("second") == "second")
    assert(memo(spark, Seq(d))("third") == "first")
  }

  test("a slow compute for one key blocks neither a get nor a compute of another") {
    val memo = new VersionMemo[String](8)
    val (slow, fast) = (dirWithPart().toString, dirWithPart().toString)
    memo(spark, Seq(fast))("cached")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new Thread(() => {
      memo(spark, Seq(slow)) { entered.countDown(); release.await(); "slow" }
      ()
    })
    t.start()
    try {
      assert(entered.await(30, TimeUnit.SECONDS))
      assert(memo(spark, Seq(fast))("recomputed") == "cached")
      assert(memo(spark, Seq(fast), "other")("fresh") == "fresh")
    } finally {
      release.countDown()
      t.join(30000)
    }
    assert(memo(spark, Seq(slow))("again") == "slow")
  }
}

object VersionMemoSpec {
  import java.nio.file.{Files, Paths}
  import org.apache.spark.sql.{Row, SparkSession}

  /** Rewrites version dir `dir`'s one-part `_stats` sidecar in place
    * through `f`: a new part name, the same part count, and the old
    * mtime restored — a rewrite that a part-count + max-mtime stamp
    * cannot see.
    */
  def rewriteStatsInPlace(spark: SparkSession, dir: String)(f: Row => Row): Unit = {
    def parts(d: java.nio.file.Path) =
      graft.io.Fs.listDir(d).filter(_.getFileName.toString.endsWith(".parquet"))
    val side = Paths.get(dir, graft.ops.Stats.Sidecar)
    val old = parts(side)
    assert(old.size == 1, s"expected a one-part sidecar, found ${old.size}")
    val mtime = Files.getLastModifiedTime(old.head)
    val frame = graft.ops.Stats.sidecar(spark, dir)
    val rows = frame.collect().map(f)
    val out = Files.createTempDirectory("graft_stats_rewrite")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), frame.schema)
      .coalesce(1).write.mode("overwrite").parquet(out.toString)
    val fresh = parts(out)
    assert(fresh.size == 1 && fresh.head.getFileName != old.head.getFileName)
    Files.delete(old.head)
    val moved = Files.move(fresh.head, side.resolve(fresh.head.getFileName))
    Files.setLastModifiedTime(moved, mtime)
  }

  /** `r` with the named fields set. */
  def updated(r: Row, fields: (String, Any)*): Row =
    Row.fromSeq(fields.foldLeft(r.toSeq) { case (vs, (n, v)) =>
      vs.updated(r.fieldIndex(n), v) })
}
