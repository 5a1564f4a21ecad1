package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Row count plus an order-insensitive 64-bit hash of the rows. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = s"$rows:${java.lang.Long.toHexString(hash)}"
}

/** Outside-in probes: materialization, plan metrics, disk and JVM state. */
object Probe {

  /** Consumes every row of `qe` on the executors and fingerprints them.
    * Each row is projected to its unsafe form and hashed; the per-row
    * hashes are summed, so the result does not depend on row order.
    */
  def consume(qe: QueryExecution): Fingerprint = {
    val schema = qe.analyzed.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench consume")) {
      val parts = qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        while (it.hasNext) {
          val u = proj(it.next())
          val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42)
          val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 0x5bd1e995)
          h += (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
          n += 1
        }
        Iterator((n, h))
      }.collect()
      Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
    }
  }

  /** Writes a result as parquet files for the DuckDB oracle compare, in
    * the plan's own partitioning. Timestamps leave as NTZ so DuckDB types
    * them like the oracle's TIMESTAMP.
    */
  def dump(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = df.schema.fields.map { f =>
      if (f.dataType == TimestampType) col(s"`${f.name}`").cast(TimestampNTZType).as(f.name)
      else col(s"`${f.name}`")
    }
    df.select(cols.toIndexedSeq: _*).write.mode("overwrite").parquet(path)
  }

  /** Leaf nodes of an executed plan, through AQE stages and subqueries. */
  def leaves(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ =>
        if (p.children.isEmpty) out += p
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  private val VersionDir = """^(.*/v\d+)/.*$""".r

  /** Files the scans of an executed plan read (their SQL metrics) and the
    * live data files of the tables each scan covered, summed over scans.
    */
  def scanFiles(plan: SparkPlan): (Long, Long) =
    leaves(plan).map {
      case f: FileSourceScanExec =>
        (f.metrics.get("numFiles").map(_.value).getOrElse(0L), liveFiles(f.relation.location.inputFiles))
      case b: BatchScanExec =>
        val read = b.metrics.collect { case (k, v) if k.toLowerCase.contains("files") => v.value }
        val files = b.scan match {
          case fs: FileScan => fs.fileIndex.inputFiles
          case _ => Array.empty[String]
        }
        (read.headOption.getOrElse(0L), liveFiles(files))
      case _ => (0L, 0L)
    }.foldLeft((0L, 0L)) { case ((r, l), (r1, l1)) => (r + r1, l + l1) }

  /** A versioned table counts the data files of its scanned version; a
    * raw parquet table counts the files it consists of.
    */
  private def liveFiles(paths: Array[String]): Long = {
    val (versioned, raw) = paths.toSeq.partition(VersionDir.matches)
    val versions = versioned.collect { case VersionDir(v) => v.stripPrefix("file:") }.distinct
    versions.map(v => dataFiles(Paths.get(v))).sum + raw.size
  }

  /** Parquet files of one table version, without the `_`-prefixed sidecar
    * and metadata directories.
    */
  def dataFiles(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else Files.walk(dir).iterator().asScala.count { p =>
      val rel = dir.relativize(p).toString
      p.toString.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_"))
    }.toLong

  /** Every regular file under `roots` by inode, so hardlinked copies that
    * versions share are counted once: inode key -> (size, is parquet).
    */
  def inodes(roots: Seq[Path]): Map[AnyRef, (Long, Boolean)] = {
    val m = mutable.Map[AnyRef, (Long, Boolean)]()
    roots.filter(Files.isDirectory(_)).foreach { r =>
      Files.walk(r).iterator().asScala.foreach { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        if (a.isRegularFile) m(Option(a.fileKey()).getOrElse(p.toString)) =
          (a.size(), p.toString.endsWith(".parquet"))
      }
    }
    m.toMap
  }

  /** A listing of everything under `roots` (path, size, mtime), to prove
    * a read-only workload left its tables untouched.
    */
  def listing(roots: Seq[Path]): Seq[String] =
    roots.filter(Files.isDirectory(_)).flatMap { r =>
      Files.walk(r).iterator().asScala.map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        s"${r.relativize(p)}|${a.size()}|${a.lastModifiedTime().toMillis}"
      }.toSeq
    }.sorted

  /** Driver heap in use after full collections, megabytes. */
  def heapRetainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Fixed-work drift probe: a CPU-bound Spark job plus a small parquet
    * scan, min of three. It is reported beside the metrics and never used
    * to normalize them.
    */
  def calibrate(spark: SparkSession, parquet: String): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 3000000L, 1, 4).selectExpr("sum(hash(id, id * 7))").collect()
      spark.read.parquet(parquet).selectExpr("sum(hash(*))").collect()
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 3).map(_ => once()).min
  }
}
