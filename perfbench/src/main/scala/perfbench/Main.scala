package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Options, passed by `run.py`; `args` holds every one by name. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, inputs: Path, reps: Int, out: Path, cores: Int, maxOps: Int,
    fault: String, warehouses: String, args: Map[String, String]) {
  def fixtures: Path = inputs.resolve("fixtures")
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("inputs")).toAbsolutePath,
      m("reps").toInt, Paths.get(m("out")).toAbsolutePath,
      m("cores").toInt, m("max-ops").toInt, m("fault"), m("warehouses"), m)
  }
}

/** What one workload hands back; `run.py` turns it into the metrics. */
final class Result {
  val fields = mutable.LinkedHashMap[String, Any]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val errors = mutable.ArrayBuffer[String]()
  def update(k: String, v: Any): Unit = fields(k) = v
}

/** Benchmark harness entry: builds the session, runs one workload and
  * writes its raw result as JSON for `run.py`. It drives the program only
  * through its public doors (`SparkEntry.queries`, `spark.sql`,
  * `TopologyBuilder`, `EqDel.upsertStreamTo`) and observes it through
  * Spark's listener, plan-metric and file-system channels.
  */
object Main {
  def session(o: Opts): SparkSession = {
    val c = o.cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$c]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.io.FastLocalFileSystem")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop-tmp").toString)
      // one source-log file per micro-batch, so a batch's files can be read back
      .config("spark.sql.streaming.fileSource.log.compactInterval", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val res = new Result
    res("session_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    try {
      o.workload match {
        case "lake_read" => new QueryLoop(spark, o, tracer, res, QueryLoop.LakeRead, true).run()
        case "fixture_batch" =>
          new QueryLoop(spark, o, tracer, res, QueryLoop.FixtureBatch, false).run()
        case "lake_write" => new LakeWrite(spark, o, tracer, res).run()
        case "cdc_stream" => new CdcStream(spark, o, tracer, res).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tracer.foreach(t => TraceOut.write(t, o, res))
    } finally spark.stop()
    res("errors") = res.errors.toSeq
    res("per_layer") = res.layers.toMap
    Files.writeString(o.out, Json(res.fields.toMap))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => quote(x.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Shared helpers of the workloads. */
object Util {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Fixture files hardlinked into a fresh directory: the program keys its
    * persisted warehouses by fixture path, so each set-up repetition gets
    * its own, built from scratch.
    */
  def linkFixtures(from: Path, to: Path): String = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach { f =>
      Files.createLink(to.resolve(f.getFileName), f)
    }
    to.toString
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs] $msg")
}
