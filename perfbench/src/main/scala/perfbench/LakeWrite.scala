package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `lake_write`, closed loop with one client thread: the seeded SQL
  * statement stream of `gen.py` against a merge-on-read table (`ord_mor`,
  * stats declared) and a copy-on-write one (`ord_cow`), with compaction
  * and version expiry every few statements.
  */
final class LakeWrite(spark: SparkSession, o: Opts, tracer: Option[Tracer], res: Result) {
  private val Warm = 6
  private val Tables = Seq("ord_mor", "ord_cow")

  private val ops: Seq[(String, String)] =
    Files.readAllLines(o.inputs.resolve("write_sql.tsv")).asScala.toSeq.map { l =>
      val i = l.indexOf('\t')
      (l.substring(0, i), l.substring(i + 1))
    }

  private def setup(i: Int): (String, Path) = {
    val cat = s"pbw$i"
    val root = o.work.resolve(s"lake/r$i")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    spark.read.parquet(o.fixtures.resolve("orders.parquet").toString)
      .createOrReplaceTempView("pb_orders")
    val cols = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
    spark.sql(s"CREATE TABLE $cat.ord_mor ($cols) USING parquet TBLPROPERTIES " +
      "('graft.dml.mode' = 'mor', 'graft.stats.columns' = 'o_orderkey')")
    spark.sql(s"CREATE TABLE $cat.ord_cow ($cols) USING parquet")
    Tables.foreach { t =>
      spark.sql(s"INSERT INTO $cat.$t SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "o_totalprice FROM pb_orders")
    }
    ops.take(Warm).foreach { case (_, s) => spark.sql(s.replace("{cat}", cat)).collect() }
    (cat, root)
  }

  def run(): Unit = {
    val reps = (1 to o.reps).map { i =>
      val t0 = System.nanoTime()
      val r = setup(i)
      (Util.secs(t0), r)
    }
    res("setup_reps_s") = reps.map(_._1)
    Util.log(s"set-up repetitions (s): ${reps.map(_._1).mkString(", ")}")
    val (cat, root) = reps.last._2
    val roots = Tables.map(root.resolve)
    val calibBefore = Probe.calibrate(spark, o.fixtures.resolve("orders.parquet").toString)

    val recs = mutable.ArrayBuffer[OpRec]()
    var attempted, failed = 0
    var next = Warm
    val gc0 = Probe.gcMs()
    val start = System.nanoTime()
    val deadline = start + (o.seconds * 1e9).toLong
    def more = System.nanoTime() < deadline && next < ops.size &&
      (o.maxOps <= 0 || attempted < o.maxOps)
    while (more) {
      val (kind, text) = ops(next)
      val stmt = text.replace("{cat}", cat)
      // traced and untraced blocks of statements alternate
      val traced = tracer.isDefined && (next / 8) % 2 == 1
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      attempted += 1
      next += 1
      val isCommit = Layers.CommitKinds.contains(kind)
      try {
        tracer.filter(_ => traced) match {
          case None =>
            val t0 = System.nanoTime()
            spark.sql(stmt).collect()
            recs += OpRec(0L, kind, (System.nanoTime() - t0) / 1e6, traced = false)
          case Some(t) =>
            val before = if (isCommit) Probe.inodes(roots) else Map.empty[AnyRef, (Long, Boolean)]
            val id = t.newId()
            val t0 = System.nanoTime()
            val (_, b) = t.phase(id, "queries.build")(spark.sql(stmt).collect())
            val t1 = System.nanoTime()
            t.record(Span(id, 0L, "op", t.wall(t0), t.wall(t1), Map("statement" -> kind)))
            val added = if (isCommit) Probe.inodes(roots).removedAll(before.keys) else Map.empty
            recs += OpRec(id, kind, (t1 - t0) / 1e6, traced = true, Map(b.name -> b.ms),
              commit = if (isCommit) Some(kind) else None,
              bytesWritten = added.values.map(_._1).sum,
              filesWritten = added.values.count(_._2).toLong,
              maintenance = !isCommit)
        }
      } catch {
        case e: Exception =>
          failed += 1
          res.errors += s"statement ${next - 1} ($kind): ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    val window = Util.secs(start)
    val gcMs = Probe.gcMs() - gc0
    tracer.foreach(_.detach())
    val calibAfter = Probe.calibrate(spark, o.fixtures.resolve("orders.parquet").toString)

    // final state for the replay check, and the footprint
    val dumps = Tables.map { t =>
      val p = o.work.resolve(s"dumps/$t").toString
      Probe.dump(spark.table(s"$cat.$t"), p)
      t -> p
    }.toMap
    val liveRows = Tables.map(t => spark.table(s"$cat.$t").count()).sum
    res("window_s") = window
    res("samples_ms") = recs.map(_.ms)
    res("ops_done") = recs.size
    res("statements_executed") = next
    res("final_dumps") = dumps
    res("attempted") = attempted
    res("failed") = failed
    res("wrong") = 0
    res("heap_retained_mb") = Probe.heapRetainedMb()
    res("disk_bytes") = Probe.inodes(roots).values.map(_._1).sum
    res("disk_rows") = liveRows
    Layers.zero(res)
    res.layers("driver.gc_ms") = gcMs.toDouble
    res.layers("host.calib_ms") = calibBefore
    res.layers("host.calib_after_ms") = calibAfter
    res.layers("ops.live_files_end") = roots.map(r =>
      Probe.dataFiles(java.nio.file.Paths.get(graft.ops.Sinks.resolve(r.toString)))).sum.toDouble
    res.layers("error_rate") = if (attempted > 0) failed.toDouble / attempted else 0.0
    tracer.foreach { t =>
      Layers.fromOps(t, recs.toSeq, o.cores, res)
      Layers.overhead(recs.toSeq, res)
    }
  }
}
