package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types._

import graft.api.Stream
import graft.ops.{EqDel, Sinks}

/** `cdc_stream`: an open loop, then a drain. A generator thread lands the
  * seeded change files of `gen.py` on a fixed schedule into a landing
  * directory; a spout -> projection bolt -> `EqDel.upsertStreamTo` topology
  * applies them to a versioned table. After the open loop a pre-made
  * backlog lands at once and is drained with a fixed `maxFilesPerTrigger`.
  */
final class CdcStream(spark: SparkSession, o: Opts, tracer: Option[Tracer], res: Result) {
  // the traffic `gen.py` made the change files for (see its constants):
  // the open loop lands `OpenFiles` files at `FilesPerSec`, and every file
  // after the warm-up and open-loop ones is the backlog
  private val FilesPerSec = o.args("cdc-files-per-sec").toDouble
  private val MaxFilesPerTrigger = o.args("cdc-max-files-per-trigger").toInt
  private val WarmFiles = o.args("cdc-warm-files").toInt
  private val OpenFiles = o.args("cdc-open-files").toInt
  private val eventsPerFile = o.args("cdc-events-per-file").toInt

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("amount", DoubleType), StructField("op", StringType),
    StructField("seq", LongType)))
  private val src = o.inputs.resolve("cdc/src")
  private val files = Files.list(src).iterator().asScala.map(_.getFileName.toString)
    .toSeq.sorted

  /** Batch bookkeeping from progress events: the end time of each batch
    * and the files each batch read, from the source's own offset log. A
    * batch's rows are the events in those files: `numInputRows` counts
    * every scan of the batch's input, so it overstates what was committed.
    */
  final class Progress(ckpt: Path) extends StreamingQueryListener {
    val committed = new ConcurrentHashMap[String, java.lang.Double]()
    val batches = mutable.ArrayBuffer[Map[String, Double]]()
    @volatile var lastOffset = -1L
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows <= 0) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0.0)
      val off = "\"logOffset\"\\s*:\\s*(\\d+)".r
        .findFirstMatchIn(p.sources.head.endOffset).map(_.group(1).toLong).getOrElse(-1L)
      val files = ((lastOffset + 1) to off).map { n =>
        val log = ckpt.resolve(s"sources/0/$n")
        if (!Files.exists(log)) Seq.empty[String]
        else Files.readAllLines(log).asScala.drop(1).flatMap { l =>
          "\"path\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1).split('/').last)
        }
      }.flatten
      files.foreach(committed.put(_, end))
      lastOffset = math.max(lastOffset, off)
      synchronized {
        batches += (d.toMap + ("rows" -> (files.size * eventsPerFile).toDouble) + ("end" -> end))
      }
    }
  }

  private def land(name: String, landing: Path, mtime: Long): Unit = {
    val tmp = landing.resolve(s".$name.tmp")
    Files.copy(src.resolve(name), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtime))
    Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def awaitCommitted(p: Progress, names: Seq[String], maxMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline && !names.forall(p.committed.containsKey))
      Thread.sleep(5)
    names.forall(p.committed.containsKey)
  }

  /** Base table, topology and a warm batch in directory `r<i>`. */
  private def setup(i: Int): (Path, Path, StreamingQuery, Progress) = {
    val dir = o.work.resolve(s"cdc/r$i")
    val cat = s"pbc$i"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir.toString)
    spark.read.parquet(o.inputs.resolve("cdc/base.parquet").toString)
      .createOrReplaceTempView("pb_cdc_base")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING, amount DOUBLE) USING parquet")
    spark.sql(s"INSERT INTO $cat.t SELECT k, v, amount FROM pb_cdc_base")
    val landing = Files.createDirectories(dir.resolve("landing"))
    val ckpt = dir.resolve("ckpt")
    val progress = new Progress(ckpt)
    spark.streams.addListener(progress)
    // the spout is `TopologyBuilder.streamSpout`'s file-stream source plus
    // the fixed per-trigger file cap, which `streamSpout` takes no option for
    val spout = Stream(spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString).parquet(landing.toString))
    val stream = spout.projectBolt(col("k"), col("v"), round(col("amount"), 2).as("amount"),
      col("op"), col("seq"))
    val q = EqDel.upsertStreamTo(stream.df, dir.resolve("t").toString, ckpt.toString,
      keys = Seq("k"), opCol = Some("op"), dedupeBy = Seq("seq"))
    val warm = files.take(WarmFiles)
    warm.zipWithIndex.foreach { case (f, j) => land(f, landing, System.currentTimeMillis() + j) }
    if (!awaitCommitted(progress, warm, 60000L)) {
      throw new IllegalStateException("the warm-up batch did not commit")
    }
    (dir, landing, q, progress)
  }

  def run(): Unit = {
    val reps = (1 to o.reps).map { i =>
      val t0 = System.nanoTime()
      val r = setup(i)
      val s = Util.secs(t0)
      if (i < o.reps) { r._3.stop(); spark.streams.removeListener(r._4) }
      (s, r)
    }
    res("setup_reps_s") = reps.map(_._1)
    Util.log(s"set-up repetitions (s): ${reps.map(_._1).mkString(", ")}")
    val (dir, landing, query, progress) = reps.last._2
    val root = dir.resolve("t")
    val calibBefore = Probe.calibrate(spark, o.inputs.resolve("cdc/base.parquet").toString)
    val inodes0 = Probe.inodes(Seq(root))
    val batches0 = progress.batches.size

    val open = files.slice(WarmFiles, WarmFiles + OpenFiles)
    val backlog = files.drop(WarmFiles + OpenFiles)
    require(backlog.size >= 2 * MaxFilesPerTrigger, s"too few change files for a backlog (${files.size})")
    val scheduled = mutable.Map[String, Double]()
    val late = mutable.ArrayBuffer[Double]()
    val gc0 = Probe.gcMs()
    val t0 = System.currentTimeMillis()
    val interval = 1000.0 / FilesPerSec
    // the generator: one file per tick, timed from when it was due
    val gen = new Thread(() => open.zipWithIndex.foreach { case (f, j) =>
      val due = t0 + j * interval
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      // traced and untraced blocks of two seconds alternate
      tracer.foreach(t => if ((j * interval / 2000).toInt % 2 == 1) t.attach() else t.detach())
      val now = System.currentTimeMillis()
      land(f, landing, now)
      scheduled.synchronized { scheduled(f) = due; late += now - due }
    }, "perfbench-cdc-generator")
    gen.start()
    gen.join()
    val backlogRowsEnd = open.count(f => !progress.committed.containsKey(f)) * eventsPerFile
    var ok = awaitCommitted(progress, open, 60000L)
    // drain: the whole backlog lands at once
    val tb = System.currentTimeMillis()
    backlog.zipWithIndex.foreach { case (f, j) => land(f, landing, tb + j) }
    ok = awaitCommitted(progress, backlog, 60000L) && ok
    val window = (System.currentTimeMillis() - t0) / 1000.0
    Util.log("window closed")
    tracer.foreach(_.detach())
    val gcMs = Probe.gcMs() - gc0
    query.stop()
    spark.streams.removeListener(progress)
    if (!ok) res.errors += "not every landed change file was committed in time"
    val calibAfter = Probe.calibrate(spark, o.inputs.resolve("cdc/base.parquet").toString)

    val lat = open.filter(progress.committed.containsKey).map(f =>
      progress.committed.get(f).doubleValue - scheduled(f))
    val dump = o.work.resolve("dumps/cdc_table").toString
    Probe.dump(Sinks.readCurrent(spark, root.toString), dump)
    val liveRows = Sinks.readCurrent(spark, root.toString).count()
    res("window_s") = window
    // one latency per landed file: the events of a file share its send time
    res("samples_ms") = lat
    // sink commits per second under the offered load: the micro-batches
    // that committed open-loop files, between the first one's end and the
    // last one's
    val openEnds = open.filter(progress.committed.containsKey)
      .map(f => progress.committed.get(f).doubleValue).distinct.sorted
    res("open_commits_per_s") =
      if (openEnds.size < 2) 0.0 else (openEnds.size - 1) * 1000.0 / (openEnds.last - openEnds.head)
    if (openEnds.size < 2) res.errors += s"the open loop committed in ${openEnds.size} micro-batches"
    // drain capacity: the median over the drain's batches after the first
    // of the rows a batch committed per second since the previous batch
    // ended. The first batch is left out, so the moment its trigger
    // happens to list the landed backlog does not count, and the median
    // keeps one stalled batch from setting the figure.
    val drain = progress.synchronized(progress.batches.filter(_("end") > tb).sortBy(_("end")).toSeq)
    if (drain.size < 2) res.errors += s"the backlog drained in ${drain.size} micro-batches"
    res("drain_rows_per_s") = Util.median(drain.sliding(2).collect {
      case Seq(a, b) => b("rows") * 1000.0 / (b("end") - a("end"))
    }.toSeq)
    res("landed_files") = files.take(WarmFiles) ++ open ++ backlog
    res("final_dumps") = Map("cdc_table" -> dump)
    val attempted = (files.take(WarmFiles) ++ open ++ backlog).size * eventsPerFile
    val failed = (open ++ backlog).count(f => !progress.committed.containsKey(f)) * eventsPerFile
    res("attempted") = attempted
    res("failed") = failed
    res("wrong") = 0
    res("heap_retained_mb") = Probe.heapRetainedMb()
    res("disk_bytes") = Probe.inodes(Seq(root)).values.map(_._1).sum
    res("disk_rows") = liveRows
    Layers.zero(res)
    val L = res.layers
    L("driver.gc_ms") = gcMs.toDouble
    L("host.calib_ms") = calibBefore
    L("host.calib_after_ms") = calibAfter
    L("gen.late_ms") = Util.pct(late.toSeq, 0.9)
    L("streaming.backlog_rows_end") = backlogRowsEnd.toDouble
    L("ops.live_files_end") = Probe.dataFiles(Paths.get(Sinks.resolve(root.toString))).toDouble
    L("error_rate") = failed.toDouble / attempted
    val bs = progress.synchronized(progress.batches.drop(batches0).toSeq)
    def bm(f: Map[String, Double] => Double) = Util.mean(bs.map(f))
    def d(k: String)(b: Map[String, Double]) = b.getOrElse(k, 0.0)
    L("streaming.trigger_ms") = bm(d("triggerExecution"))
    L("streaming.add_batch_ms") = bm(d("addBatch"))
    L("streaming.planning_ms") = bm(d("queryPlanning"))
    L("streaming.offsets_ms") = bm(b => d("latestOffset")(b) + d("getBatch")(b))
    L("streaming.wal_ms") = bm(b => d("walCommit")(b) + d("commitOffsets")(b))
    L("streaming.rows_per_batch") = bm(d("rows"))
    val added = Probe.inodes(Seq(root)).removedAll(inodes0.keys)
    if (bs.nonEmpty) {
      L("ops.bytes_written_per_commit") = added.values.map(_._1).sum.toDouble / bs.size
      L("ops.files_written_per_commit") = added.values.count(_._2).toDouble / bs.size
    }
    tracer.foreach { t =>
      t.listener.drain()
      val jobs = t.listener.jobs.values.asScala.toSeq.filter(_.phase.startsWith("streaming.batch/"))
      val perBatch = jobs.groupBy(_.phase)
      if (perBatch.nonEmpty) {
        L("ops.commit_ms") =
          Util.mean(perBatch.values.map(_.filter(_.graftLabelled).map(_.ms.toDouble).sum))
        L("ops.commit_jobs") = Util.mean(perBatch.values.map(_.count(_.graftLabelled).toDouble))
      }
      Layers.unlabelled(t, res)
      val tracedFiles = open.zipWithIndex.filter { case (_, j) => (j * interval / 2000).toInt % 2 == 1 }
        .map(_._1).filter(progress.committed.containsKey)
      val on = tracedFiles.map(f => progress.committed.get(f).doubleValue - scheduled(f))
      val off = lat.diff(on)
      L("trace.overhead_ratio") = if (Util.median(off) > 0) Util.median(on) / Util.median(off) else 0.0
    }
  }
}
