package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: an op, a phase inside it, or a Spark job. Times are
  * epoch milliseconds as doubles (phases are measured with nanoTime and
  * mapped onto the wall clock, jobs come from the listener bus).
  */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
}

/** Per-job accounting gathered from `SparkListener` events. */
final class JobRec(val id: Int, val phase: String, val desc: String,
    val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  def ms: Long = if (end < 0) 0L else end - start
  def graftLabelled: Boolean = desc != null && desc.startsWith("graft:")
}

/** Observes the program only through Spark's public listener channel.
  * The harness tags the driver thread with a local property naming the
  * current op phase; every job submitted from that thread carries it, so
  * a job hangs under the phase during which it started. Jobs from other
  * threads (the streaming micro-batch thread) carry the streaming batch
  * id instead.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  @volatile var lastEvent: Long = System.currentTimeMillis()
  /** Whether jobs that start now are recorded. Jobs already recorded are
    * followed to their end either way, so none is left without one.
    */
  @volatile var recording = true

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (!recording) return
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val phase = prop(JobListener.PhaseKey)
      .orElse(prop("streaming.sql.batchId").map("streaming.batch/" + _))
      .getOrElse("other")
    val rec = new JobRec(e.jobId, phase, prop("spark.job.description").orNull,
      e.time)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    jobs.put(e.jobId, rec)
    lastEvent = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    lastEvent = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.currentTimeMillis()
    val m = e.taskMetrics
    if (m == null) return
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.synchronized {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuMs += m.executorCpuTime / 1e6
        r.gcMs += m.jvmGCTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.diskBytesSpilled
        r.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so the accounting is complete before it is read.
    */
  def drain(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (jobs.values.asScala.exists(_.end < 0) ||
        System.currentTimeMillis() - lastEvent < 150)) Thread.sleep(20)
  }

  def byPhase: Map[String, Seq[JobRec]] =
    jobs.values.asScala.toSeq.groupBy(_.phase)
}

object JobListener {
  val PhaseKey = "perfbench.phase"
}

/** The span recorder of a traced run: spans stay in memory and are
  * written out once at the end.
  */
final class Tracer(val sc: SparkContext) {
  val listener = new JobListener
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private val wallAtNano = System.currentTimeMillis() - System.nanoTime() / 1e6
  private var attached = false

  def wall(nanos: Long): Double = wallAtNano + nanos / 1e6
  def newId(): Long = synchronized { nextId += 1; nextId }

  /** Starts recording the jobs that start from now on. */
  def attach(): Unit = synchronized {
    if (!attached) { sc.addSparkListener(listener); attached = true }
    listener.recording = true
  }

  /** Stops recording new jobs; recorded ones are still followed to their end. */
  def detach(): Unit = listener.recording = false

  /** Runs `body` as phase `name` of op `opId`, tagging its jobs. */
  def phase[T](opId: Long, name: String)(body: => T): (T, Span) = {
    sc.setLocalProperty(JobListener.PhaseKey, s"$opId/$name")
    val t0 = System.nanoTime()
    try {
      val r = body
      val s = Span(newId(), opId, name, wall(t0), wall(System.nanoTime()))
      synchronized(spans += s)
      (r, s)
    } finally sc.setLocalProperty(JobListener.PhaseKey, null)
  }

  def record(s: Span): Unit = synchronized(spans += s)

  /** Spans plus one span per job, parented under the phase it started in. */
  def allSpans: Seq[Span] = {
    val phaseIds = spans.map(s => s"${s.parent}/${s.name}" -> s.id).toMap
    val jobSpans = listener.jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Span(newId(), phaseIds.getOrElse(j.phase, 0L), "job", j.start.toDouble,
        math.max(j.start, j.end).toDouble,
        Map("job_id" -> j.id, "phase" -> j.phase,
          "description" -> Option(j.desc).getOrElse(""), "tasks" -> j.tasks,
          "task_run_ms" -> j.runMs))
    }
    spans.toSeq ++ jobSpans
  }

  /** Self time of each span: its duration minus the part of its interval
    * covered by its child spans.
    */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }
}
