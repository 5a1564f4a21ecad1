package perfbench

import scala.jdk.CollectionConverters._

/** One timed op as the closed loops record it. `phases` holds the phase
  * times of a traced op; `commit` names the statement kind of an op that
  * commits to a table.
  */
final case class OpRec(id: Long, name: String, ms: Double, traced: Boolean,
    phases: Map[String, Double] = Map.empty, filesRead: Long = 0L,
    liveFiles: Long = 0L, commit: Option[String] = None,
    bytesWritten: Long = 0L, filesWritten: Long = 0L, maintenance: Boolean = false)

/** Per-layer metrics from a traced run. Every metric is a mean per op (or
  * per commit where it says so), so runs of different length compare.
  */
object Layers {
  val Phases = Seq("queries.build", "plans.optimize", "plans.physical", "exec.run")
  val CommitKinds = Seq("insert", "delete", "update", "merge")

  /** Layer names every workload reports, zero where a layer is idle. */
  val Names: Seq[String] = Seq(
    "queries.build_ms", "queries.build_jobs", "plans.optimize_ms", "plans.optimize_jobs",
    "plans.physical_ms", "exec.run_ms", "exec.jobs", "exec.tasks", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.slot_busy_share", "exec.shuffle_bytes", "exec.spill_bytes",
    "exec.input_rows", "scan.files_read", "scan.files_read_ratio", "ops.commit_ms",
    "ops.commit_jobs", "ops.maintenance_ms", "ops.bytes_written_per_commit",
    "ops.files_written_per_commit", "ops.live_files_end", "ops.unlabelled_job_share", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.planning_ms", "streaming.offsets_ms",
    "streaming.wal_ms", "streaming.rows_per_batch", "streaming.backlog_rows_end",
    "gen.late_ms", "driver.gc_ms", "host.calib_ms", "host.calib_after_ms",
    "trace.overhead_ratio", "error_rate")

  def zero(res: Result): Unit = Names.foreach(n => res.layers.getOrElseUpdate(n, 0.0))

  /** Op-phase and job metrics of the traced ops of a closed loop. */
  def fromOps(t: Tracer, ops: Seq[OpRec], cores: Int, res: Result): Unit = {
    t.listener.drain()
    val traced = ops.filter(_.traced)
    val byPhase = t.listener.byPhase
    def jobsOf(op: OpRec, ph: String) = byPhase.getOrElse(s"${op.id}/$ph", Nil)
    def meanOf(f: OpRec => Double) = Util.mean(traced.map(f))
    val L = res.layers
    L("queries.build_ms") = meanOf(_.phases.getOrElse("queries.build", 0.0))
    L("queries.build_jobs") = meanOf(jobsOf(_, "queries.build").size.toDouble)
    L("plans.optimize_ms") = meanOf(_.phases.getOrElse("plans.optimize", 0.0))
    L("plans.optimize_jobs") = meanOf(jobsOf(_, "plans.optimize").size.toDouble)
    L("plans.physical_ms") = meanOf(_.phases.getOrElse("plans.physical", 0.0))
    L("exec.run_ms") = meanOf(_.phases.getOrElse("exec.run", 0.0))
    def execSum(f: JobRec => Double) = meanOf(op => jobsOf(op, "exec.run").map(f).sum)
    L("exec.jobs") = meanOf(jobsOf(_, "exec.run").size.toDouble)
    L("exec.tasks") = execSum(_.tasks.toDouble)
    L("exec.task_cpu_ms") = execSum(_.cpuMs)
    L("exec.gc_ms") = execSum(_.gcMs.toDouble)
    L("exec.shuffle_bytes") = execSum(_.shuffleBytes.toDouble)
    L("exec.spill_bytes") = execSum(_.spillBytes.toDouble)
    L("exec.input_rows") = execSum(_.inputRows.toDouble)
    val slots = traced.map(_.phases.getOrElse("exec.run", 0.0)).sum * cores
    L("exec.slot_busy_share") =
      if (slots > 0) traced.map(op => jobsOf(op, "exec.run").map(_.runMs).sum).sum / slots
      else 0.0
    L("scan.files_read") = meanOf(_.filesRead.toDouble)
    val live = traced.map(_.liveFiles).sum
    L("scan.files_read_ratio") = if (live > 0) traced.map(_.filesRead).sum.toDouble / live else 0.0
    // commit accounting: job time under the program's `graft:` labels
    val commits = traced.filter(_.commit.isDefined)
    def labelled(op: OpRec) = Phases.flatMap(jobsOf(op, _)).filter(_.graftLabelled)
    if (commits.nonEmpty) {
      L("ops.commit_ms") = Util.mean(commits.map(labelled(_).map(_.ms.toDouble).sum))
      L("ops.commit_jobs") = Util.mean(commits.map(labelled(_).size.toDouble))
      L("ops.bytes_written_per_commit") = Util.mean(commits.map(_.bytesWritten.toDouble))
      L("ops.files_written_per_commit") = Util.mean(commits.map(_.filesWritten.toDouble))
    }
    L("ops.maintenance_ms") = Util.mean(traced.filter(_.maintenance).map(_.ms))
    unlabelled(t, res)
  }

  def unlabelled(t: Tracer, res: Result): Unit = {
    val all = t.listener.jobs.values.asScala.toSeq
    val total = all.map(_.ms).sum.toDouble
    res.layers("ops.unlabelled_job_share") =
      if (total > 0) all.filterNot(_.graftLabelled).map(_.ms).sum / total else 0.0
  }

  /** trace.overhead_ratio: traced over untraced median latency of the
    * interleaved ops of one traced run.
    */
  def overhead(ops: Seq[OpRec], res: Result): Unit = {
    val (on, off) = ops.partition(_.traced)
    val u = Util.median(off.map(_.ms))
    res.layers("trace.overhead_ratio") = if (u > 0) Util.median(on.map(_.ms)) / u else 0.0
  }
}
