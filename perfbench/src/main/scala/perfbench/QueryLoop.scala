package perfbench

import java.nio.file.{FileSystems, Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The closed-loop query workloads, one client thread: `lake_read` over the
  * program's versioned catalog tables, `fixture_batch` over the raw
  * fixture parquet. Queries run in seeded rounds (each round a seeded
  * permutation of the set) until `--seconds` have passed, closing at a
  * round boundary; every op builds the query, plans it and consumes
  * every row.
  */
final class QueryLoop(spark: SparkSession, o: Opts, tracer: Option[Tracer], res: Result,
    names: Seq[String], readOnly: Boolean) {

  private val fns = SparkEntry.queries
  private val oracles = SparkEntry.oracleSql

  /** The warehouses the program has persisted for this run's fixture
    * copies: the entries matching the glob `run.py` passes.
    */
  private def warehouses(): Set[Path] = {
    val matcher = FileSystems.getDefault.getPathMatcher("glob:" + o.warehouses)
    val parent = Paths.get(o.warehouses).getParent
    if (!Files.isDirectory(parent)) Set.empty
    else Files.list(parent).iterator().asScala.filter(matcher.matches).toSet
  }

  private def runOp(name: String, dir: String, traced: Boolean): (OpRec, Fingerprint) = {
    val fn = fns(name)
    tracer.filter(_ => traced) match {
      case None =>
        val t0 = System.nanoTime()
        val fp = Probe.consume(fn(spark, dir).queryExecution)
        (OpRec(0L, name, (System.nanoTime() - t0) / 1e6, traced = false), fp)
      case Some(t) =>
        val id = t.newId()
        val t0 = System.nanoTime()
        val (df, b) = t.phase(id, "queries.build")(fn(spark, dir))
        val qe = df.queryExecution
        val (_, op) = t.phase(id, "plans.optimize")(qe.optimizedPlan)
        val (_, ph) = t.phase(id, "plans.physical")(qe.executedPlan)
        val (fp, ex) = t.phase(id, "exec.run")(Probe.consume(qe))
        val t1 = System.nanoTime()
        t.record(Span(id, 0L, "op", t.wall(t0), t.wall(t1), Map("query" -> name)))
        val (read, live) = Probe.scanFiles(qe.executedPlan)
        (OpRec(id, name, (t1 - t0) / 1e6, traced = true,
          Seq(b, op, ph, ex).map(s => s.name -> s.ms).toMap, read, live), fp)
    }
  }

  def run(): Unit = {
    // set-up: each repetition builds everything the ops need from a fresh
    // fixture path, then runs one warm pass over the whole set
    var persisted = warehouses()
    val reps = (1 to o.reps).map { i =>
      if (i == o.reps) persisted = warehouses()
      val t0 = System.nanoTime()
      val dir = Util.linkFixtures(o.fixtures, o.work.resolve(s"fx/r$i"))
      val fps = names.map { n =>
        val q0 = System.nanoTime()
        val fp = runOp(n, dir, traced = false)._2
        if (i == 1) Util.log(f"first run of $n: ${Util.secs(q0)}%.2fs")
        n -> fp
      }.toMap
      (Util.secs(t0), dir, fps)
    }
    res("setup_reps_s") = reps.map(_._1)
    Util.log(s"set-up repetitions (s): ${reps.map(_._1).mkString(", ")}")
    val (_, dir, warm) = reps.last
    val reference = warm
    // untimed: first results for the oracle compare
    val dumps = names.filter(oracles.contains).map { n =>
      val p = o.work.resolve(s"dumps/$n").toString
      Probe.dump(fns(n)(spark, dir), p)
      n -> p
    }
    res("oracle_dumps") = dumps.toMap
    res("oracle_sql") = names.flatMap(n => oracles.get(n).map(n -> _)).toMap
    res("oracle_fixtures") = dir
    if (tracer.isDefined && names.contains("q_line_dedup")) {
      val counted = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); fns("q_line_dedup")(spark, dir).count(); (System.nanoTime() - t0) / 1e6
      }.min
      res("q_line_dedup_counted_ms") = counted
    }
    // the warehouses the last repetition built, which the window reads
    val roots = (warehouses() -- persisted).toSeq.sortBy(_.toString)
    Util.log("oracle dumps written")
    val before = if (readOnly) Probe.listing(roots) else Nil
    val calibBefore = Probe.calibrate(spark, s"$dir/orders.parquet")

    // timed window
    val rng = new Random(o.seed)
    val ops = mutable.ArrayBuffer[OpRec]()
    var rows = 0L
    var attempted, failed, wrong = 0
    val runs = mutable.Map[String, Int]().withDefaultValue(0)
    val disk = new JobListener
    spark.sparkContext.addSparkListener(disk)
    val gc0 = Probe.gcMs()
    val start = System.nanoTime()
    val deadline = start + (o.seconds * 1e9).toLong
    // whole rounds only: every run times each query the same number of
    // times, so seeds change the order and the data but not the mix
    def more = System.nanoTime() < deadline && (o.maxOps <= 0 || attempted < o.maxOps)
    while (more) {
      rng.shuffle(names).takeWhile(_ => o.maxOps <= 0 || attempted < o.maxOps).foreach { n =>
        // traced and untraced runs of each query alternate
        val traced = tracer.isDefined && runs(n) % 2 == 1
        runs(n) += 1
        tracer.foreach(t => if (traced) t.attach() else t.detach())
        attempted += 1
        try {
          val (rec, fp0) = runOp(n, dir, traced)
          // self-test: one flipped bit in the first op's fingerprint must fail the run
          val fp = if (o.fault == "fingerprint" && attempted == 1) fp0.copy(hash = fp0.hash ^ 1L)
            else fp0
          ops += rec
          rows += fp.rows
          if (fp != reference(n)) {
            wrong += 1
            res.errors += s"$n: fingerprint $fp differs from the first result ${reference(n)}"
          }
        } catch {
          case e: Exception =>
            failed += 1
            res.errors += s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
    }
    val window = Util.secs(start)
    Util.log("window closed")
    Util.log(s"$attempted ops in ${window}s; per query mean ms: " + ops.groupBy(_.name)
      .map { case (n, xs) => s"$n=${Util.mean(xs.map(_.ms)).round}" }.mkString(" "))
    val gcMs = Probe.gcMs() - gc0
    disk.drain()
    spark.sparkContext.removeSparkListener(disk)
    tracer.foreach(_.detach())
    val calibAfter = Probe.calibrate(spark, s"$dir/orders.parquet")
    if (readOnly && Probe.listing(roots) != before) {
      wrong += 1
      res.errors += "a table under the read-only warehouses changed during the run"
    }
    res("window_s") = window
    res("samples_ms") = ops.map(_.ms)
    res("ops_done") = ops.size
    res("rows_done") = rows
    res("attempted") = attempted
    res("failed") = failed
    res("wrong") = wrong
    res("heap_retained_mb") = Probe.heapRetainedMb()
    // on-disk footprint: for lake_read the program's tables over their live
    // rows; for fixture_batch, which has no tables, the shuffle and spill
    // bytes the window's queries wrote to local disk over the rows they read
    val (bytes, diskRows) =
      if (readOnly) (Probe.inodes(roots).values.map(_._1).sum, tableRows(roots))
      else {
        val jobs = disk.jobs.values.asScala
        (jobs.map(j => j.shuffleBytes + j.spillBytes).sum, jobs.map(_.inputRows).sum)
      }
    res("disk_bytes") = bytes
    res("disk_rows") = diskRows
    Layers.zero(res)
    res.layers("driver.gc_ms") = gcMs.toDouble
    res.layers("host.calib_ms") = calibBefore
    res.layers("host.calib_after_ms") = calibAfter
    res.layers("error_rate") = if (attempted > 0) (failed + wrong).toDouble / attempted else 0.0
    tracer.foreach { t =>
      Layers.fromOps(t, ops.toSeq, o.cores, res)
      Layers.overhead(ops.toSeq, res)
      res("per_query") = perQuery(t, ops.toSeq)
    }
  }

  /** Live rows of every versioned table under the warehouse roots. */
  private def tableRows(roots: Seq[Path]): Long =
    roots.flatMap(r => Files.walk(r, 3).iterator().asScala.filter { p =>
      Files.isDirectory(p) && graft.ops.Sinks.currentVersion(p.toString).isDefined
    }.toSeq).map { t =>
      try graft.ops.Sinks.readCurrent(spark, t.toString).count()
      catch { case _: Exception => 0L }
    }.sum

  /** Per-query phase and job means of the traced ops, for the trace file
    * and the sanity checks against the known per-layer findings.
    */
  private def perQuery(t: Tracer, ops: Seq[OpRec]): Map[String, Map[String, Double]] = {
    val byPhase = t.listener.byPhase
    ops.filter(_.traced).groupBy(_.name).map { case (n, xs) =>
      def jobs(ph: String) = Util.mean(xs.map(op => byPhase.getOrElse(s"${op.id}/$ph", Nil).size.toDouble))
      n -> (Layers.Phases.map(ph => s"${ph}_ms" -> Util.mean(xs.map(_.phases.getOrElse(ph, 0.0)))) ++
        Layers.Phases.map(ph => s"${ph}_jobs" -> jobs(ph)) ++
        Seq("n" -> xs.size.toDouble, "files_read" -> Util.mean(xs.map(_.filesRead.toDouble)),
          "live_files" -> Util.mean(xs.map(_.liveFiles.toDouble)))).toMap
    }
  }
}

object QueryLoop {
  /** Read-only catalog queries over versioned tables with stats, DV,
    * eq-delete, bloom and NDV sidecars.
    */
  val LakeRead: Seq[String] = Seq(
    "q_stats_skipping_sql", "q_stats_skipping_ts", "q_stats_skipping_dec",
    "q_meta_count", "q_meta_count_ts", "q_meta_count_filtered", "q_meta_count_grouped",
    "q_meta_sum", "q_meta_grouped_range", "q_mor_delete", "q_mor_update", "q_mor_merge",
    "q_bloom_skipping", "q_merge_evolution", "q_spj_join", "q_partition_evolution",
    "q_meta_tables")

  /** LLM-curation operators and the relational core over raw fixtures:
    * nine whose set-up and round time fit a run's time budget (an odd
    * count, so the median op falls inside one query's samples).
    */
  val FixtureBatch: Seq[String] = Seq(
    "q_line_dedup", "q_minhash_lsh", "q_dsir_select", "q_sql_textfns", "q_word_count",
    "q_doc_chunks", "q_cosine_topk", "q_pricing_summary", "q_join_agg")
}
