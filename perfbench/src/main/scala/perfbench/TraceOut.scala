package perfbench

import java.nio.file.Files

/** Writes a traced run's spans and their self times, and checks the
  * per-layer output against the known findings on where time goes.
  */
object TraceOut {
  private val OptimizeJobs = Seq("q_mor_delete", "q_mor_merge", "q_stats_skipping_sql",
    "q_merge_evolution", "q_meta_grouped_range")

  def write(t: Tracer, o: Opts, res: Result): Unit = {
    t.listener.drain()
    val spans = t.allSpans
    val self = t.selfTimes(spans)
    val selfByName = spans.groupBy(_.name).map { case (n, xs) =>
      n -> Map("count" -> xs.size.toDouble, "total_ms" -> xs.map(_.ms).sum,
        "self_ms" -> xs.map(s => self(s.id)).sum)
    }
    res("sanity") = sanity(o, res)
    val path = o.out.resolveSibling(s"trace-${o.workload}.json")
    val lines = Seq(Json(Map("workload" -> o.workload, "seed" -> o.seed,
      "per_layer" -> res.layers.toMap, "self_by_span" -> selfByName,
      "per_query" -> res.fields.getOrElse("per_query", Map.empty),
      "sanity" -> res.fields("sanity")))) ++
      spans.sortBy(_.start).map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self(s.id), "attrs" -> s.attrs)))
    Files.writeString(path, lines.mkString("", "\n", "\n"))
    res("trace_file") = path.toString
  }

  private def sanity(o: Opts, res: Result): Map[String, Any] = {
    val pq = res.fields.getOrElse("per_query", Map.empty)
      .asInstanceOf[Map[String, Map[String, Double]]]
    def q(n: String, k: String) = pq.get(n).flatMap(_.get(k))
    o.workload match {
      case "lake_read" =>
        val phys = pq.toSeq.map { case (n, m) => n -> m.getOrElse("plans.physical_ms", 0.0) }
          .sortBy(-_._2)
        Map(
          "optimize_jobs" -> OptimizeJobs.map(n => n -> q(n, "plans.optimize_jobs")).toMap,
          "optimize_jobs_all_positive" ->
            OptimizeJobs.forall(n => q(n, "plans.optimize_jobs").exists(_ > 0)),
          "physical_ms_rank_of_q_meta_tables" ->
            (phys.indexWhere(_._1 == "q_meta_tables") + 1),
          "physical_ms_q_meta_tables" -> q("q_meta_tables", "plans.physical_ms"),
          "physical_ms_median" -> Util.median(phys.map(_._2)),
          "commit_ms_is_zero" -> (res.layers.getOrElse("ops.commit_ms", -1.0) == 0.0))
      case "fixture_batch" =>
        val counted = res.fields.get("q_line_dedup_counted_ms")
        val run = q("q_line_dedup", "exec.run_ms")
        Map(
          "q_line_dedup_counted_ms" -> counted,
          "q_line_dedup_materialized_run_ms" -> run,
          "materialized_over_counted" -> run.flatMap(r =>
            counted.map(c => r / c.asInstanceOf[Double])),
          "optimize_jobs_is_zero" -> (res.layers.getOrElse("plans.optimize_jobs", -1.0) == 0.0))
      case _ => Map.empty
    }
  }
}
