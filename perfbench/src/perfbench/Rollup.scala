package perfbench

import scala.collection.mutable

/** Rolls one traced pass up into the per-layer metrics. A span's self time
  * is its duration minus the time covered by its child spans; a span's jobs
  * are the jobs launched while it or one of its descendants was innermost. */
object Rollup {
  /** Operator spans reported as `<name>.s` and `<name>.jobs`. */
  val OperatorSpans = Seq(
    "dedup.minhash", "dedup.canonical", "dedup.ppjoin", "dedup.containment",
    "dedup.suffix", "dedup.semantic", "sim.ivfpq_topk", "sim.lsh_topk",
    "text.quality", "pipeline.upsert", "pipeline.report")

  /** Span-name prefixes whose self time is reported as `self.<layer>_s`;
    * `self.op_s` is the self time of the top-level operation spans. */
  val Layers = Seq("sources", "pipeline", "sinks", "streaming",
    "dedup", "sim", "text", "query")

  private def children(spans: Seq[Span]) = spans.groupBy(_.parent)

  def selfSeconds(s: Span, kids: Map[Long, Seq[Span]]): Double =
    s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum

  def jobsUnder(s: Span, kids: Map[Long, Seq[Span]], rec: JobRecorder): Int =
    rec.bySpan.getOrElse(s.id, 0) +
      kids.getOrElse(s.id, Nil).map(jobsUnder(_, kids, rec)).sum

  def layers(wall: Double, cores: Int, rec: JobRecorder, plans: PlanRecorder,
             gcSeconds: Double): Map[String, Double] = rec.synchronized {
    val spans = Trace.spans.toSeq
    val kids = children(spans)
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def jobs(n: String) = named(n).map(jobsUnder(_, kids, rec)).sum.toDouble
    val m = mutable.LinkedHashMap[String, Double]()
    m("spark.jobs") = rec.jobs.toDouble
    m("spark.stages") = rec.stages.toDouble
    m("spark.tasks") = rec.tasks.toDouble
    m("spark.failed_tasks") = rec.failedTasks.toDouble
    m("spark.job_p50_s") = Main.median(rec.jobSeconds.toSeq)
    m("spark.core_util") = rec.taskRunMs / 1000.0 / (cores * wall)
    m("spark.task_skew_max") =
      if (rec.stageSkew.isEmpty) 1.0 else rec.stageSkew.max
    m("spark.shuffle_write_mb") = rec.shuffleWrite / 1048576.0
    m("spark.shuffle_read_mb") = rec.shuffleRead / 1048576.0
    m("spark.spill_mb") = rec.spill / 1048576.0
    m("spark.gc_s") = gcSeconds
    m("query.build_s") = secs("query.build")
    m("query.build_jobs") = jobs("query.build")
    m("query.exec_s") = secs("query.exec")
    m("query.exec_jobs") = jobs("query.exec")
    plans.synchronized {
      m("plan.actions") = plans.actions.toDouble
      m("plan.analysis_s") = plans.analysisMs / 1e3
      m("plan.optimization_s") = plans.optimizationMs / 1e3
      m("plan.planning_s") = plans.planningMs / 1e3
      m("sources.scan_s") = plans.scanNs / 1e9
      m("sources.files_read") = plans.filesRead.toDouble
      m("sources.read_mb") = plans.readBytes / 1048576.0
    }
    m("sinks.append_s") = secs("sinks.append")
    m("sinks.overwrite_s") = secs("sinks.overwrite")
    m("sinks.compact_s") = secs("sinks.compact")
    m("sinks.files_written") = rec.filesWritten.toDouble
    val batches = named("streaming.door").map(_.seconds)
    m("streaming.batch_p50_s") = Main.median(batches)
    m("streaming.batch_p90_s") = Main.quantile(batches, 0.9)
    m("streaming.jobs_per_batch") =
      if (batches.isEmpty) 0.0 else jobs("streaming.door") / batches.size
    OperatorSpans.foreach { n =>
      m(s"$n.s") = secs(n)
      m(s"$n.jobs") = jobs(n)
    }
    Layers.foreach { l =>
      m(s"self.${l}_s") = spans.filter(_.name.startsWith(l + "."))
        .map(selfSeconds(_, kids)).sum
    }
    m("self.op_s") = spans.filter(_.parent == 0L).map(selfSeconds(_, kids)).sum
    m("trace.unattributed_frac") =
      1.0 - spans.filter(_.parent == 0L).map(_.seconds).sum / wall
    m.toMap
  }

  /** Per span name: calls, inclusive and self seconds, jobs — the table
    * trace_diff.py compares between two traced runs. */
  def spanSummary(spans: Seq[Span], rec: JobRecorder): Map[String, Map[String, Double]] = {
    val kids = children(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map(
        "calls" -> ss.size.toDouble,
        "s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(selfSeconds(_, kids)).sum,
        "jobs" -> ss.map(s => rec.bySpan.getOrElse(s.id, 0)).sum.toDouble)
    }
  }
}
