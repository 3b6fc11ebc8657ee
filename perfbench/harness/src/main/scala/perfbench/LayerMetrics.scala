package perfbench

import java.io.File

/** Per-layer metrics of a traced timed phase. Flows (jobs, bytes,
  * seconds) are per-op means over the timed ops; state-table sizes are
  * the value after each lifecycle's last batch, averaged over
  * lifecycles; cache figures are the peak after any op.
  */
object LayerMetrics {
  val Modules = Seq("TrainingExport", "Dedup", "TextAnalysis", "Sampling")

  def apply(
      t: Tracer, ops: Seq[Map[String, Any]], state: Seq[Map[String, Double]]): Map[String, Double] =
    t.synchronized {
      val n = ops.size.toDouble
      val intervals = ops.map(o => (o("start_ms").asInstanceOf[Long], o("end_ms").asInstanceOf[Long]))
      def inOp(ms: Long) = intervals.exists { case (a, b) => ms >= a && ms <= b }
      def perOp(x: Double) = x / n
      def spanS(name: String) = t.spans.filter(s => s.name == name && s.op >= 0).map(_.seconds).sum
      def opSum(k: String) = ops.map(_.getOrElse(k, 0.0).asInstanceOf[Double]).sum

      val jobs = t.jobs.filter(j => inOp(j.startMs))
      val stages = t.stages.filter(s => inOp(s.startMs))
      val execs = t.execs.filter(e => inOp(e.startMs))

      // op wall time during which no job of the op was running
      val gapS = intervals.map { case (a, b) =>
        val iv = t.jobs.filter(j => j.startMs >= a && j.startMs <= b)
          .map(j => (j.startMs, math.min(t.jobEnd(j.id).getOrElse(b), b))).sortBy(_._1)
        var covered = 0L
        var reach = a
        iv.foreach { case (s, e) =>
          val s1 = math.max(s, reach)
          if (e > s1) { covered += e - s1; reach = e }
        }
        (b - a - covered) / 1e3
      }.sum

      val written = ops.flatMap(_.get("output")).map(p => new File(p.toString))
        .filter(_.isDirectory).flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]))
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

      val byModule = Modules.flatMap { m =>
        val js = jobs.filter(_.module == m)
        Seq(s"jobs_by_module.$m.jobs" -> perOp(js.size),
          s"jobs_by_module.$m.job_s" -> perOp(js.map(j =>
            (t.jobEnd(j.id).getOrElse(j.startMs) - j.startMs) / 1e3).sum))
      }

      // the timed phase ends on a lifecycle boundary, so a lifecycle ends
      // at the last op or before an op that ingests batch 0
      val lifecycleEnds = state.indices
        .filter(i => state(i).contains("state_files") &&
          (i + 1 == ops.size || ops(i + 1).get("batch").contains(0)))
        .map(state)
      def lifecycleMean(k: String) =
        if (lifecycleEnds.isEmpty) 0.0 else lifecycleEnds.map(_(k)).sum / lifecycleEnds.size
      val compactionsPerLifecycle =
        if (lifecycleEnds.isEmpty) 0.0
        else state.map(_.getOrElse("compactions", 0.0)).sum / lifecycleEnds.size

      Map(
        "TableDiff.build_ms" -> perOp(spanS("TableDiff.diff") * 1e3),
        "DiffSummary.s" -> perOp(spanS("DiffSummary.summary")),
        "write.s" -> perOp(spanS("write")),
        "write.bytes" -> perOp(written.map(_.length).sum.toDouble),
        "write.files" -> perOp(written.size.toDouble),
        "sql.executions" -> perOp(execs.size),
        "sql.analysis_ms" -> perOp(execs.map(_.analysisMs).sum),
        "sql.optimization_ms" -> perOp(execs.map(_.optimizationMs).sum),
        "sql.planning_ms" -> perOp(execs.map(_.planningMs).sum),
        "codegen.compile_ms" -> perOp(opSum("codegen_compile_ms")),
        "codegen.wsc_fallbacks" -> perOp(execs.map(_.wscFallbacks).sum),
        "spark.jobs" -> perOp(jobs.size),
        "spark.stages" -> perOp(stages.size),
        "spark.tasks" -> perOp(stages.map(_.tasks).sum),
        "spark.task_busy_s" -> perOp(stages.map(_.busyMs).sum / 1e3),
        "spark.task_cpu_s" -> perOp(stages.map(_.cpuNs).sum / 1e9),
        "spark.gc_s" -> perOp(stages.map(_.gcMs).sum / 1e3),
        "spark.shuffle_bytes" -> perOp(stages.map(_.shuffleBytes).sum.toDouble),
        "spark.spill_bytes" -> perOp(stages.map(_.spillBytes).sum.toDouble),
        "spark.job_gap_s" -> perOp(gapS),
        "Dedup.state_files" -> lifecycleMean("state_files"),
        "Dedup.state_bytes" -> lifecycleMean("state_bytes"),
        "Dedup.state_bytes_per_input_byte" -> lifecycleMean("state_bytes_per_input_byte"),
        "Dedup.compactions" -> compactionsPerLifecycle,
        "cache.mb" -> (0.0 +: state.map(_.getOrElse("cache_mb", 0.0))).max,
        "cache.blocks" -> (0.0 +: state.map(_.getOrElse("cache_blocks", 0.0))).max,
        "jvm.gc_s" -> perOp(opSum("jvm_gc_s"))) ++ byModule
    }
}
