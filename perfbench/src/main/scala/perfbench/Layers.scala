package perfbench

/** Per-layer metrics of a traced run, from the spans the harness recorded
  * around its calls into each layer and from Spark's listener counters.
  * Layers are the repository's modules; a layer a workload does not reach
  * reads 0.
  */
object Layers {

  /** Span metrics: the self time of every span recorded under the name. */
  val SpanMetrics = Seq(
    "SparkEntry.construct_s", "operators.call_s", "operators.exec_s",
    "sources.append_s", "sources.delete_s", "sources.compact_s",
    "sources.manifest_s", "sources.lookup_s", Trace.Unattributed)

  /** Figures a workload reports itself (0 where it has none). */
  val WorkloadFigures = Seq(
    "sources.files_rewritten", "sources.files_live",
    "sources.write_amp", "sources.space_amp")

  def metrics(h: Harness, workloadFigures: Map[String, Double],
      probe: KernelProbe.Result): Map[String, Double] = {
    val l = h.listener
    val traced = h.samples.filter(_.traced).toSeq
    val untraced = h.samples.filterNot(_.traced).toSeq
    val opSeconds = traced.map(_.seconds).sum
    val resultRows = traced.map(_.rows).sum.toDouble
    val spans = h.tracer.spans.toSeq
    val self = Trace.selfTimeByMetric(spans).withDefaultValue(0.0)
    val constructSpans = spans.filter(_.metric == "SparkEntry.construct_s").map(_.id).toSet
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val figures = workloadFigures.withDefaultValue(0.0)
    SpanMetrics.map(m => m -> self(m)).toMap ++
      WorkloadFigures.map(m => m -> figures(m)) ++ Map(
      "SparkEntry.construct_jobs" -> l.jobs.count(j => constructSpans(j.span)).toDouble,
      "SparkEntry.construct_share" -> ratio(self("SparkEntry.construct_s"), opSeconds),
      "plans.analysis_s" -> h.phases.phaseMs("analysis") / 1e3,
      "plans.optimization_s" -> h.phases.phaseMs("optimization") / 1e3,
      "plans.planning_s" -> h.phases.phaseMs("planning") / 1e3,
      "operators.jobs" -> l.jobs.size.toDouble,
      "operators.stages" -> l.stages.toDouble,
      "operators.tasks" -> l.tasks.toDouble,
      "operators.task_busy_s" -> l.taskBusyMs / 1e3,
      "operators.sched_wait_s" -> l.schedWaitMs / 1e3,
      "operators.shuffle_write_bytes" -> l.shuffleWriteBytes.toDouble,
      "operators.shuffle_read_bytes" -> l.shuffleReadBytes.toDouble,
      "operators.spill_bytes" -> l.spillBytes.toDouble,
      "operators.result_bytes" -> l.resultBytes.toDouble,
      "Checkpoint.blocks" -> l.rddBlocks.toDouble,
      "Checkpoint.bytes" -> l.rddBlockBytes.toDouble,
      "functions.dot_s" -> probe.dotS,
      "functions.dot_gflops" -> probe.dotGflops,
      "functions.filter_s" -> probe.filterS,
      "sources.scan_bytes" -> l.inputBytes.toDouble,
      "sources.scan_rows" -> l.inputRows.toDouble,
      "sources.rows_examined_per_result" -> ratio(l.inputRows.toDouble, resultRows),
      "sources.bytes_written" -> l.outputBytes.toDouble,
      "run.trace_overhead_s" ->
        (Stats.median(traced.map(_.seconds)) - Stats.median(untraced.map(_.seconds))))
  }
}
