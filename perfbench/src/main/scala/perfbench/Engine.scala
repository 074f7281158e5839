package perfbench

/** `engine.*`: Spark as the probe saw it over the timed calls, per call
  * (so runs that fit a different number of calls stay comparable), plus
  * the traced run's own throughput and latency, which set beside the
  * untraced runs' figures give the tracing overhead. */
object Engine {
  def metrics(ops: Seq[OpRecord]): Seq[Metric] = {
    val spans = ops.flatMap(_.spans)
    val n = math.max(1, ops.length).toDouble
    def per(f: Span => Long): Double = spans.map(f).sum.toDouble / n
    val stages = spans.map(_.stages).sum
    val wallMs = spans.map(_.wallMs).sum.toDouble
    Seq(
      Metric("engine.jobs", per(_.jobs), "count/op"),
      Metric("engine.stages", per(_.stages), "count/op"),
      Metric("engine.tasks", per(_.tasks), "count/op"),
      Metric("engine.tasks_per_stage", spans.map(_.tasks).sum.toDouble / math.max(1, stages), "ratio"),
      Metric("engine.task_run_s", per(_.taskRunMs) / 1e3, "s/op"),
      Metric("engine.task_cpu_s", per(_.taskCpuNs) / 1e9, "s/op"),
      Metric("engine.gc_s", per(_.gcMs) / 1e3, "s/op"),
      Metric("engine.outside_tasks_s", per(_.outsideTasksMs) / 1e3, "s/op"),
      Metric("engine.busy_cores", spans.map(_.busyMs).sum / math.max(1.0, wallMs), "cores"),
      Metric("engine.shuffle_read_bytes", per(_.shuffleReadBytes), "B/op"),
      Metric("engine.shuffle_write_bytes", per(_.shuffleWriteBytes), "B/op"),
      Metric("engine.spill_bytes", per(_.spillBytes), "B/op"),
      Metric("engine.input_bytes", per(_.inputBytes), "B/op"),
      Metric("engine.output_bytes", per(_.outputBytes), "B/op"),
      Metric("engine.plan_ms", per(_.planMs), "ms/op"),
      Metric("engine.codegen_compiles", per(_.codegenCompiles), "count/op"),
      Metric("engine.codegen_ms", per(_.codegenNs) / 1e6, "ms/op"))
  }

  /** The traced run's own end-to-end figures. */
  def traced(ops: Seq[OpRecord], items: Long, wallS: Double): Seq[Metric] = {
    val oks = ops.filter(_.ok).map(_.ms)
    Seq(
      Metric("trace.items_per_s", items / wallS, "1/s"),
      Metric("trace.call_geomean_ms", if (oks.isEmpty) 0.0 else Stats.geomean(oks), "ms"))
  }
}
