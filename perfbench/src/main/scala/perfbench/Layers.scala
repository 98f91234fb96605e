package perfbench

/** One unit of client work: a trigger of the stream or a query of a
  * batch pass. `analysisMs` is the analysis of the frames it built,
  * which Spark does eagerly and reports to no listener; `spans` are
  * the spans whose Spark jobs it owns. */
final case class Op(start: Double, end: Double, buildMs: Double, executeMs: Double,
    analysisMs: Double, spans: Seq[Long]) {
  def ms: Double = end - start
}

/** The per-layer metrics both workload kinds report. */
object Layers {
  /** Time Spark spent analysing a frame when it was built. */
  def analysisMs(df: org.apache.spark.sql.DataFrame): Double =
    df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)

  /** The client, planning and Spark layers of `ops`, summed and divided
    * by `per` (the op count for means per op, the pass count for sums
    * per pass), as `<prefix>.<name>` metrics. */
  def put(prefix: String, ops: Seq[Op], per: Double, stats: SparkStats, phases: PhaseTimes,
      compiles: Long, slots: Int, m: Metrics): Unit = {
    val n = math.max(1e-9, per)
    val works = ops.map(o => stats.of(o.spans))
    val total = new Work
    works.foreach(total.add)
    val jobMs = ops.zip(works).map { case (o, w) =>
      Stats.covered(w.jobIntervals.toSeq.map { case (s, e) => (math.max(s, o.start), math.min(e, o.end)) })
    }
    val execs = ops.flatMap(o => phases.within(o.start, o.end))
    def put(name: String, v: Double, unit: String): Unit = m.put(s"$prefix.$name", v / n, unit)
    put("wall_ms", ops.map(_.ms).sum, "ms")
    put("build_ms", ops.map(_.buildMs).sum, "ms")
    put("execute_ms", ops.map(_.executeMs).sum, "ms")
    put("client_self_ms", ops.zip(jobMs).map { case (o, j) => o.ms - j }.sum, "ms")
    put("analysis_ms", ops.map(_.analysisMs).sum + execs.map(_.analysis).sum, "ms")
    put("optimization_ms", execs.map(_.optimization).sum, "ms")
    put("planning_ms", execs.map(_.planning).sum, "ms")
    put("codegen_compiles", compiles, "count")
    put("jobs", total.jobs, "count")
    put("stages", total.stages, "count")
    put("tasks", total.tasks, "count")
    put("job_ms", jobMs.sum, "ms")
    put("executor_run_ms", total.runMs, "ms")
    put("executor_cpu_ms", total.cpuMs, "ms")
    put("scheduler_delay_ms", total.delayMs, "ms")
    put("gc_ms", total.gcMs, "ms")
    put("shuffle_read_bytes", total.shuffleRead, "B")
    put("shuffle_write_bytes", total.shuffleWrite, "B")
    put("spill_bytes", total.spill, "B")
    put("io_bytes", total.inputBytes + total.outputBytes, "B")
    m.put(s"$prefix.slot_busy_ratio", total.taskMs / math.max(1e-9, jobMs.sum * slots), "ratio")
  }
}
