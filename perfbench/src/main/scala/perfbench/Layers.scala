package perfbench

/** Per-layer metrics from the additive counters of a group of ops (one
  * op, or every op of a pass). Ratios are formed after summing, so a
  * pass's ratio weighs each op by its share of the base. */
object Layers {

  /** (metric, unit) in report order; `trace.overhead_s` comes from the
    * run as a whole, every other metric from [[of]]. */
  val metrics: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "exec.stages" -> "count", "exec.jobs" -> "count", "exec.sched_delay_s" -> "s",
    "exec.action_s" -> "s", "exec.tasks" -> "count", "exec.task_cpu_s" -> "s",
    "exec.task_run_s" -> "s", "exec.task_gc_s" -> "s", "exec.core_busy_frac" -> "fraction",
    "exec.max_task_share" -> "fraction",
    "scan.input_mb" -> "MB", "scan.input_rows" -> "count", "shuffle.write_mb" -> "MB",
    "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_s" -> "s", "spill.mb" -> "MB",
    "warehouse.write_mb" -> "MB", "warehouse.write_rows" -> "count",
    "ingest.list_s" -> "s", "ingest.list_calls" -> "count", "ingest.fetch_s" -> "s",
    "ingest.fetch_calls" -> "count", "ingest.fetch_p50_ms" -> "ms",
    "ingest.fetch_p99_ms" -> "ms", "ingest.retries" -> "count", "ingest.fetch_mb" -> "MB",
    "ingest.sleep_s" -> "s", "ingest.useful_frac" -> "fraction",
    "edinet.master_s" -> "s", "edinet.extract_s" -> "s", "edinet.land_s" -> "s",
    "edinet.transform_s" -> "s", "edinet.sink_s" -> "s", "edinet.files_landed" -> "count",
    "edinet.files_parsed" -> "count", "edinet.parse_frac" -> "fraction",
    "edinet.rows_out" -> "count", "edinet.csv_mb" -> "MB",
    "trace.overhead_s" -> "s")

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def of(ops: Seq[Op], wallS: Double, cpus: Int): Map[String, Double] = {
    val c = ops.flatMap(_.counters).groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0.0)
    val fetchMs = ops.flatMap(_.samples.getOrElse("ingest.fetch_ms", Nil))
    def pct(q: Double) = if (fetchMs.isEmpty) 0.0 else Stats.percentile(fetchMs, q)
    val derived = Map(
      "exec.core_busy_frac" -> ratio(c("exec.task_run_s"), wallS * cpus),
      "exec.max_task_share" -> ratio(c("exec.stage_max_task_s"), c("exec.stage_task_s")),
      "ingest.fetch_p50_ms" -> pct(50),
      "ingest.fetch_p99_ms" -> pct(99),
      "ingest.useful_frac" -> ratio(c("ingest.docs"), c("ingest.fetch_calls")),
      "edinet.parse_frac" -> ratio(c("edinet.files_parsed"), c("edinet.files_landed")))
    scala.collection.immutable.ListMap(metrics.collect { case (m, _) if m != "trace.overhead_s" =>
      m -> derived.getOrElse(m, c(m))
    }: _*)
  }
}
