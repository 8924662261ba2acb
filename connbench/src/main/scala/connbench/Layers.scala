package connbench

/** The traced run's per-layer report, from the traced ops' spans and counts
  * and the untraced ops' latencies of the same run.
  */
object Layers {

  /** Every per-layer metric, in report order, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "planner.analysis_ms" -> "ms", "planner.optimization_ms" -> "ms",
    "planner.physical_ms" -> "ms",
    "pushdown.rule_ms" -> "ms", "pushdown.collapse_share" -> "ratio",
    "pushdown.remote_sql_bytes" -> "bytes",
    "connector.scan_pushdown_ms" -> "ms", "connector.remote_statements_per_op" -> "count",
    "connector.rows_read_per_op" -> "rows",
    "translator.translate_ms" -> "ms", "translator.sql_bytes" -> "bytes",
    "embedded.plan_query_ms" -> "ms", "embedded.child_exec_ms" -> "ms",
    "embedded.child_jobs_per_op" -> "count", "embedded.spill_bytes_per_row" -> "bytes/row",
    "embedded.invalidation_ms" -> "ms",
    "read.drain_ms" -> "ms", "read.rows_per_s" -> "rows/s",
    "write.task_ms" -> "ms", "write.commit_ms" -> "ms", "write.parts_per_op" -> "count",
    "write.bytes_per_row" -> "bytes/row",
    "exec.jobs_per_op" -> "count", "exec.tasks_per_op" -> "count", "exec.task_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "host.steal_ms" -> "ms", "unattributed_ms" -> "ms",
    "trace.coverage_pct" -> "%", "trace.overhead_pct" -> "%")

  private val PhaseNames = Map("planner.analysis" -> "planner.analysis_ms",
    "planner.optimization" -> "planner.optimization_ms", "planner.physical" -> "planner.physical_ms")

  /** Per-layer metrics. Times and counts are means per traced op; gc and
    * steal are totals over the measured window; overhead compares the
    * median latency of traced ops with that of untraced ops.
    */
  def metrics(ops: Seq[OpRecord], gcMs: Double, stealMs: Double): Seq[(String, Double, String)] = {
    val traced = ops.flatMap(_.trace)
    val n = math.max(1, traced.size).toDouble
    val perOp = traced.map { t =>
      val phases = t.spans.filter(s => PhaseNames.contains(s.name))
        .groupBy(s => PhaseNames(s.name)).map { case (k, ss) => k -> ss.map(_.ms.toDouble).sum }
      t.counts ++ phases + ("unattributed_ms" -> (t.wall - t.covered).toDouble)
    }
    def total(k: String): Double = perOp.map(_.getOrElse(k, 0.0)).sum
    def mean(k: String): Double = total(k) / n
    val wall = traced.map(_.wall).sum.toDouble
    val untraced = ops.filter(_.trace.isEmpty).map(_.latencyMs)
    val tracedLat = ops.filter(_.trace.isDefined).map(_.latencyMs)
    val derived = Map(
      "pushdown.collapse_share" -> ratio(total("pushdown.collapsed"), total("pushdown.candidates")),
      "embedded.spill_bytes_per_row" -> ratio(total("replay.spill_bytes"), total("replay.rows")),
      "read.rows_per_s" -> ratio(total("replay.rows") * 1000, total("read.drain_ms")),
      "write.bytes_per_row" -> mean("write.bytes_per_row"),
      "jvm.gc_ms" -> gcMs, "host.steal_ms" -> stealMs,
      "trace.coverage_pct" -> ratio(traced.map(_.covered).sum * 100.0, wall),
      "trace.overhead_pct" ->
        (if (untraced.isEmpty || tracedLat.isEmpty) 0.0
         else (Stats.median(tracedLat) / Stats.median(untraced) - 1) * 100))
    Units.map { case (k, u) => (k, derived.getOrElse(k, mean(k)), u) }
  }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** A finite JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
