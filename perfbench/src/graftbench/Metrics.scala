package graftbench

/** Metric names, units and the statistics the benchmark reports. */
object Metrics {
  val NameRe = "[A-Za-z0-9_.-]+"

  /** Jobs that must lie beyond the reported tail latency. */
  val TailBeyond = 10

  /** Gated end-to-end metrics. The per-job percentiles are reported
    * beside them and in the traced run (`client.*`) but not gated: under
    * machine-wide slow phases their run-to-run quartile spread reaches
    * the largest regression bound a metric may have (0.25), about twice
    * the spread of `makespan_s`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "makespan_s" -> "s", "heap_live_peak_mb" -> "MB")

  private val ModuleMetrics = Seq(
    "call_s" -> "s", "action_s" -> "s", "spark_jobs" -> "count",
    "shuffle_mb" -> "MB", "task_s" -> "s")

  def perLayer(modules: Seq[String]): Seq[(String, String)] =
    modules.flatMap(m => ModuleMetrics.map { case (k, u) => s"$m.$k" -> u }) ++ Seq(
      "client.job_p50_s" -> "s", "client.job_tail_s" -> "s", "Cli.call_s" -> "s",
      "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
      "engine.task_s" -> "s", "engine.busy_frac" -> "ratio", "engine.no_task_s" -> "s",
      "engine.task_wait_s" -> "s", "engine.task_failures" -> "count",
      "engine.gc_s" -> "s", "engine.spill_mb" -> "MB", "engine.shuffle_mb" -> "MB",
      "sources.scan_mb" -> "MB", "sources.scan_rows" -> "count",
      "Cached.builds" -> "count", "Cached.reads" -> "count",
      "Cached.hit_ratio" -> "ratio", "Cached.stored_mb" -> "MB",
      "sinks.write_mb" -> "MB", "sinks.write_rows" -> "count",
      "FanoutOps.worker_calls" -> "count", "FanoutOps.useful_ratio" -> "ratio",
      "trace.overhead_s" -> "s")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of the p-quantile: the mean of all order
    * statistics weighted by a Beta((n+1)p, (n+1)(1-p)) density. A run's
    * few dozen job latencies fall into clusters by job kind; a single
    * order statistic jumps between clusters from run to run, this
    * estimate does not. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "no samples")
    if (n == 1) return s.head
    val a = (n + 1) * p
    val b = (n + 1) * (1 - p)
    val steps = 64
    // log-density at the midpoints of each order statistic's slice of [0, 1]
    val logDensity = (0 until n).map(i => (0 until steps).map { k =>
      val x = (i + (k + 0.5) / steps) / n
      (a - 1) * math.log(x) + (b - 1) * math.log(1 - x)
    })
    val top = logDensity.flatten.max
    val w = logDensity.map(_.map(l => math.exp(l - top)).sum)
    s.zip(w).map { case (v, wi) => v * wi }.sum / w.sum
  }

  /** Latency at the highest percentile that still has [[TailBeyond]] jobs
    * beyond it, and that percentile. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.size > TailBeyond,
      s"job_tail_s needs more than $TailBeyond jobs in a run, got ${xs.size}")
    val p = (xs.size - TailBeyond).toDouble / xs.size
    (quantile(xs, p), 100 * p)
  }
}
