package stmtbench

/** Order statistics and interval arithmetic used by the reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail: the highest percentile that still has at least `beyond`
    * samples above it, by nearest rank — the (n − beyond)-th smallest
    * sample, at percentile 100·(n − beyond)/n. None when there are not
    * more than `beyond` samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val rank = n - beyond
      Some((100.0 * rank / n, xs.sorted.apply(rank - 1)))
    }
  }

  /** Total length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Names and units of every metric the benchmark prints; BENCHMARK.json
  * lists the same names (pinned by MetricsSpec). */
object Metrics {
  final case class Spec(name: String, unit: String, better: String)

  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
  val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}"

  /** Printed with `--trace 0`. */
  val endToEnd: Seq[Spec] = Seq(
    Spec("setup_s", "s", "lower"),
    Spec("events_per_s", "1/s", "higher"),
    Spec("freshness_p50_s", "s", "lower"),
    Spec("freshness_tail_s", "s", "lower"),
    Spec("read_p50_s", "s", "lower"),
    Spec("retained_heap_mb", "MB", "lower"))

  /** Printed with `--trace 1`; per epoch unless the name says otherwise. */
  val perLayer: Seq[Spec] = Seq(
    Spec("exec.submit_ms", "ms", "lower"),
    Spec("exec.initial_drain_ms", "ms", "lower"),
    Spec("sources.produce_ms", "ms", "lower"),
    Spec("sources.topic_files", "count", "lower"),
    Spec("sources.sink_records_per_input", "ratio", "lower"),
    Spec("ss.batches_per_epoch", "count", "lower"),
    Spec("ss.bookkeeping_ms", "ms", "lower"),
    Spec("ss.add_batch_ms", "ms", "lower"),
    Spec("ss.wait_ms", "ms", "lower"),
    Spec("ss.state_rows", "count", "lower"),
    Spec("ss.state_memory_bytes", "bytes", "lower"),
    Spec("ss.state_commit_ms", "ms", "lower"),
    Spec("spark.jobs_per_epoch", "count", "lower"),
    Spec("spark.tasks_per_epoch", "count", "lower"),
    Spec("spark.job_busy_ms", "ms", "lower"),
    Spec("spark.driver_gap_ms", "ms", "lower"),
    Spec("spark.driver_gap_share", "ratio", "lower"),
    Spec("spark.task_run_ms", "ms", "lower"),
    Spec("spark.core_util", "ratio", "higher"),
    Spec("spark.input_bytes_per_epoch", "bytes", "lower"),
    Spec("spark.shuffle_bytes_per_epoch", "bytes", "lower"),
    Spec("spark.spill_bytes", "bytes", "lower"),
    Spec("spark.gc_ms", "ms", "lower"),
    Spec("spark.failed_tasks", "count", "lower"),
    Spec("streaming.join_state_rows", "count", "lower"),
    Spec("streaming.join_state_bytes", "bytes", "lower"),
    Spec("streaming.join_state_batch_dirs", "count", "lower"),
    Spec("streaming.join_state_generations", "count", "lower"),
    Spec("operators.view_input_bytes", "bytes", "lower"),
    Spec("operators.sink_records_per_row", "ratio", "lower"),
    Spec("trace.overhead_pct", "%", "lower"))
}
