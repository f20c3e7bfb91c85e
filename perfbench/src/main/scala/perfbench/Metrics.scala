package perfbench

/** Every metric the benchmark prints. `BENCHMARK.json` lists the same
  * names (a test keeps the two equal). Every workload prints every metric
  * of its mode; a per-layer metric of a layer the workload never calls
  * reads 0.
  */
object Metrics {
  final case class Metric(name: String, unit: String, better: String)

  private def lower(n: String, u: String) = Metric(n, u, "lower")
  private def higher(n: String, u: String) = Metric(n, u, "higher")

  /** Printed by untraced runs. */
  val EndToEnd: Seq[Metric] = Seq(
    lower("setup_s", "s"),
    lower("op_mean_s", "s"))

  /** Printed by traced runs. Times are medians per call in seconds;
    * `spark.*` are means per operation.
    */
  val PerLayer: Seq[Metric] = Seq(
    lower("streaming.spool_push_s", "s"),
    lower("streaming.stream_s", "s"),
    lower("streaming.read_amp", "ratio"),
    lower("expressions.parse_s", "s"),
    lower("storage.logtable_write_s", "s"),
    lower("storage.logtable_compact_s", "s"),
    lower("storage.logtable_append_s", "s"),
    lower("storage.write_amp", "ratio"),
    lower("storage.files_written", "count"),
    lower("storage.store_bytes_per_input_byte", "ratio"),
    lower("storage.read_range_s", "s"),
    lower("storage.files_opened_frac", "ratio"),
    lower("plans.expand_s", "s"),
    lower("plans.plan_s", "s"),
    lower("storage.snapshot_merge_s", "s"),
    lower("storage.snapshot_merge_mor_s", "s"),
    lower("storage.snapshot_update_s", "s"),
    lower("storage.snapshot_delete_s", "s"),
    lower("storage.snapshot_count_s", "s"),
    lower("storage.snapshot_read_s", "s"),
    lower("storage.snapshot_compact_s", "s"),
    lower("storage.files_written_per_commit", "count"),
    lower("storage.bytes_written_per_row_changed", "B"),
    higher("storage.count_meta_frac", "ratio"),
    lower("storage.dml_commit_p50_s", "s"),
    lower("storage.dml_read_p50_s", "s"),
    lower("catalog.merge_sql_s", "s"),
    lower("operators.signature_s", "s"),
    lower("operators.pairs_s", "s"),
    higher("operators.pairs_found", "count"),
    higher("operators.dedup_recall", "ratio"),
    lower("spark.jobs_per_op", "count/op"),
    lower("spark.stages", "count/op"),
    lower("spark.tasks", "count/op"),
    lower("spark.shuffle_write_bytes", "B/op"),
    lower("spark.input_bytes", "B/op"),
    lower("spark.output_bytes", "B/op"),
    lower("spark.spill_bytes", "B/op"),
    lower("spark.executor_run_s", "s/op"),
    lower("spark.driver_only_s", "s/op"),
    higher("bench.op_samples", "count"),
    lower("bench.traced_op_mean_s", "s"))

  def of(trace: Boolean): Seq[Metric] = if (trace) PerLayer else EndToEnd
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
