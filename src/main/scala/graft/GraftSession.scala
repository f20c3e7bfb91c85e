package graft

import org.apache.spark.sql.SparkSession

/** The one pinned Spark session config. Bench, Verify, ScaleProbe100 and the
  * test suite all build their sessions here, so the tests predict the gate's
  * plans and the probes measure the engine the bench measures.
  */
object GraftSession {
  /** Every setting beyond master and shuffle width, in builder order. */
  val settings: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // Classic (non-ANSI) eval: invalid casts/parses yield NULL, matching the
    // reference's permissive ClickHouse insert-cast semantics (SURVEY R8)
    // and the TRY_CAST forms used in the DuckDB oracle SQL.
    "spark.sql.ansi.enabled" -> "false",
    // events.parquet carries ns timestamps (Tables.table converts ns→µs)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // Write µs-precision timestamps (not INT96) so DuckDB/arrow readers of
    // the output see the same values Spark computed.
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // r18 (optimization guide §2.2/§3.1/§9): let AQE actually coalesce
    // tiny post-shuffle partitions (parallelismFirst keeps the local
    // default parallelism otherwise — the docs recommend false), and let
    // the planner pick a shuffled hash join when its size gates hold
    // (sort-merge stays the fallback). Result-preserving.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.ui.enabled" -> "false")

  /** `local[cpus]` with `cpus` shuffle partitions plus [[settings]]. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config(settings.toMap)
}
