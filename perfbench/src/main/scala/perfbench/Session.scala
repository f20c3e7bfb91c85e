package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session. The engine settings are pinned here to
  * the ones `graft.Bench` uses (master `local[4]`, shuffle partitions 4,
  * AQE with partition coalescing, hash joins allowed, ANSI off), so a
  * result is comparable with the 182-query vector. The last block keeps
  * every file the engine writes inside the run's work directory.
  */
object Session {
  val Cpus = 4

  val Pinned: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cpus]",
    "spark.sql.shuffle.partitions" -> Cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.ui.enabled" -> "false")

  /** SQL catalog the `store_dml` workload issues `MERGE INTO` through;
    * its root is the run's work directory.
    */
  val Catalog = "perfcat"

  def start(workDir: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    Pinned.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation",
        s"$workDir/checkpoints")
      .config(s"spark.sql.catalog.$Catalog", "graft.catalog.GraftCatalog")
      .config(s"spark.sql.catalog.$Catalog.root", workDir)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
