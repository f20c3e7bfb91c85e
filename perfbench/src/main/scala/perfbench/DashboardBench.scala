package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.plans.Grafana
import graft.storage.LogTableWriter

/** `dashboard`: Grafana panel traffic against the store the ingest
  * pipeline builds. The fixture is that pipeline run on 15k seeded lines —
  * a compacted generation plus a tail appended in 5 batches — so `setup_s`
  * is the ingest time and a change that buys read speed with write cost
  * shows in the same workload. One
  * operation is one panel: macro expansion, `readRange` over the panel's
  * window, planning, and execution with the rows returned. A cycle holds
  * each of 3 panel kinds at each of 4 windows (1 h, 1 d, 7 d, 30 d) once,
  * in seeded order, with window ends biased to the newest days.
  */
final class DashboardBench(spark: SparkSession, trace: Trace, seed: Long)
    extends Workload {
  val StoreLines = 15000
  val TailBatches = 5
  val TailHours = 36
  /** Every this many panels, one is checked against an unskipped read. */
  val CheckEvery = 6
  val cycleLength = 12

  final case class Panel(kind: String, sql: String, interval: String,
                         from: String, to: String)

  private val Kinds = Seq(
    "timeseries" -> ("SELECT $timeSeries as t, count(*) as Count FROM $table " +
      "WHERE $timeFilter GROUP BY t ORDER BY t"),
    "status" -> ("SELECT response, count(*) as Count FROM $table " +
      "WHERE $timeFilter GROUP BY response ORDER BY response"),
    "top_paths" -> ("SELECT request, count(*) as Count, sum(bytes) as Bytes " +
      "FROM $table WHERE $timeFilter GROUP BY request " +
      "ORDER BY Count DESC, request LIMIT 10"))
  // window length in hours -> panel interval
  private val Windows = Seq(1 -> "1m", 24 -> "30m", 24 * 7 -> "3h",
    24 * 30 -> "12h")
  private val DataEnd = Gen.FirstDay.plusDays(Gen.Days).atStartOfDay()
  private val Fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")

  private val pipeline = new IngestPipeline(spark, trace)
  private val batch = Gen.logBatch(seed, StoreLines)
  private var fixture = ""
  private var store = ""
  private var totalFiles = 0L
  private[perfbench] val results = scala.collection.mutable.Map.empty[Int, Seq[Row]]
  private val panelsOf = scala.collection.mutable.Map.empty[Int, Panel]
  private val openedFrac = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Panel `i`: cycle `i / 12` is a seeded permutation of kinds x windows. */
  def panel(i: Int): Panel = panelsOf.getOrElseUpdate(i, {
    val cycle = i / cycleLength
    val r = new Random(seed * 7919L + cycle)
    val combos = r.shuffle(for (k <- Kinds; w <- Windows) yield (k, w))
    val ((kind, sql), (hours, interval)) = combos(i % cycleLength)
    val pr = new Random(seed * 104729L + i)
    // newest days are read most: offset from the data's end, cubed
    val offsetMin = (math.pow(pr.nextDouble(), 3) * 14 * 24 * 60).toLong
    val to = DataEnd.minusMinutes(offsetMin)
    val from = to.minusHours(hours)
    Panel(kind, sql, interval, from.format(Fmt), to.format(Fmt))
  })

  def setup(dir: String, warmUp: Boolean): Unit = {
    fixture = dir
    store = pipeline.run(batch, dir, DataEnd.minusHours(TailHours),
      TailBatches, DataEnd)
    totalFiles = LogTableWriter.read(spark, store).inputFiles.length.toLong
    // warm planning and execution on the first panels
    if (warmUp) (0 until 2).foreach(j => run(panel(j)).collect())
  }

  override def checkSetup(): Boolean = pipeline.check(batch, fixture)

  private def run(p: Panel): DataFrame = {
    val sql = trace.span("plans.expand") {
      Grafana.expand(p.sql, "logs", "logdatetime", p.interval, p.from, p.to)
    }
    val df = trace.span("storage.read_range") {
      LogTableWriter.readRange(spark, store,
        java.sql.Timestamp.valueOf(p.from), java.sql.Timestamp.valueOf(p.to))
    }
    df.createOrReplaceTempView("logs")
    trace.span("plans.plan") {
      val q = spark.sql(sql)
      q.queryExecution.executedPlan
      q
    }
  }

  def op(i: Int): Unit = {
    val q = run(panel(i))
    val rows = trace.span("exec")(q.collect()).toSeq
    if (i % CheckEvery == 0) results(i) = rows
    if (trace.enabled) openedFrac += ScanFiles.read(q).toDouble / totalFiles
  }

  /** A sampled panel must equal the same SQL over the whole store read
    * without any file skipping.
    */
  def check(i: Int): Boolean = results.remove(i).forall { rows =>
    val p = panel(i)
    LogTableWriter.read(spark, store).createOrReplaceTempView("logs")
    val want = spark.sql(Grafana.expand(p.sql, "logs", "logdatetime",
      p.interval, p.from, p.to)).collect().toSeq
    val ok = rows == want
    if (!ok) System.err.println(s"[perfbench] dashboard panel $i ($p) " +
      s"returned ${rows.take(5)}..., plain read gives ${want.take(5)}...")
    ok
  }

  def layerMetrics(t: Trace): Map[String, Double] = {
    def med(name: String) = Stats.medianOr0(t.named(name).filter(_.op >= 0)
      .map(_.seconds))
    pipeline.layerMetrics(t) ++ Map(
      "storage.read_range_s" -> med("storage.read_range"),
      "storage.files_opened_frac" -> Stats.mean(openedFrac.toSeq),
      "plans.expand_s" -> med("plans.expand"),
      "plans.plan_s" -> med("plans.plan"))
  }
}

/** Files the scans of an executed query read, from the scan metrics. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def read(df: DataFrame): Long = collect(df.queryExecution.executedPlan) {
    case s: FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
  }.sum
}
