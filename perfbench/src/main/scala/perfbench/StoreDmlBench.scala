package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.storage.SnapshotMergeInto.{UpdateAll, WhenMatched, WhenNotMatched}
import graft.storage.SnapshotStore

/** One row of the `store_dml` table. */
final case class R(k: Long, day: String, clientip: String, n: Long,
                   bytes: Long)

/** `store_dml`: writes beside reads on a keyed `SnapshotStore` table
  * partitioned by day. One operation is one commit followed by one read of
  * the day it touched (read-your-write). A cycle holds, in order: a
  * copy-on-write `mergeInto` upsert, an `updateWhere` on one day, an SQL
  * `MERGE INTO` through the catalog, a `deleteWhere` by client IP (spans
  * every day, so stats decide what is read), another copy-on-write upsert,
  * a merge-on-read upsert and `compactPartitions`. Upserts hit the two
  * newest days. Reads alternate between `countWhere` and
  * `readWhere` plus an aggregate. A driver-side model applies the same
  * operations; every read and the final table are checked against it.
  */
final class StoreDmlBench(spark: SparkSession, trace: Trace, seed: Long)
    extends Workload {
  val Days = 10
  val RowsPerDay = 1000
  val UpsertRows = 200
  val Ips = 400
  // the merge-on-read upsert runs just before compaction, so compaction
  // has a delete-vector tail to fold
  val Commits = Vector("merge", "update", "merge_sql", "delete", "merge",
    "merge_mor", "compact")
  val cycleLength: Int = Commits.size

  private val model = scala.collection.mutable.LongMap.empty[R]
  private[perfbench] var path = ""
  private var table = ""
  private var nextKey = 0L

  // what operation i will do, fixed by prepare(i)
  private var kind = ""
  private var day = ""
  private var ip = ""
  private var source: Seq[R] = Nil
  private var readResult: (Long, Long, Long) = (0, 0, 0)
  private var filesBefore = 0
  private val changed = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val filesPerCommit = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def dayOf(j: Int) = Gen.FirstDay.plusDays(j).toString

  def setup(dir: String, warmUp: Boolean): Unit = {
    // the catalog root is the run's work dir, so the fixture dir is the
    // table's namespace and the table lives inside it
    val ns = new java.io.File(dir).getName
    table = s"${Session.Catalog}.`$ns`.t"
    path = s"$dir/t"
    model.clear()
    val r = new Random(seed)
    for (d <- 0 until Days; j <- 0 until RowsPerDay) {
      val k = d.toLong * RowsPerDay + j
      model(k) = R(k, dayOf(d), Gen.clientIp(r.nextInt(Ips)), 0L,
        r.nextInt(100000).toLong)
    }
    nextKey = Days.toLong * RowsPerDay
    SnapshotStore.write(frame(model.values.toSeq), path, "day",
      statsCols = Seq("k", "clientip"))
    // warm the three upsert paths and both reads outside the timed loop
    if (warmUp) Seq(-cycleLength, -cycleLength + 2, -2).foreach { i =>
      prepare(i)
      op(i)
      require(check(i), s"warm-up operation $kind gave a wrong result")
    }
  }

  private def frame(rows: Seq[R]): DataFrame =
    spark.createDataFrame(rows).toDF("k", "day", "clientip", "n", "bytes")

  override def prepare(i: Int): Unit = {
    val r = new Random(seed * 31L + i)
    kind = Commits(Math.floorMod(i, cycleLength))
    day = dayOf(Days - 1 - r.nextInt(2))
    ip = Gen.clientIp(r.nextInt(Ips))
    source = Nil
    kind match {
      case "merge" | "merge_mor" | "merge_sql" =>
        val newest = Set(dayOf(Days - 1), dayOf(Days - 2))
        val existing = model.valuesIterator.filter(x => newest(x.day))
          .toVector.sortBy(_.k)
        val updates = r.shuffle(existing).take(UpsertRows / 2)
          .map(x => x.copy(n = x.n + 10, bytes = r.nextInt(100000).toLong))
        val inserts = (0 until UpsertRows - updates.size).map { j =>
          R(nextKey + j, dayOf(Days - 1 - r.nextInt(2)),
            Gen.clientIp(r.nextInt(Ips)), 1L, r.nextInt(100000).toLong)
        }
        source = updates ++ inserts
      case "update" | "delete" | "compact" =>
        day = dayOf(r.nextInt(Days))
    }
    if (trace.enabled) filesBefore = dataFiles()
  }

  def op(i: Int): Unit = {
    trace.span("commit") {
      kind match {
        case "merge" => trace.span("storage.snapshot_merge") {
          SnapshotStore.mergeInto(spark, path, frame(source), Seq("k"),
            matched = Seq(WhenMatched(None, UpdateAll)),
            notMatched = Some(WhenNotMatched(None)))
        }
        case "merge_mor" => trace.span("storage.snapshot_merge_mor") {
          SnapshotStore.mergeIntoMor(spark, path, frame(source), Seq("k"),
            matched = Seq(WhenMatched(None, UpdateAll)),
            notMatched = Some(WhenNotMatched(None)))
        }
        case "merge_sql" =>
          frame(source).createOrReplaceTempView("dml_src")
          trace.span("catalog.merge_sql") {
            spark.sql(s"MERGE INTO $table t USING dml_src s ON t.k = s.k " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
          }
        case "update" => trace.span("storage.snapshot_update") {
          SnapshotStore.updateWhere(spark, path, Seq("n" -> (col("n") + 1)),
            col("day") === day)
        }
        case "delete" => trace.span("storage.snapshot_delete") {
          SnapshotStore.deleteWhere(spark, path, col("clientip") === ip)
        }
        case "compact" => trace.span("storage.snapshot_compact") {
          SnapshotStore.compactPartitions(spark, path, "day")
        }
      }
    }
    readResult = trace.span("read") {
      if (Math.floorMod(i, cycleLength) % 2 == 0) trace.span("storage.snapshot_count") {
        (SnapshotStore.countWhere(spark, path, col("day") === day), -1L, -1L)
      }
      else trace.span("storage.snapshot_read") {
        val row = SnapshotStore.readWhere(spark, path, col("day") === day)
          .agg(count(lit(1)), coalesce(sum("bytes"), lit(0L)),
            coalesce(sum("n"), lit(0L)))
          .head()
        (row.getLong(0), row.getLong(1), row.getLong(2))
      }
    }
  }

  /** Applies operation `i` to the model, then checks the read. */
  def check(i: Int): Boolean = {
    val rows = kind match {
      case "merge" | "merge_mor" | "merge_sql" =>
        source.foreach(x => model(x.k) = x)
        nextKey = math.max(nextKey, source.map(_.k).max + 1)
        source.size
      case "update" =>
        val hit = model.valuesIterator.filter(_.day == day).toVector
        hit.foreach(x => model(x.k) = x.copy(n = x.n + 1))
        hit.size
      case "delete" =>
        val hit = model.valuesIterator.filter(_.clientip == ip).map(_.k).toVector
        hit.foreach(model.remove)
        hit.size
      case "compact" => 0
    }
    if (trace.enabled && i >= 0) {
      changed += rows
      filesPerCommit += dataFiles() - filesBefore
    }
    val inDay = model.valuesIterator.filter(_.day == day).toVector
    val want =
      if (readResult._2 < 0) (inDay.size.toLong, -1L, -1L)
      else (inDay.size.toLong, inDay.map(_.bytes).sum, inDay.map(_.n).sum)
    val ok = readResult == want
    if (!ok) System.err.println(s"[perfbench] store_dml $kind/$day read " +
      s"$readResult, model says $want")
    ok
  }

  /** The table read back must equal the model row for row. */
  override def finish(): Boolean = {
    val got = SnapshotStore.read(spark, path)
      .select("k", "day", "clientip", "n", "bytes").collect()
      .map(r => R(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSet
    val want = model.values.toSet
    val ok = got == want
    if (!ok) System.err.println(s"[perfbench] store_dml final table: " +
      s"${(got -- want).size} unexpected rows, ${(want -- got).size} missing")
    ok
  }

  private def dataFiles(): Int = LocalFiles.parquet(path).size

  def layerMetrics(t: Trace): Map[String, Double] = {
    def timed(name: String) = t.named(name).filter(_.op >= 0)
    def med(name: String) = Stats.medianOr0(timed(name).map(_.seconds))
    val counts = timed("storage.snapshot_count")
    val commitBytes = timed("commit").map(_.work.outputBytes).sum.toDouble
    Map(
      "storage.snapshot_merge_s" -> med("storage.snapshot_merge"),
      "storage.snapshot_merge_mor_s" -> med("storage.snapshot_merge_mor"),
      "storage.snapshot_update_s" -> med("storage.snapshot_update"),
      "storage.snapshot_delete_s" -> med("storage.snapshot_delete"),
      "storage.snapshot_count_s" -> med("storage.snapshot_count"),
      "storage.snapshot_read_s" -> med("storage.snapshot_read"),
      "storage.snapshot_compact_s" -> med("storage.snapshot_compact"),
      "storage.files_written_per_commit" -> Stats.mean(filesPerCommit.toSeq),
      "storage.bytes_written_per_row_changed" ->
        (if (changed.sum > 0) commitBytes / changed.sum else 0.0),
      "storage.count_meta_frac" -> (if (counts.isEmpty) 0.0
        else counts.count(_.work.jobs == 0).toDouble / counts.size),
      "storage.dml_commit_p50_s" -> med("commit"),
      "storage.dml_read_p50_s" -> med("read"),
      "catalog.merge_sql_s" -> med("catalog.merge_sql"))
  }
}
