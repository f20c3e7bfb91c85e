package perfbench

import java.io.File
import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.SnapshotStore

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work: String = {
    val d = new File("target/spec-work").getAbsoluteFile
    LocalFiles.deleteTree(d)
    d.mkdirs()
    d.getPath
  }
  private lazy val spark = Session.start(work)
  override def afterAll(): Unit = spark.stop()

  private val benchmarkJson: JValue = {
    var d = new File(".").getAbsoluteFile
    while (d != null && !new File(d, "BENCHMARK.json").isFile) d = d.getParentFile
    assert(d != null, "BENCHMARK.json not found above the working directory")
    parse(new String(Files.readAllBytes(new File(d, "BENCHMARK.json").toPath),
      "UTF-8"))
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => fail(s"expected a string, got $other")
  }

  private def declared(key: String): Seq[Metrics.Metric] =
    (benchmarkJson \ key).children.map(m =>
      Metrics.Metric(str(m \ "name"), str(m \ "unit"), str(m \ "better")))

  test("a seed always yields byte-identical inputs") {
    val a = Gen.logBatch(7, 3000)
    val b = Gen.logBatch(7, 3000)
    assert(a.frames.mkString("\n").getBytes("UTF-8")
      .sameElements(b.frames.mkString("\n").getBytes("UTF-8")))
    assert(a == b)
    assert(Gen.logBatch(8, 3000).frames != a.frames)
    assert(a.good + a.deadLetters + a.droppedFrames == a.frames.size)
    // panels depend on nothing but the seed and the index
    def panels(seed: Long) = {
      val d = new DashboardBench(null, new Trace(null, enabled = false), seed)
      (0 until 36).map(d.panel)
    }
    assert(panels(7) == panels(7))
    assert(panels(7) != panels(8))
    val c = Gen.corpus(7, 200, 20, 30)
    assert(c == Gen.corpus(7, 200, 20, 30))
    assert(c.docs.map(_._2).mkString("\n").getBytes("UTF-8")
      .sameElements(Gen.corpus(7, 200, 20, 30).docs.map(_._2).mkString("\n")
        .getBytes("UTF-8")))
    assert(Gen.corpus(8, 200, 20, 30).docs != c.docs)
    assert(c.docs.map(_._1) == (0L until 200L) && c.planted.size == 20)
  }

  test("BENCHMARK.json declares exactly the metrics the benchmark prints") {
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
    assert((benchmarkJson \ "workloads").children.map(w => str(w \ "name"))
      .toSet == Main.Workloads.keySet)
  }

  /** Instant operations, so only the run loop and the printing are tested. */
  private class Idle extends Workload {
    val cycleLength = 2
    def setup(dir: String, warmUp: Boolean): Unit = ()
    def op(i: Int): Unit = Thread.sleep(20)
    def check(i: Int): Boolean = true
    def layerMetrics(t: Trace): Map[String, Double] =
      Map("plans.expand_s" -> 0.001)
  }

  test("a run prints every declared metric of its mode and no other") {
    for (traced <- Seq(false, true)) {
      val a = Main.Args("idle", 1, 1, traced, s"$work/idle", s"$work/out",
        "unknown", "unknown")
      val (_, line, ok) = Main.run(new Idle, new Trace(spark, traced), a)
      assert(ok)
      val printed = (parse(line) \ "metrics") match {
        case JObject(fields) => fields.map(_._1)
        case other => fail(s"no metrics object in $line: $other")
      }
      val want = declared(if (traced) "per_layer" else "end_to_end").map(_.name)
      assert(printed == want)
    }
  }

  test("a seeded corrupt panel or ingested store fails the dashboard checks") {
    val w = new DashboardBench(spark, new Trace(spark, enabled = false), 3)
    w.setup(s"$work/dashboard", warmUp = true)
    assert(w.checkSetup())
    w.op(0)
    assert(w.check(0))
    w.op(w.CheckEvery)
    val rows = w.results(w.CheckEvery)
    assert(rows.nonEmpty)
    w.results(w.CheckEvery) = rows.updated(0, org.apache.spark.sql.Row.fromSeq(
      rows.head.toSeq.updated(1, -1L)))
    assert(!w.check(w.CheckEvery))
    // one more frame in the spool that the envelope parse must drop
    val extra = new File(s"$work/dashboard/spool/spool-extra.log")
    Files.write(extra.toPath, "not a syslog frame\n".getBytes("UTF-8"))
    assert(!w.checkSetup())
    assert(extra.delete())
    assert(w.checkSetup())
    // lose one compacted file behind the writer's back
    val victim = new File(s"$work/dashboard/store").listFiles
      .filter(_.getName.startsWith("gen-"))
      .flatMap(g => Option(g.listFiles).toSeq.flatten)
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .find(_.getName.endsWith(".parquet")).get
    assert(victim.delete())
    assert(!Try(w.checkSetup()).getOrElse(false))
  }

  test("a seeded corrupt dedup pair fails the dedup check") {
    val w = new DedupBench(spark, new Trace(spark, enabled = false), 3)
    w.setup(s"$work/fixture-dedup", warmUp = true)
    w.op(0)
    assert(w.pairs.size >= w.Planted * 0.99)
    assert(w.check(0))
    val (a, b, j) = w.pairs.head
    // a pair below the threshold, then a pair with a wrong Jaccard
    val far = (0L until w.Docs).find(x => x != a && w.jaccard(a, x) == 0.0).get
    w.pairs = w.pairs :+ ((math.min(a, far), math.max(a, far), 0.9))
    assert(!w.check(0))
    w.pairs = (a, b, j - 0.01) +: w.pairs.tail
    assert(!w.check(0))
  }

  test("a seeded corrupt store_dml table fails the final check") {
    val w = new StoreDmlBench(spark, new Trace(spark, enabled = false), 3)
    w.setup(s"$work/fixture-dml", warmUp = true)
    (0 until w.cycleLength).foreach { i =>
      w.prepare(i)
      w.op(i)
      assert(w.check(i), s"operation $i")
    }
    assert(w.finish())
    // a delete the model does not know about
    SnapshotStore.deleteWhere(spark, w.path, col("k") === 1L)
    assert(!w.finish())
  }
}
