package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** What the run loop needs from a workload. Operations run in a closed
  * loop (one client, the next operation starts when the last returns) and
  * come in fixed cycles, so every run holds whole cycles of the same mix.
  */
trait Workload {
  /** Operations per cycle; a run always stops at a cycle boundary. */
  def cycleLength: Int
  /** [[Sentinel]] runs before each operation. */
  def sentinelsPerOp: Int = 1
  /** Builds the fixture in the fresh directory `dir`; with `warmUp` (the
    * first build of a run) also runs operations untimed to warm the JVM.
    */
  def setup(dir: String, warmUp: Boolean): Unit
  /** Untimed output check of the fixture the last [[setup]] built. */
  def checkSetup(): Boolean = true
  /** Untimed preparation of operation `i` (its inputs). */
  def prepare(i: Int): Unit = ()
  /** The timed operation. */
  def op(i: Int): Unit
  /** Untimed output check of operation `i`. */
  def check(i: Int): Boolean
  /** Untimed check of the final state after the last operation. */
  def finish(): Boolean = true
  /** Per-layer metrics from the spans of a traced run. */
  def layerMetrics(trace: Trace): Map[String, Double]
}

object Main {
  /** Fixture builds per run: the first also warms the JVM, the second is
    * warm; `setup_s` is their median. The operations run on the last one.
    */
  val SetupRepeats = 2
  /** A run stops starting operations after this much wall time. */
  val MaxLoopSeconds = 100.0

  /** One timed operation; `sentinel` is the mean time of the sentinels
    * run just before it.
    */
  final case class OpRecord(i: Int, seconds: Double, sentinel: Double,
                            ok: Boolean, driverOnlyMs: Long) {
    /** The latency at the reference host speed. */
    def normalized: Double = seconds * Sentinel.ReferenceSeconds / sentinel
  }

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String,
                        commit: String, sourceSha: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1: $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace,
      need("work"), need("out"), m.getOrElse("commit", "unknown"),
      m.getOrElse("source-sha", "unknown"))
  }

  val Workloads: Map[String, (SparkSession, Trace, Long) => Workload] = Map(
    "dashboard" -> (new DashboardBench(_, _, _)),
    "store_dml" -> (new StoreDmlBench(_, _, _)),
    "dedup" -> (new DedupBench(_, _, _)))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val make = Workloads.getOrElse(a.workload, throw new IllegalArgumentException(
      s"unknown workload ${a.workload}; known: ${Workloads.keys.mkString(", ")}"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    val spark = Session.start(a.work)
    log("Spark session started")
    val code =
      try {
        val trace = new Trace(spark, a.trace)
        val w = make(spark, trace, a.seed)
        val head = header(spark, a)
        println(head)
        val (summary, line, ok) = run(w, trace, a)
        if (a.trace) trace.write(
          s"${a.out}/spans-${a.workload}-seed${a.seed}.jsonl")
        writeResult(a, Seq(head, summary, line))
        println(summary)
        println(line)
        if (ok) 0 else 1
      } finally {
        log("stopping Spark")
        spark.stop()
      }
    log(s"exiting with $code")
    System.exit(code)
  }

  def json(fields: (String, JValue)*): String = compact(render(JObject(fields.toList)))

  /** A finite number with all its digits; NaN and infinities are refused. */
  def num(d: Double): JValue = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    JDouble(d)
  }

  /** The run header: what two result files must share to be compared. */
  def header(spark: SparkSession, a: Args): String = {
    val settings = Session.Pinned.map { case (k, v) =>
      JField(k, JString(spark.conf.getOption(k).getOrElse(v))) }
    json("header" -> JObject(
      "workload" -> JString(a.workload),
      "seed" -> JLong(a.seed),
      "seconds" -> JLong(a.seconds),
      "trace" -> JLong(if (a.trace) 1 else 0),
      "nproc" -> JLong(Runtime.getRuntime.availableProcessors),
      "spark_master" -> JString(spark.sparkContext.master),
      "spark_version" -> JString(spark.version),
      "session_settings" -> JObject(settings.toList),
      "jvm_max_heap_bytes" -> JLong(Runtime.getRuntime.maxMemory),
      "java_version" -> JString(System.getProperty("java.version")),
      "git_commit" -> JString(a.commit),
      "source_sha256" -> JString(a.sourceSha)))
  }

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f] $msg")

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Builds the fixture [[SetupRepeats]] times, then runs whole cycles of
    * operations until they have been busy for `--seconds`. Returns the
    * summary line, the result line and whether every check passed.
    */
  def run(w: Workload, trace: Trace, a: Args): (String, String, Boolean) = {
    val setups = (1 to SetupRepeats).map { k =>
      val dir = s"${a.work}/fixture-$k"
      val s = time(trace.span("setup")(w.setup(dir, warmUp = k == 1)))
      log(f"setup $k took $s%.3f s")
      if (k > 1) LocalFiles.deleteTree(new java.io.File(s"${a.work}/fixture-${k - 1}"))
      s
    }
    require(w.checkSetup(), "the fixture is wrong")
    val records = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    (1 to 2).foreach(_ => Sentinel.run()) // compiles the sentinel's plan
    val loopStart = System.nanoTime()
    var busy = 0.0
    var i = 0
    def loopWall = (System.nanoTime() - loopStart) / 1e9
    while ((busy < a.seconds || i % w.cycleLength != 0) &&
           loopWall < MaxLoopSeconds) {
      w.prepare(i)
      val sent = Stats.mean((1 to w.sentinelsPerOp).map(_ => time(Sentinel.run())))
      trace.op = i
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val done = scala.util.Try(trace.span("op")(w.op(i)))
      val secs = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      trace.op = -1
      done.failed.foreach { e =>
        log(s"operation $i failed: $e")
        e.printStackTrace()
      }
      val ok = done.isSuccess && (try w.check(i) catch {
        case e: Exception =>
          log(s"check of operation $i threw: $e")
          false
      })
      log(f"operation $i took $secs%.3f s (sentinel $sent%.3f s), " +
        s"check ${if (ok) "passed" else "FAILED"}")
      busy += secs
      records += OpRecord(i, secs, sent, ok, trace.driverOnlyMs(ms0, ms1))
      i += 1
    }
    val finalOk = try w.finish() catch {
      case e: Exception =>
        log(s"final check threw: $e")
        false
    }
    val failed = records.count(!_.ok) +
      (if (!finalOk && records.lastOption.exists(_.ok)) 1 else 0)
    val correct = failed == 0 && records.nonEmpty
    val lat = records.map(_.seconds).toSeq
    // the mean over whole cycles, each latency at the reference host speed:
    // every kind of operation in the mix moves it
    val opMean = Stats.mean(records.map(_.normalized).toSeq)
    val hostFactor = Stats.mean(records.map(_.sentinel).toSeq) /
      Sentinel.ReferenceSeconds
    val p90: JValue =
      if (lat.size >= 100) num(Stats.quantile(lat, 0.9))
      else JString("withheld (fewer than 100 samples)")
    val summary = json("summary" -> JObject(
      "ops" -> JLong(lat.size),
      "cycles" -> JLong(lat.size / w.cycleLength),
      "op_p50_s" -> num(Stats.median(lat)),
      "op_mean_raw_s" -> num(Stats.mean(lat)),
      "host_factor" -> num(hostFactor),
      "op_p90_s" -> p90,
      "setup_runs_raw_s" -> JArray(setups.map(num).toList),
      "loop_wall_s" -> num(loopWall)))
    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> Stats.median(setups) / hostFactor,
        "op_mean_s" -> opMean)
      else {
        val ops = trace.named("op")
        def perOp(f: Counters => Double) = Stats.mean(ops.map(s => f(s.work)))
        w.layerMetrics(trace) ++ Map(
          "spark.jobs_per_op" -> perOp(_.jobs.toDouble),
          "spark.stages" -> perOp(_.stages.toDouble),
          "spark.tasks" -> perOp(_.tasks.toDouble),
          "spark.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes.toDouble),
          "spark.input_bytes" -> perOp(_.inputBytes.toDouble),
          "spark.output_bytes" -> perOp(_.outputBytes.toDouble),
          "spark.spill_bytes" -> perOp(_.spillBytes.toDouble),
          "spark.executor_run_s" -> perOp(_.executorRunMs / 1000.0),
          "spark.driver_only_s" ->
            Stats.mean(records.map(_.driverOnlyMs / 1000.0).toSeq),
          "bench.op_samples" -> lat.size.toDouble,
          "bench.traced_op_mean_s" -> opMean)
      }
    val wanted = Metrics.of(a.trace)
    val unknown = metrics.keySet -- wanted.map(_.name)
    require(unknown.isEmpty, s"metrics not declared: ${unknown.mkString(", ")}")
    // a layer this workload never calls did no work
    val fields = wanted.map { m =>
      JField(m.name, JObject("value" -> num(metrics.getOrElse(m.name, 0.0)),
        "unit" -> JString(m.unit)))
    }
    val line = json(
      "correct" -> JBool(correct),
      "attempted" -> JLong(records.size),
      "failed" -> JLong(failed),
      "metrics" -> JObject(fields.toList))
    (summary, line, correct)
  }

  private def writeResult(a: Args, lines: Seq[String]): Unit = {
    val f = new java.io.File(s"${a.out}/result-${a.workload}-seed${a.seed}" +
      s"-trace${if (a.trace) 1 else 0}.json")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      lines.map(_ + "\n").mkString.getBytes("UTF-8"))
  }
}

/** A fixed Spark job that calls none of the program's code, run just
  * before every timed operation. On a shared host the whole machine speeds
  * up and slows down by up to 2x from one minute to the next; an
  * operation's latency times [[ReferenceSeconds]] over its sentinel's time
  * is its latency at the reference speed, which compares runs like with
  * like. The run's host factor is its mean sentinel time over
  * [[ReferenceSeconds]]; `setup_s` is divided by it.
  */
object Sentinel {
  /** The sentinel's typical time on a quiet 4-vCPU Xeon VM (JDK 17,
    * Spark 4.1); it sets only the scale of the normalized times.
    */
  val ReferenceSeconds = 0.15

  def run(): Unit =
    SparkSession.active.range(0, 2000000, 1, Session.Cpus)
      .selectExpr("id % 1000 as k", "hash(id) as h")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("h")).collect()
}

/** Local file helpers shared by the workloads. */
object LocalFiles {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Every parquet file under `dir`. */
  def parquet(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }
}
