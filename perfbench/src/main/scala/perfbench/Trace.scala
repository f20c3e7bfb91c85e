package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s.{JLong, JString}

/** Engine work counted by [[EngineListener]]; all fields are totals. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          shuffleWriteBytes: Long = 0, inputBytes: Long = 0,
                          outputBytes: Long = 0, spillBytes: Long = 0,
                          executorRunMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes,
    spillBytes - o.spillBytes, executorRunMs - o.executorRunMs)
}

/** Counts jobs, completed stages, tasks and task I/O, and keeps every
  * job's wall interval so driver-only time can be derived.
  */
final class EngineListener extends SparkListener {
  private var c = Counters()
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else Counters(
      c.jobs, c.stages, c.tasks + 1,
      c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      c.inputBytes + m.inputMetrics.bytesRead,
      c.outputBytes + m.outputMetrics.bytesWritten,
      c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      c.executorRunMs + m.executorRunTime)
  }

  def snapshot: Counters = synchronized(c)

  /** Milliseconds of `[fromMs, toMs]` covered by at least one job. */
  def jobCoverMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = jobSpans.iterator
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** One traced call: name, wall interval, the span that caused it, the
  * operation it belongs to, and the engine counters it moved.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int, work: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When disabled, [[span]] only runs the body,
  * so untraced runs pay nothing; when enabled every span drains the
  * listener bus on entry and exit to attribute engine counters to it.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val listener: Option[EngineListener] =
    if (!enabled) None
    else {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Id of the operation later spans belong to; -1 outside any operation. */
  var op: Int = -1

  private def counters(): Counters = listener.fold(Counters()) { l =>
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    l.snapshot
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = counters()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val work = counters() - before
        stack = stack.tail
        recorded += Span(id, name, t0, t1, parent, op, work)
      }
    }

  def spans: Seq[Span] = recorded.toSeq
  def named(name: String): Seq[Span] = recorded.filter(_.name == name).toSeq

  /** Wall time of `[fromMs, toMs]` during which no Spark job ran. */
  def driverOnlyMs(fromMs: Long, toMs: Long): Long =
    listener.fold(0L)(l => (toMs - fromMs) - l.jobCoverMs(fromMs, toMs))

  /** Writes the spans as JSON lines; times are nanoseconds since the first. */
  def write(path: String): Unit = {
    val t0 = recorded.map(_.startNs).minOption.getOrElse(0L)
    val lines = recorded.sortBy(_.startNs).map { s =>
      val w = s.work
      Main.json("id" -> JLong(s.id), "name" -> JString(s.name),
        "start_ns" -> JLong(s.startNs - t0), "end_ns" -> JLong(s.endNs - t0),
        "parent" -> JLong(s.parent), "op" -> JLong(s.op),
        "jobs" -> JLong(w.jobs), "stages" -> JLong(w.stages),
        "tasks" -> JLong(w.tasks),
        "shuffle_write_bytes" -> JLong(w.shuffleWriteBytes),
        "input_bytes" -> JLong(w.inputBytes),
        "output_bytes" -> JLong(w.outputBytes),
        "spill_bytes" -> JLong(w.spillBytes),
        "executor_run_ms" -> JLong(w.executorRunMs))
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
