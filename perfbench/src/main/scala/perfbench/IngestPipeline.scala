package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.storage.LogTableWriter
import graft.streaming.{Ingest, Syslog, SyslogSpool}

/** The reference's own job, the path `PipelineE2e.ensure` composes: a
  * seeded batch of syslog frames goes over one TCP connection into a
  * spool, the checkpointed syslog stream runs to completion (dead letters
  * split off), and the result is laid out as the daily store — lines
  * before `tailStart` are written and compacted, the newest lines are
  * appended in `tailBatches` slices as the store's tail.
  */
final class IngestPipeline(spark: SparkSession, trace: Trace) {
  val StoreCols = Seq("logdate", "logdatetime", "clientip", "request",
    "response", "bytes")

  private var firstSpan = 0
  private val storeBytes = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val readAmp = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val writeAmp = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val filesWritten = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Ingests `batch` under `dir`; returns the store path. */
  def run(batch: Gen.LogBatch, dir: String, tailStart: LocalDateTime,
          tailBatches: Int, tailEnd: LocalDateTime): String = {
    firstSpan = trace.spans.size
    val spoolDir = s"$dir/spool"
    trace.span("streaming.spool_push")(push(batch, spoolDir))
    trace.span("streaming.stream") {
      Ingest.startSyslog(spark, spoolDir, s"$dir/ingest", s"$dir/ck",
        Trigger.AvailableNow(), Some(s"$dir/dead"), assumeYear = Gen.Year)
        .awaitTermination()
    }
    val parsed = Ingest.readStore(spark, s"$dir/ingest")
      .select(StoreCols.map(col): _*)
    val store = s"$dir/store"
    def at(t: LocalDateTime) = lit(java.sql.Timestamp.valueOf(t))
    // every file the writer created, listed when traced
    val created = scala.collection.mutable.Set.empty[String]
    def listed(): Unit =
      if (trace.enabled) created ++= LocalFiles.parquet(store).map(_.getPath)
    trace.span("storage.logtable_write") {
      LogTableWriter.write(parsed.filter(col("logdatetime") < at(tailStart)), store)
    }
    listed()
    trace.span("storage.logtable_compact")(LogTableWriter.compact(spark, store))
    listed()
    val step = java.time.Duration.between(tailStart, tailEnd)
      .dividedBy(tailBatches.toLong)
    (0 until tailBatches).foreach { j =>
      val lo = tailStart.plus(step.multipliedBy(j.toLong))
      val slice = col("logdatetime") >= at(lo) &&
        (if (j == tailBatches - 1) lit(true) else col("logdatetime") < at(lo.plus(step)))
      trace.span("storage.logtable_append") {
        LogTableWriter.append(parsed.filter(slice), store)
      }
      listed()
    }
    if (trace.enabled) filesWritten += created.size
    store
  }

  /** One TCP sender into a spool receiver; returns once every byte sent
    * is visible in rolled spool files.
    */
  private def push(batch: Gen.LogBatch, spoolDir: String): Long = {
    // roll on size only, so the spool's file count depends on the bytes
    val spool = new SyslogSpool.Spool(spoolDir, rollBytes = 4L << 20,
      rollMillis = 600000L)
    val rx = new SyslogSpool.TcpReceiver(0, spool)
    var sent = 0L
    try {
      val sock = new java.net.Socket("127.0.0.1", rx.boundPort)
      try {
        val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
        batch.frames.foreach { f =>
          val b = f.getBytes(UTF_8)
          out.write(b)
          out.write('\n')
          sent += b.length + 1L
        }
        out.flush()
      } finally sock.close()
      def bytesIn(pred: String => Boolean): Long =
        Option(new java.io.File(spoolDir).listFiles).toSeq.flatten
          .filter(f => pred(f.getName)).map(_.length).sum
      def visible = bytesIn(n => n.startsWith("spool-") && n.endsWith(".log"))
      // Roll once the receiver has written (nearly) everything: rolling
      // while it still appends would cut extra small spool files.
      val deadline = System.nanoTime() + 60L * 1000000000L
      var last = -1L
      var seen = 0L
      while ({ seen = visible + bytesIn(_.endsWith(".tmp")); seen != last } &&
             System.nanoTime() < deadline) {
        last = seen
        Thread.sleep(20)
      }
      spool.rollNow()
      while (visible < sent && System.nanoTime() < deadline) {
        Thread.sleep(5)
        spool.rollNow()
      }
      require(visible == sent, s"spool holds $visible of $sent bytes")
    } finally { rx.close(); spool.close() }
    sent
  }

  /** Store rows, dead letters, dropped frames, byte sums and the response
    * histogram must equal what the generator made. When traced, also
    * measures the parse layer alone and the ratios of the last [[run]].
    */
  def check(batch: Gen.LogBatch, dir: String): Boolean = {
    val store = s"$dir/store"
    val stored = LogTableWriter.read(spark, store)
      .groupBy("response").agg(count(lit(1)).as("n"), sum("bytes").as("b"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val good = stored.map(_._2).sum
    val dead = Ingest.readDeadLetters(spark, s"$dir/dead").count()
    // frames the envelope parse rejects, counted in the spool itself
    val dropped = Syslog.parseEnvelope(spoolLines(dir), Gen.Year)
      .filter(col("sl_corrupt")).count()
    val byResponse = stored.map(r => r._1 -> r._2).toMap
    val ok = good == batch.good && dead == batch.deadLetters &&
      dropped == batch.droppedFrames && stored.map(_._3).sum == batch.bytesSum &&
      byResponse == batch.byResponse
    if (!ok) System.err.println(s"[perfbench] ingest check failed: stored=$good/" +
      s"${batch.good} dead=$dead/${batch.deadLetters} dropped=$dropped/" +
      s"${batch.droppedFrames} bytes=${stored.map(_._3).sum}/${batch.bytesSum} " +
      s"responses=$byResponse/${batch.byResponse}")
    val live = LogTableWriter.read(spark, store).inputFiles.map { f =>
      new java.io.File(new java.net.URI(f)).length
    }.sum
    storeBytes += live.toDouble / batch.inputBytes
    if (trace.enabled) {
      val mine = trace.spans.drop(firstSpan)
      def bytes(name: String, f: Counters => Long) =
        mine.filter(_.name == name).map(s => f(s.work)).sum.toDouble
      writeAmp += Seq("storage.logtable_write", "storage.logtable_compact",
        "storage.logtable_append").map(bytes(_, _.outputBytes)).sum / live
      readAmp += bytes("streaming.stream", _.inputBytes) / batch.inputBytes
      trace.span("expressions.parse") {
        Syslog.transform(spoolLines(dir), Gen.Year)
          .write.mode("overwrite").format("noop").save()
      }
    }
    ok
  }

  private def spoolLines(dir: String) =
    spark.read.text(s"$dir/spool").withColumnRenamed("value", "line")

  /** Medians over every ingest this pipeline ran. */
  def layerMetrics(t: Trace): Map[String, Double] = {
    def med(name: String) = Stats.medianOr0(t.named(name).map(_.seconds))
    Map(
      "streaming.spool_push_s" -> med("streaming.spool_push"),
      "streaming.stream_s" -> med("streaming.stream"),
      "streaming.read_amp" -> Stats.mean(readAmp.toSeq),
      "expressions.parse_s" -> med("expressions.parse"),
      "storage.logtable_write_s" -> med("storage.logtable_write"),
      "storage.logtable_compact_s" -> med("storage.logtable_compact"),
      "storage.logtable_append_s" -> med("storage.logtable_append"),
      "storage.write_amp" -> Stats.mean(writeAmp.toSeq),
      "storage.files_written" -> Stats.mean(filesWritten.toSeq),
      "storage.store_bytes_per_input_byte" -> Stats.mean(storeBytes.toSeq))
  }
}
