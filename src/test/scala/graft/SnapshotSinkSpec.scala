package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.storage.{Dml, SnapshotStore}
import graft.streaming.{ChangesSourceProvider, SnapshotSinkProvider}

/** The `graft-snapshot` streaming SINK: declarative idempotency-keyed
  * append into the store. Pins auto-init (empty v1 — never batch-0-seeded),
  * per-batch versioning, restart/replay exactly-once, the append-only
  * output-mode contract, stats declaration through the sink, and the full
  * store-to-store streaming pipeline (graft-changes source → graft-snapshot
  * sink).
  */
class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_sink_$tag").toString + "/st"

  private def ck(tag: String): String =
    Files.createTempDirectory(s"graft_sink_ck_$tag").toString

  /** 3 key-disjoint chunk files under one directory (1 per micro-batch). */
  private def chunkDir(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_sink_in_$tag").toString
    (0 until 3).foreach { c =>
      (0 until 4).map(i => (c * 100L + i, s"p${i % 2}", (c * 100 + i) * 1.0))
        .toDF("k", "p", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/chunk-$c")
    }
    dir
  }

  private def runSink(in: String, store: String, checkpoint: String,
                      extra: Map[String, String] = Map.empty): Unit = {
    val sch = spark.read.parquet(s"$in/chunk-0").schema
    val w = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
      .parquet(s"$in/chunk-*")
      .writeStream.format(classOf[SnapshotSinkProvider].getName)
      .option("path", store).option("partCol", "p")
      .option("checkpointLocation", checkpoint)
    val q = extra.foldLeft(w) { case (x, (k, v)) => x.option(k, v) }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("auto-init + one version per micro-batch + exact content; v1 is " +
    "EMPTY (batch 0 flows through the keyed append, never a seed write)") {
    val (in, store) = (chunkDir("e2e"), newDir("e2e"))
    runSink(in, store, ck("e2e"))
    assert(SnapshotStore.headVersion(spark, store).contains(4),
      "init v1 + 3 appended batches")
    assert(SnapshotStore.read(spark, store, Some(1)).count() == 0,
      "v1 is the empty init — no unkeyed seed batch")
    val got = SnapshotStore.read(spark, store).select("k", "p", "v")
      .as[(Long, String, Double)].collect().toSet
    val want = (0 until 3).flatMap(c => (0 until 4).map(i =>
      (c * 100L + i, s"p${i % 2}", (c * 100 + i) * 1.0))).toSet
    assert(got == want)
  }

  test("restart on the same checkpoint appends nothing new; a direct " +
    "addBatch replay of a committed batch no-ops") {
    val (in, store) = (chunkDir("replay"), newDir("replay"))
    val c = ck("replay")
    runSink(in, store, c)
    val head = SnapshotStore.headVersion(spark, store)
    runSink(in, store, c) // restart: all batches already committed
    assert(SnapshotStore.headVersion(spark, store) == head,
      "restart must not commit new versions")
    // direct replay injection: same ingest scope + batchId = no-op
    val sink = new SnapshotSinkProvider().createSink(spark.sqlContext,
      Map("path" -> store, "partCol" -> "p", "checkpointLocation" -> c),
      Nil, org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0, spark.read.parquet(s"$in/chunk-0"))
    assert(SnapshotStore.headVersion(spark, store) == head,
      "replayed batch 0 must no-op against its pinned gen")
    assert(SnapshotStore.read(spark, store).count() == 12, "no duplicates")
  }

  test("statsCols declared through the sink: every appended gen carries " +
    "bounds, readWhere skips to the overlapping chunk") {
    val (in, store) = (chunkDir("stats"), newDir("stats"))
    runSink(in, store, ck("stats"), Map("statsCols" -> "k"))
    val got = SnapshotStore.readWhere(spark, store,
      col("k") >= 100L && col("k") < 200L)
    assert(got.count() == 4)
    val gens = got.inputFiles.flatMap(_.split("/data/").lift(1))
      .map(_.split("/").head).toSet
    assert(gens.size == 1,
      s"mid-chunk predicate must open exactly one of 3 gens, got $gens")
  }

  test("contract violations are loud: missing path/partCol/ingest scope, " +
    "non-append output mode") {
    val provider = new SnapshotSinkProvider()
    intercept[IllegalArgumentException] {
      provider.createSink(spark.sqlContext, Map("partCol" -> "p"),
        Nil, org.apache.spark.sql.streaming.OutputMode.Append())
        .asInstanceOf[Object] // createSink constructs eagerly
    }
    intercept[IllegalArgumentException] {
      provider.createSink(spark.sqlContext,
        Map("path" -> "/tmp/x", "partCol" -> "p"),
        Nil, org.apache.spark.sql.streaming.OutputMode.Append())
    }
    intercept[IllegalArgumentException] {
      provider.createSink(spark.sqlContext,
        Map("path" -> "/tmp/x", "partCol" -> "p", "ingestId" -> "i"),
        Nil, org.apache.spark.sql.streaming.OutputMode.Complete())
    }
  }

  test("STREAMING WAP: the branch option stages every micro-batch on a " +
    "branch (head untouched), restart/replay no-ops on the branch's " +
    "pinned gens, publish lands the whole streamed corpus atomically") {
    val (in, store) = (chunkDir("wap"), newDir("wap"))
    val checkpoint = ck("wap")
    runSink(in, store, checkpoint, Map("branch" -> "cand"))
    assert(SnapshotStore.headVersion(spark, store).contains(1),
      "branch mode: the auto-inited empty v1 is the ONLY main commit")
    assert(SnapshotStore.read(spark, store).count() == 0)
    val audit = SnapshotStore.read(spark, store, target = Dml.Branch("cand"))
    assert(audit.count() == 12, "3 chunks x 4 rows staged")
    assert(SnapshotStore.branches(spark, store) == Map("cand" -> 3))
    // restart on the same checkpoint: nothing new, nothing duplicated
    runSink(in, store, checkpoint, Map("branch" -> "cand"))
    assert(SnapshotStore.read(spark, store,
      target = Dml.Branch("cand")).count() == 12)
    assert(SnapshotStore.branches(spark, store) == Map("cand" -> 3),
      "a replayed run must not advance the branch")
    // direct addBatch replay (the engine's crash-redelivery shape)
    val provider = new graft.streaming.SnapshotSinkProvider()
    val sink = provider.createSink(spark.sqlContext,
      Map("path" -> store, "partCol" -> "p", "branch" -> "cand",
        "checkpointLocation" -> checkpoint),
      Nil, org.apache.spark.sql.streaming.OutputMode.Append())
    sink.asInstanceOf[graft.streaming.SnapshotSink].addBatch(1,
      spark.read.parquet(s"$in/chunk-1"))
    assert(SnapshotStore.read(spark, store,
      target = Dml.Branch("cand")).count() == 12,
      "a redelivered batch no-ops on the branch's pinned gen")
    // the WAP decision: publish — the streamed corpus lands as ONE commit
    val v = SnapshotStore.publishBranch(spark, store, "cand")
    assert(v == 2)
    val head = SnapshotStore.read(spark, store)
    assert(head.count() == 12)
    assert(head.select("k").as[Long].collect().sorted.toSeq ==
      (0 until 3).flatMap(c => (0 until 4).map(i => c * 100L + i)).sorted)
  }

  test("STREAMING WAP under a LIVE main line: main ingests while the " +
    "stream stages, the plain publish refuses, publishBranchRebased " +
    "lands the streamed corpus in one rebase+publish — the full loop " +
    "the reference's never-stopping pipeline needs") {
    val (in, store) = (chunkDir("wapreb"), newDir("wapreb"))
    runSink(in, store, ck("wapreb"), Map("branch" -> "cand"))
    // main-line ingest lands AFTER the fork (a disjoint partition, the
    // usual time/tenant-sliced shape) — the WAP reality
    SnapshotStore.append(
      Seq((9000L, "m0", 1.0), (9001L, "m0", 2.0)).toDF("k", "p", "v"),
      store, "p")
    intercept[IllegalStateException](
      SnapshotStore.publishBranch(spark, store, "cand"))
    val v = SnapshotStore.publishBranchRebased(spark, store, "cand")
    assert(v == 3, "rebase onto v2, publish as v3")
    val head = SnapshotStore.read(spark, store)
    assert(head.count() == 14, "12 streamed + 2 main-line rows")
    assert(head.filter(col("p") === "m0").count() == 2 &&
      SnapshotStore.branches(spark, store).isEmpty)
  }

  test("concurrent-streams soak (seeded): two graft-snapshot sinks with " +
    "distinct ingest scopes, a LIVE graft-changes reader, and background " +
    "compact/expire churn — no duplicate rows, no loss, exact reader " +
    "delivery, nobody wedges") {
    val store = newDir("soak2")
    // disjoint key spaces per writer (append's new-keys-only contract
    // must hold GLOBALLY across both sinks)
    def inputs(tag: String, writer: Int): String = {
      val dir = Files.createTempDirectory(s"graft_sink_in_$tag").toString
      (0 until 4).foreach { c =>
        (0 until 25).map { i =>
          val k = (writer + 1) * 100000L + c * 100L + i
          (k, s"p${i % 3}", k * 1.0)
        }.toDF("k", "p", "v").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/chunk-$c")
      }
      dir
    }
    val (inA, inB) = (inputs("soakA", 0), inputs("soakB", 1))
    val expected = (for (w <- 0 to 1; c <- 0 until 4; i <- 0 until 25)
      yield (w + 1) * 100000L + c * 100L + i).toSet
    // pre-init so the reader can open before the first sink batch lands
    val sch = spark.read.parquet(s"$inA/chunk-0").schema
    SnapshotStore.init(spark, store, sch, partCol = Some("p"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val readerCk = ck("soakrd")
    def drainOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[graft.streaming.ChangesSourceProvider].getName)
        .option("path", store).option("keys", "k")
        .option("startingVersion", "0")
        .load()
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          b.select("_commit_version", "k").collect()
            .foreach(r => seen.add((r.getInt(0), r.getLong(1))))
        }
        .option("checkpointLocation", readerCk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // background maintenance churn: CAS losses against the live sinks are
    // the contention under test, not failures
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churnFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val churn = new Thread(() => {
      while (!stop.get()) {
        try {
          SnapshotStore.compactPartitions(spark, store, "p")
          // generous keep: the retention >= reader-lag contract, held;
          // the positive floor keeps in-flight sink gens safe
          SnapshotStore.expire(spark, store, keep = 50, minAgeMs = 60000L)
        } catch {
          case _: java.util.ConcurrentModificationException => ()
          case t: Throwable => churnFailure.set(t); stop.set(true)
        }
        Thread.sleep(50)
      }
    })
    churn.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fa = pool.submit(new Runnable {
      def run(): Unit = runSink(inA, store, ck("soakA")) })
    val fb = pool.submit(new Runnable {
      def run(): Unit = runSink(inB, store, ck("soakB")) })
    try {
      while (!fa.isDone || !fb.isDone) drainOnce() // reader races the writers
      fa.get(); fb.get() // sink failures surface loudly
    } finally { stop.set(true); churn.join(); pool.shutdown() }
    assert(churnFailure.get() == null,
      s"maintenance churn died: ${churnFailure.get()}")
    drainOnce() // final catch-up over the settled store
    // store invariants: every key exactly once, nothing lost
    val headKeys = SnapshotStore.read(spark, store)
      .select("k").as[Long].collect().toSeq
    assert(headKeys.size == 200 && headKeys.distinct.size == 200,
      "idempotency scopes must not collide and appends must not duplicate")
    assert(headKeys.toSet == expected)
    // reader invariants: exact delivery (no loss, no duplicate delivery
    // across the interleaved drains; compaction versions diff EMPTY so
    // churn adds no rows)
    import scala.jdk.CollectionConverters._
    val delivered = seen.iterator().asScala.toSeq
    assert(delivered.map(_._2).toSet == expected, "reader must see every row")
    assert(delivered.size == delivered.distinct.size &&
      delivered.map(_._2).distinct.size == 200,
      "reader must see every row exactly once (committed batches are " +
        "never re-delivered across drains)")
  }

  test("a partCol that does not resolve to the store's recorded partition " +
    "column fails fast — a restart (or second stream) configured " +
    "differently must not interleave a second partition-key domain") {
    val (in, store) = (chunkDir("pc"), newDir("pc"))
    runSink(in, store, ck("pc")) // store recorded with partCol = p
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val sch = spark.read.parquet(s"$in/chunk-0").schema
      val q = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(s"$in/chunk-*")
        .writeStream.format(classOf[SnapshotSinkProvider].getName)
        .option("path", store).option("partCol", "v") // wrong column
        .option("checkpointLocation", ck("pc2"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("recorded partition column")),
      s"expected the partCol guard, got: $e")
    assert(SnapshotStore.headVersion(spark, store).contains(4),
      "the guard must fire BEFORE any mis-partitioned gen is appended")
    // the guard maps through the logical-name layer: after a rename the
    // CURRENT logical name passes, the old physical name also passes
    // (physical names never change), an unrelated column still fails
    SnapshotStore.renameColumn(spark, store, "p", "part")
    SnapshotStore.requirePartCol(spark, store, "part")
    intercept[IllegalArgumentException] {
      SnapshotStore.requirePartCol(spark, store, "v")
    }
  }

  test("store-to-store streaming pipeline: graft-changes source over " +
    "store A drains through the graft-snapshot sink into store B; " +
    "B reproduces A exactly") {
    val a = newDir("pipeA"); val b = newDir("pipeB")
    SnapshotStore.write(
      (0L until 4L).map(k => (k, s"p${k % 2}", k * 1.0)).toDF("k", "p", "v"),
      a, "p")
    SnapshotStore.append(
      (100L until 104L).map(k => (k, s"p${k % 2}", k * 1.0))
        .toDF("k", "p", "v"), a, "p")
    SnapshotStore.append(
      (200L until 204L).map(k => (k, s"p${k % 2}", k * 1.0))
        .toDF("k", "p", "v"), a, "p")
    val q = spark.readStream.format(classOf[ChangesSourceProvider].getName)
      .option("path", a).option("keys", "k")
      .option("startingVersion", "0").option("maxVersionsPerTrigger", "1")
      .load()
      .filter(col("_change_type") === "insert")
      .select("k", "p", "v")
      .writeStream.format("graft-snapshot")
      .option("path", b).option("partCol", "p")
      .option("checkpointLocation", ck("pipe"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def rows(dir: String) = SnapshotStore.read(spark, dir)
      .select("k", "p", "v").as[(Long, String, Double)].collect().toSet
    assert(rows(b) == rows(a), "the replicated store must equal the source")
  }
}
