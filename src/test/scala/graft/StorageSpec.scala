package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.storage.LogTableWriter
import graft.streaming.Ingest

/** R11 layout: partitioned+sorted parquet behaves like the MergeTree DDL —
  * daily directories, pruned scans, within-partition time order.
  */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  private val lines = Seq(
    """127.0.0.1 - - [06/Apr/2020:09:54:48 -0400] "GET / HTTP/1.1" 200 612 "-" "curl/7.29.0" "-"""",
    """10.0.0.1 - - [06/Apr/2020:10:00:00 -0400] "GET /a HTTP/1.1" 200 100 "-" "c" "-"""",
    """10.0.0.2 - - [07/Apr/2020:09:00:00 -0400] "GET /b HTTP/1.1" 404 50 "-" "c" "-"""",
    """10.0.0.3 - - [08/Apr/2020:09:00:00 -0400] "GET /c HTTP/1.1" 200 75 "-" "c" "-"""")

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_store").toString
    LogTableWriter.write(graft.operators.AccessLog.project(lines.toDF("line")), d)
    d
  }

  test("write produces Hive-style daily partition directories (≈ toYYYYMMDD)") {
    val parts = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("logdate=")).sorted
    assert(parts.toSeq == Seq("logdate=2020-04-06", "logdate=2020-04-07",
      "logdate=2020-04-08"))
  }

  test("time-filtered query partition-prunes the scan (explain check)") {
    val q = LogTableWriter.read(spark, dir)
      .filter(col("logdate") === "2020-04-07")
    val plan = q.queryExecution.executedPlan.toString
    // only one of three partitions survives pruning
    assert(q.count() == 1)
    assert(q.queryExecution.optimizedPlan.toString.contains("logdate") ||
      plan.contains("PartitionFilters"))
    assert(plan.contains("PartitionFilters: [isnotnull(logdate"),
      s"no partition filter in plan:\n$plan")
  }

  test("rows are clustered by logdatetime within each partition (sparse-index analog)") {
    val ts = LogTableWriter.read(spark, dir)
      .filter(col("logdate") === "2020-04-06")
      .select(col("logdatetime").cast("long")).as[Long].collect()
    assert(ts.sameElements(ts.sorted))
  }

  test("round-trip preserves the 16-column schema + additions") {
    val back = LogTableWriter.read(spark, dir)
    val want = Tables.accessLogSchema.fields.map(_.name).toSet
    assert(want.subsetOf(back.schema.fields.map(_.name).toSet))
  }

  test("compact merges streaming small files and preserves content + layout") {
    val tmp = Files.createTempDirectory("graft_compact").toString
    // simulate 5 micro-batch appends → many small files per partition
    val one = graft.operators.AccessLog.project(lines.toDF("line"))
    (1 to 5).foreach(_ => one.write.mode("append")
      .partitionBy("logdate").parquet(tmp))
    val before = LogTableWriter.read(spark, tmp).orderBy("clientip", "logdatetime")
      .drop("logdate").collect()
    // count every parquet file for the day across root AND the active
    // generation dir — the compaction contract is about the whole view
    def filesPerDay(p: String): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .count(q => q.toString.contains("logdate=2020-04-06") &&
          q.toString.endsWith(".parquet"))
    }
    assert(filesPerDay(tmp) >= 5)
    LogTableWriter.compact(spark, tmp)
    assert(filesPerDay(tmp) == 1, "partition not compacted to one file")
    val after = LogTableWriter.read(spark, tmp).orderBy("clientip", "logdatetime")
      .drop("logdate").collect()
    assert(after.sameElements(before))
  }

  test("compact rescues files appended concurrently (no data loss)") {
    val tmp = Files.createTempDirectory("graft_compact_race").toString
    val one = graft.operators.AccessLog.project(lines.toDF("line"))
    (1 to 3).foreach(_ => one.write.mode("append")
      .partitionBy("logdate").parquet(tmp))
    val baseline = LogTableWriter.read(spark, tmp).count()
    // a concurrent micro-batch lands AFTER the compaction read, before the
    // swap — the exact window the listing diff protects
    LogTableWriter.compact(spark, tmp, beforeSwap = () =>
      one.write.mode("append").partitionBy("logdate").parquet(tmp))
    val after = LogTableWriter.read(spark, tmp).count()
    assert(after == baseline + one.count(),
      s"concurrent append lost by compaction: $after vs ${baseline + one.count()}")
  }

  test("readers mid-compaction always see the complete view (manifest flip)") {
    val tmp = Files.createTempDirectory("graft_compact_reader").toString
    val one = graft.operators.AccessLog.project(lines.toDF("line"))
    (1 to 3).foreach(_ => one.write.mode("append")
      .partitionBy("logdate").parquet(tmp))
    def view(): Array[org.apache.spark.sql.Row] =
      LogTableWriter.read(spark, tmp)
        .orderBy("clientip", "logdatetime").drop("logdate").collect()
    val before = view()
    // a reader in the window AFTER the new generation is fully written but
    // BEFORE its manifest lands must resolve the complete OLD view — under
    // the old two-rename swap this window read an absent/partial store
    var mid: Array[org.apache.spark.sql.Row] = null
    LogTableWriter.compact(spark, tmp, beforeSwap = () => mid = view())
    assert(mid.sameElements(before), "reader during compaction saw a partial view")
    assert(view().sameElements(before), "view changed across the manifest flip")
    // second compaction exercises the same window with a PREVIOUS manifest
    // active (gen-2 written, manifest-1 still the committed truth)
    one.write.mode("append").partitionBy("logdate").parquet(tmp)
    val before2 = view()
    var mid2: Array[org.apache.spark.sql.Row] = null
    LogTableWriter.compact(spark, tmp, beforeSwap = () => mid2 = view())
    assert(mid2.sameElements(before2), "reader during re-compaction saw a partial view")
    assert(view().sameElements(before2))
  }

  test("two interleaved compactions: one winner, loser aborts + GCs its orphan") {
    val tmp = Files.createTempDirectory("graft_compact_cas").toString
    val one = graft.operators.AccessLog.project(lines.toDF("line"))
    (1 to 3).foreach(_ => one.write.mode("append")
      .partitionBy("logdate").parquet(tmp))
    val before = LogTableWriter.read(spark, tmp)
      .orderBy("clientip", "logdatetime").drop("logdate").collect()
    // the outer compactor fully writes its generation, then — before its
    // manifest CAS — a second compactor runs start-to-finish and commits.
    // The outer CAS must lose: abort loudly, remove its orphan generation.
    val lost = intercept[java.util.ConcurrentModificationException] {
      LogTableWriter.compact(spark, tmp, beforeSwap = () =>
        LogTableWriter.compact(spark, tmp))
    }
    assert(lost.getMessage.contains("lost the commit race"))
    // exactly one committed manifest and exactly one generation dir survive
    val names = new java.io.File(tmp).listFiles().map(_.getName)
    assert(names.count(_.matches("_manifest-\\d+")) == 1,
      s"expected one manifest: ${names.toSeq}")
    assert(names.count(_.startsWith("gen-")) == 1,
      s"loser's orphan generation not GC'd: ${names.toSeq}")
    assert(names.count(_.endsWith(".tmp")) == 0, "stray tmp manifest left")
    // and the surviving store reads the complete, duplicate-free view
    val after = LogTableWriter.read(spark, tmp)
      .orderBy("clientip", "logdatetime").drop("logdate").collect()
    assert(after.sameElements(before), "store corrupted by the lost race")
    // a retry against the new view then succeeds and advances the generation
    LogTableWriter.compact(spark, tmp)
    val names2 = new java.io.File(tmp).listFiles().map(_.getName)
    assert(names2.count(_.matches("_manifest-\\d+")) == 1 &&
      names2.exists(_.startsWith("_manifest-2")))
    assert(LogTableWriter.read(spark, tmp)
      .orderBy("clientip", "logdatetime").drop("logdate").collect()
      .sameElements(before))
  }

  test("expire drops partitions older than the cutoff (DROP PARTITION/TTL)") {
    val tmp = Files.createTempDirectory("graft_expire").toString
    val one = graft.operators.AccessLog.project(lines.toDF("line"))
    (1 to 2).foreach(_ => one.write.mode("append")
      .partitionBy("logdate").parquet(tmp))
    assert(LogTableWriter.read(spark, tmp).count() == 8)
    LogTableWriter.expire(spark, tmp, java.time.LocalDate.parse("2020-04-07"))
    val kept = LogTableWriter.read(spark, tmp)
    assert(kept.count() == 4, "2020-04-06 rows must be gone")
    assert(kept.select("logdate").distinct().collect().map(_.get(0).toString)
      .sorted.toSeq == Seq("2020-04-07", "2020-04-08"))
    // the expired day's bytes are GC'd, not just hidden
    import scala.jdk.CollectionConverters._
    val leftover = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      .iterator().asScala.count(p => p.toString.contains("logdate=2020-04-06") &&
        p.toString.endsWith(".parquet"))
    assert(leftover == 0, "expired partition files must be deleted")
    // expiring everything still leaves a readable (empty) store
    LogTableWriter.expire(spark, tmp, java.time.LocalDate.parse("2030-01-01"))
    assert(LogTableWriter.read(spark, tmp).count() == 0)
  }

  test("readRange opens only generation files overlapping the time window") {
    val tmp = Files.createTempDirectory("graft_range").toString
    // one day, 960 rows 90s apart → compacted at 240 rows/file = 4 files,
    // each a contiguous ~6h slice (write sorts within the day partition)
    val rows = (0 until 960).map { i =>
      (java.sql.Date.valueOf("2020-04-06"),
        java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2020, 4, 6, 0, 0, 0).plusSeconds(i * 90L)),
        i.toLong)
    }.toDF("logdate", "logdatetime", "v")
    rows.write.mode("append").partitionBy("logdate").parquet(tmp)
    LogTableWriter.compact(spark, tmp, maxRecordsPerFile = 240)
    val all = LogTableWriter.read(spark, tmp)
    assert(all.inputFiles.length == 4, s"expected 4 files: ${all.inputFiles.toSeq}")
    val from = java.sql.Timestamp.valueOf("2020-04-06 06:30:00")
    val to = java.sql.Timestamp.valueOf("2020-04-06 08:30:00")
    val ranged = LogTableWriter.readRange(spark, tmp, from, to)
    // file skipping at PLANNING: one of the four 6h slices overlaps 06:30-08:30
    assert(ranged.inputFiles.length == 1,
      s"expected 1 overlapping file, opened: ${ranged.inputFiles.toSeq}")
    // and the result is exact (same rows the plain filtered view returns)
    val want = all.filter(col("logdatetime") >= lit(from) &&
      col("logdatetime") <= lit(to)).select("v").as[Long].collect().sorted
    assert(ranged.select("v").as[Long].collect().sorted.sameElements(want))
    assert(want.length == 81) // inclusive 2h window at 90s spacing
    // a window beyond every file reads empty without error
    assert(LogTableWriter.readRange(spark, tmp,
      java.sql.Timestamp.valueOf("2021-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2021-01-02 00:00:00")).count() == 0)
  }

  test("readRange skips non-overlapping TAIL files on an uncompacted store") {
    val tmp = Files.createTempDirectory("graft_range_tail").toString
    // four appends, each a contiguous 6h slice of one day — the append-heavy
    // window between compactions that r6 left unpruned
    (0 until 4).foreach { q =>
      val rows = (0 until 240).map { i =>
        (java.sql.Date.valueOf("2020-04-06"),
          java.sql.Timestamp.valueOf(java.time.LocalDateTime
            .of(2020, 4, 6, 0, 0, 0).plusSeconds(q * 21600L + i * 90L)),
          (q * 240 + i).toLong)
      }.toDF("logdate", "logdatetime", "v")
      LogTableWriter.append(rows, tmp)
    }
    val all = LogTableWriter.read(spark, tmp)
    assert(all.inputFiles.length == 4 && all.count() == 960)
    val from = java.sql.Timestamp.valueOf("2020-04-06 06:30:00")
    val to = java.sql.Timestamp.valueOf("2020-04-06 08:30:00")
    val ranged = LogTableWriter.readRange(spark, tmp, from, to)
    assert(ranged.inputFiles.length == 1,
      s"expected 1 overlapping tail file, opened: ${ranged.inputFiles.toSeq}")
    val want = all.filter(col("logdatetime") >= lit(from) &&
      col("logdatetime") <= lit(to)).select("v").as[Long].collect().sorted
    assert(ranged.select("v").as[Long].collect().sorted.sameElements(want))
    assert(want.length == 81)
    // beyond every file: zero files opened, empty result, schema intact
    val none = LogTableWriter.readRange(spark, tmp,
      java.sql.Timestamp.valueOf("2021-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2021-01-02 00:00:00"))
    assert(none.count() == 0 && none.columns.contains("v"))
  }

  test("appended-then-compacted store prunes generation AND fresh tail files") {
    val tmp = Files.createTempDirectory("graft_range_mixed").toString
    def slice(day: String, startH: Int): org.apache.spark.sql.DataFrame =
      (0 until 240).map { i =>
        (java.sql.Date.valueOf(day),
          java.sql.Timestamp.valueOf(java.time.LocalDateTime
            .parse(day + "T00:00:00").plusSeconds(startH * 3600L + i * 90L)),
          (startH * 240 + i).toLong)
      }.toDF("logdate", "logdatetime", "v")
    // two slices get compacted into the generation...
    LogTableWriter.append(slice("2020-04-06", 0), tmp)
    LogTableWriter.append(slice("2020-04-06", 6), tmp)
    LogTableWriter.compact(spark, tmp, maxRecordsPerFile = 240)
    // ...then two more land as the un-compacted tail (later hours)
    LogTableWriter.append(slice("2020-04-06", 12), tmp)
    LogTableWriter.append(slice("2020-04-06", 18), tmp)
    assert(LogTableWriter.read(spark, tmp).count() == 960)
    // a window inside the THIRD slice: one tail file, zero generation files
    val ranged = LogTableWriter.readRange(spark, tmp,
      java.sql.Timestamp.valueOf("2020-04-06 12:30:00"),
      java.sql.Timestamp.valueOf("2020-04-06 14:30:00"))
    assert(ranged.inputFiles.length == 1,
      s"expected 1 file (tail slice), opened: ${ranged.inputFiles.toSeq}")
    assert(ranged.count() == 81)
    // the dead sidecars were GC'd by compact; the live tail's survive
    val sidecars = new java.io.File(tmp).listFiles()
      .map(_.getName).filter(_.startsWith("_tailstats-"))
    assert(sidecars.length == 2, s"tail sidecars after compact: ${sidecars.toSeq}")
  }

  test("tail-stats GC: a sidecar whose files were absorbed across TWO " +
    "compactions is deleted once no entry is live") {
    val tmp = Files.createTempDirectory("graft_tailgc").toString
    def slice(startH: Int): org.apache.spark.sql.DataFrame =
      (0 until 60).map { i =>
        (java.sql.Date.valueOf("2020-04-06"),
          java.sql.Timestamp.valueOf(java.time.LocalDateTime
            .of(2020, 4, 6, 0, 0, 0).plusSeconds(startH * 3600L + i * 30L)),
          (startH * 60 + i).toLong)
      }.toDF("logdate", "logdatetime", "v")
    LogTableWriter.append(slice(0), tmp)
    LogTableWriter.compact(spark, tmp)
    LogTableWriter.append(slice(6), tmp)
    // a sidecar from an append whose listing a prior compaction split:
    // names one file absorbed back then (now dead) and nothing live — the
    // absorbedNow-only GC kept these forever, re-read by every readRange
    Files.write(java.nio.file.Paths.get(tmp, "_tailstats-orphan"),
      "logdate=2020-04-06/part-dead.parquet\t0\t1\n".getBytes("UTF-8"))
    // and one that still names a live tail file → must survive
    val live = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("_tailstats-"))
      .filterNot(_.getName == "_tailstats-orphan").head
    val liveRel = new String(Files.readAllBytes(live.toPath), "UTF-8")
      .linesIterator.next().split("\t").head
    Files.write(java.nio.file.Paths.get(tmp, "_tailstats-halflive"),
      (s"$liveRel\t0\t1\nlogdate=2020-04-06/part-dead2.parquet\t0\t1\n")
        .getBytes("UTF-8"))
    LogTableWriter.compact(spark, tmp) // absorbs slice 6
    // under the absorbedNow-only GC both fabricated sidecars survived
    // forever: each names a file outside THIS compaction's absorb set.
    // With the live-listing GC, no entry is live → both deleted.
    val names = new java.io.File(tmp).listFiles()
      .map(_.getName).filter(_.startsWith("_tailstats-")).toSeq
    assert(!names.contains("_tailstats-orphan"),
      s"dead-entry sidecar survived compaction: $names")
    assert(!names.contains("_tailstats-halflive"),
      s"sidecar absorbed across compactions survived: $names")
    // the store still reads exactly
    assert(LogTableWriter.read(spark, tmp).count() == 120)
  }

  test("overlapping micros pins are ref-counted: an inner release never " +
    "restores INT96 under an outer in-flight write") {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try {
      val df = Seq((java.sql.Date.valueOf("2020-04-06"),
        java.sql.Timestamp.valueOf("2020-04-06 00:00:00"), 1L))
        .toDF("logdate", "logdatetime", "v")
      // nested = deterministic overlap of two pin lifetimes (what two
      // concurrent write/append calls produce): under plain set/restore
      // the inner's finally flips the session back to INT96 while the
      // outer write is still in flight → stat-less files, skipping lost
      LogTableWriter.withMicrosTimestamps(df) {
        assert(spark.conf.get(key) == "TIMESTAMP_MICROS")
        LogTableWriter.withMicrosTimestamps(df) {
          assert(spark.conf.get(key) == "TIMESTAMP_MICROS")
        }
        assert(spark.conf.get(key) == "TIMESTAMP_MICROS",
          "inner pin release restored the session default under the outer pin")
      }
      assert(spark.conf.get(key) == "INT96") // last release restores
    } finally spark.conf.set(key, prev)
  }

  test("file skipping survives an INT96 session default (writer pins micros)") {
    // INT96 parquet timestamps carry NO column min/max — under a session
    // that defaults to INT96 the stats sidecars would silently never be
    // written and every skipping tier would vanish (a 300-day store opened
    // all ~4k files in the 10x probe). The writer pins TIMESTAMP_MICROS
    // around its own writes regardless of session config.
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try {
      val tmp = Files.createTempDirectory("graft_range_int96").toString
      (0 until 2).foreach { q =>
        val rows = (0 until 240).map { i =>
          (java.sql.Date.valueOf("2020-04-06"),
            java.sql.Timestamp.valueOf(java.time.LocalDateTime
              .of(2020, 4, 6, 0, 0, 0).plusSeconds(q * 43200L + i * 90L)),
            (q * 240 + i).toLong)
        }.toDF("logdate", "logdatetime", "v")
        LogTableWriter.append(rows, tmp)
      }
      assert(spark.conf.get(key) == "INT96") // restored after each write
      val ranged = LogTableWriter.readRange(spark, tmp,
        java.sql.Timestamp.valueOf("2020-04-06 01:00:00"),
        java.sql.Timestamp.valueOf("2020-04-06 03:00:00"))
      assert(ranged.inputFiles.length == 1,
        s"INT96 session disabled tail skipping: ${ranged.inputFiles.toSeq}")
      assert(ranged.count() == 81)
    } finally spark.conf.set(key, prev)
  }

  test("readRange on an uncompacted store falls back to the exact plain view") {
    val tmp = Files.createTempDirectory("graft_range_plain").toString
    val one = graft.operators.AccessLog.project(lines.toDF("line"))
    one.write.mode("append").partitionBy("logdate").parquet(tmp)
    val from = java.sql.Timestamp.valueOf("2020-04-06 13:54:48")
    val to = java.sql.Timestamp.valueOf("2020-04-07 23:59:59")
    val got = LogTableWriter.readRange(spark, tmp, from, to)
    val want = LogTableWriter.read(spark, tmp)
      .filter(col("logdatetime") >= lit(from) && col("logdatetime") <= lit(to))
    assert(got.count() == want.count() && got.count() > 0)
  }

  test("additive schema evolution: evolved appends read and compact cleanly") {
    val tmp = Files.createTempDirectory("graft_evolve").toString
    // `lines` (6-8 Apr) moved to start on day `d`, one day per line date
    def daysFrom(d: Int) = graft.operators.AccessLog.project(lines.map(l =>
      Seq(6, 7, 8).foldLeft(l)((s, k) =>
        s.replace(f"[$k%02d/", f"[${d + k - 6}%02d/"))).toDF("line"))
    val one = daysFrom(6)
    LogTableWriter.append(one, tmp)
    // the reference's evolution contract (README.md:49): new columns append
    // at the end; old rows must read them as NULL
    LogTableWriter.append(daysFrom(10).withColumn("geo_country", lit("US")), tmp)
    // At every stage the view's schema, unranged and under each window,
    // equals what Spark's own mergeSchema inference gives the view's files
    // (one read per base dir, composed as the view composes them). Each
    // window covers one append's days, so every stage has a window that
    // skips every tail file and one that overlaps no generation file, and
    // before compaction `apr7` keeps only pre-evolution tail files.
    val windows = Seq(("07", "07"), ("10", "12"), ("14", "16")).map {
      case (a, b) => (java.sql.Timestamp.valueOf(s"2020-04-$a 00:00:00"),
        java.sql.Timestamp.valueOf(s"2020-04-$b 23:59:59")) }
    def ranged(w: Int) =
      LogTableWriter.readRange(spark, tmp, windows(w)._1, windows(w)._2)
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))
    def assertInferredSchema(): Unit = {
      val files = Files.walk(java.nio.file.Paths.get(tmp)).toArray.toSeq
        .map(_.toString).filter(f => f.endsWith(".parquet") && !f.contains("/."))
      val (gen, tail) = files.partition(_.contains("/gen-"))
      def merged(fs: Seq[String], base: String) = spark.read
        .option("mergeSchema", "true").option("basePath", base).parquet(fs: _*)
      val want = (gen, tail) match {
        case (Seq(), t) => merged(t, tmp)
        case (g, Seq()) => merged(g, g.head.take(g.head.indexOf("/logdate=")))
        case (g, t) => merged(g, g.head.take(g.head.indexOf("/logdate=")))
          .unionByName(merged(t, tmp), allowMissingColumns = true)
      }
      (LogTableWriter.read(spark, tmp) +: windows.indices.map(ranged))
        .foreach(v => assert(fields(v.schema) == fields(want.schema)))
    }
    val before = LogTableWriter.read(spark, tmp)
    assert(before.columns.contains("geo_country"))
    assert(before.filter(col("geo_country").isNull).count() == one.count())
    assert(before.filter(col("geo_country") === "US").count() == one.count())
    assertInferredSchema()
    // compaction rewrites the union schema into the new generation...
    LogTableWriter.compact(spark, tmp)
    val mid = LogTableWriter.read(spark, tmp)
    assert(mid.count() == 2 * one.count() &&
      mid.columns.contains("geo_country"))
    assertInferredSchema()
    // ...and a PRE-evolution-shaped append arriving later still reads
    LogTableWriter.append(daysFrom(14), tmp)
    val after = LogTableWriter.read(spark, tmp)
    assert(after.count() == 3 * one.count())
    assert(after.filter(col("geo_country").isNull).count() == 2 * one.count())
    assert(Seq(0, 1).forall(w =>
      ranged(w).inputFiles.forall(_.contains("/gen-"))))
    assert(ranged(2).inputFiles.forall(!_.contains("/gen-")))
    assertInferredSchema()
  }

  test("read and readRange plan without launching a Spark job") {
    val tmp = Files.createTempDirectory("graft_plan_jobs").toString
    def slice(startH: Int): org.apache.spark.sql.DataFrame =
      (0 until 240).map { i =>
        (java.sql.Date.valueOf("2020-04-06"),
          java.sql.Timestamp.valueOf(java.time.LocalDateTime
            .of(2020, 4, 6, 0, 0, 0).plusSeconds(startH * 3600L + i * 90L)),
          (startH * 240 + i).toLong)
      }.toDF("logdate", "logdatetime", "v")
    LogTableWriter.append(slice(0), tmp)
    LogTableWriter.append(slice(6), tmp)
    LogTableWriter.compact(spark, tmp, maxRecordsPerFile = 240)
    LogTableWriter.append(slice(12), tmp)
    LogTableWriter.append(slice(18), tmp)
    assert(new java.io.File(tmp).listFiles()
      .count(_.getName.startsWith("_tailstats-")) == 2)
    def window(from: String, to: String) = LogTableWriter.readRange(spark,
      tmp, java.sql.Timestamp.valueOf(from), java.sql.Timestamp.valueOf(to))
    // Planning builds the DataFrames only: no action runs. Schema inference
    // would launch one job per relation; footers read on the driver none.
    val jobs = jobsLaunchedBy {
      window("2020-04-06 07:00:00", "2020-04-06 13:00:00") // gen + tail file
      window("2020-04-06 13:00:00", "2020-04-06 14:00:00") // tail only
      window("2020-04-06 01:00:00", "2020-04-06 02:00:00") // gen only
      window("2021-01-01 00:00:00", "2021-01-02 00:00:00") // nothing
      LogTableWriter.read(spark, tmp)
    }
    assert(jobs == 0, s"planning launched $jobs Spark job(s)")
    // and the planned reads are still exact
    assert(window("2020-04-06 07:00:00", "2020-04-06 13:00:00").count() == 241)
    assert(LogTableWriter.read(spark, tmp).count() == 960)
  }

  test("compact removes the day directories it empties; a concurrently " +
    "appended day survives and later appends read back") {
    val tmp = Files.createTempDirectory("graft_compact_dirs").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def row(day: String, v: Long) = Seq((java.sql.Date.valueOf(day),
      ts(s"$day 12:00:00"), v)).toDF("logdate", "logdatetime", "v")
    LogTableWriter.append(row("2020-04-06", 1L), tmp)
    LogTableWriter.append(row("2020-04-07", 2L), tmp)
    LogTableWriter.append(row("2020-04-08", 3L), tmp)
    // an append lands in an absorbed day after the compaction's listing
    LogTableWriter.compact(spark, tmp, beforeSwap = () =>
      LogTableWriter.append(row("2020-04-07", 4L), tmp))
    def dayDirs = new java.io.File(tmp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("logdate="))
    assert(dayDirs.forall(_.listFiles().nonEmpty),
      s"empty day directories left: ${dayDirs.map(_.getName).toSeq}")
    assert(dayDirs.map(_.getName).toSeq == Seq("logdate=2020-04-07"))
    LogTableWriter.append(row("2020-04-06", 5L), tmp)
    def vs(df: org.apache.spark.sql.DataFrame) =
      df.select("v").as[Long].collect().sorted.toSeq
    assert(vs(LogTableWriter.read(spark, tmp)) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(vs(LogTableWriter.readRange(spark, tmp, ts("2020-04-06 00:00:00"),
      ts("2020-04-06 23:59:59"))) == Seq(1L, 5L))
    assert(vs(LogTableWriter.readRange(spark, tmp, ts("2020-04-07 00:00:00"),
      ts("2020-04-07 23:59:59"))) == Seq(2L, 4L))
  }

  test("the shared footer reader returns the footer a default-options " +
    "open returns, for log-store and snapshot-store files") {
    val log = Files.createTempDirectory("graft_footers_log").toString
    def slice(startH: Int): org.apache.spark.sql.DataFrame =
      (0 until 240).map { i =>
        (java.sql.Date.valueOf("2020-04-06"),
          java.sql.Timestamp.valueOf(java.time.LocalDateTime
            .of(2020, 4, 6, 0, 0, 0).plusSeconds(startH * 3600L + i * 90L)),
          (startH * 240 + i).toLong)
      }.toDF("logdate", "logdatetime", "v")
    LogTableWriter.append(slice(0), log)
    LogTableWriter.compact(spark, log, maxRecordsPerFile = 120)
    LogTableWriter.append(slice(12), log)
    val snap = Files.createTempDirectory("graft_footers_snap").toString + "/st"
    graft.storage.SnapshotStore.write((0 until 200).map { i =>
      (i.toLong, s"p${i % 3}", i * 0.5, s"s$i",
        java.sql.Timestamp.valueOf("2020-04-06 00:00:00").toInstant
          .plusSeconds(i * 60L).toEpochMilli)
    }.toDF("k", "p", "d", "s", "ms")
      .withColumn("t", timestamp_millis(col("ms"))).drop("ms"),
      snap, "p", statsCols = Seq("k", "d", "s", "t"))
    val conf = spark.sparkContext.hadoopConfiguration
    import scala.jdk.CollectionConverters._
    val files = Seq(log, snap).flatMap(d => Files.walk(java.nio.file.Paths
      .get(d)).iterator().asScala.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("/.")).toSeq)
    assert(files.count(_.contains("/gen-")) >= 2 &&
      files.count(f => f.startsWith(log) && !f.contains("/gen-")) == 1 &&
      files.count(_.startsWith(snap)) >= 3, files)
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      val want = try reader.getFooter finally reader.close()
      val got = graft.storage.Footers.read(conf, p)
      val st = p.getFileSystem(conf).getFileStatus(p)
      import org.apache.parquet.hadoop.metadata.ParquetMetadata.toJSON
      assert(toJSON(got) == toJSON(want), f)
      assert(toJSON(graft.storage.Footers.read(conf, st)) == toJSON(want), f)
    }
  }

  test("ingest dead-letters corrupt lines instead of storing empty rows") {
    val in = Files.createTempDirectory("graft_dl_in").toString
    val out = Files.createTempDirectory("graft_dl_out").toString
    val ck = Files.createTempDirectory("graft_dl_ck").toString
    val dl = Files.createTempDirectory("graft_dl").toString
    Files.writeString(java.nio.file.Paths.get(in, "a.log"),
      lines.head + "\nthis line is garbage\n" + lines(2))
    val q = Ingest.start(spark, in, out, ck,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), Some(dl))
    q.awaitTermination()
    val stored = Ingest.readStore(spark, out)
    assert(stored.count() == 2 && stored.filter(col("_corrupt")).count() == 0)
    val dead = Ingest.readDeadLetters(spark, dl).as[String].collect()
    assert(dead.toSeq == Seq("this line is garbage"))
  }

  test("batch replay through the same transform equals direct projection") {
    val tmp = Files.createTempDirectory("graft_raw")
    Files.writeString(tmp.resolve("access.log"), lines.mkString("\n"))
    val viaIngest = Ingest.transform(Ingest.batchSource(spark, tmp.toString))
    val direct = graft.operators.AccessLog.project(lines.toDF("line"))
    assert(viaIngest.orderBy("clientip").collect()
      .sameElements(direct.orderBy("clientip").collect()))
  }
}
