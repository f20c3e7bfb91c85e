package graft

import org.apache.spark.sql.functions._
import graft.storage.SnapshotStore

/** SnapshotStore: snapshot isolation and time travel, manifest-pruned
  * merge reads, single-CAS commit atomicity, partition sharing across
  * versions, retention.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_snapspec").toString + "/st"

  private def baseRows = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))

  private def writeBase(dir: String) =
    SnapshotStore.write(baseRows.toDF("k", "p", "v"), dir, "p")

  private def readV(dir: String, v: Int): Map[Long, (String, Double)] =
    SnapshotStore.read(spark, dir, Some(v)).select("k", "p", "v").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  test("merge produces v2; v1 stays byte-identical (snapshot isolation)") {
    val dir = freshDir(); writeBase(dir)
    val batch = Seq((1L, "a", 11.0, false), (5L, "b", 50.0, false),
      (3L, "b", 0.0, true)).toDF("k", "p", "v", "_del")
    SnapshotStore.merge(spark, dir, batch, "p", Seq("k"),
      deleteCol = Some("_del"))
    assert(SnapshotStore.headVersion(spark, dir).contains(2))
    assert(readV(dir, 1) == baseRows.map(r => r._1 -> (r._2, r._3)).toMap)
    assert(readV(dir, 2) == Map(1L -> ("a", 11.0), 2L -> ("a", 20.0),
      5L -> ("b", 50.0), 4L -> ("c", 40.0)))
  }

  test("merge reads ONLY the touched partitions' directories") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"))
    // v2 must SHARE v1's untouched partition dirs by reference: the only
    // new directory is partition a's rewrite
    val fs = new java.io.File(s"$dir/data")
    val gens = fs.listFiles().map(_.getName).sorted
    assert(gens.length == 2, s"expected 2 gens, got ${gens.toSeq}")
    val newGen = fs.listFiles().map(_.getName)
      .map(g => g -> new java.io.File(s"$dir/data/$g").listFiles()
        .map(_.getName).filter(_.startsWith("_p=")).toSet)
      .toMap
    assert(newGen.values.toSet.contains(Set("_p=a")),
      s"merge gen should hold only partition a: $newGen")
    assert(readV(dir, 2)(1L) == ("a", 11.0))
  }

  test("fully-deleted partition leaves the manifest; its files survive " +
    "for the old version") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((3L, "b", 0.0, true)).toDF("k", "p", "v", "_del"),
      "p", Seq("k"), deleteCol = Some("_del"))
    assert(!readV(dir, 2).contains(3L))
    assert(readV(dir, 2).size == 3)
    assert(readV(dir, 1)(3L) == ("b", 30.0), "v1 lost the deleted partition")
  }

  test("latest-wins precedence and insert into a new partition value") {
    val dir = freshDir(); writeBase(dir)
    val batch = Seq((9L, "z", 90.0, false, 2L), (9L, "z", 91.0, false, 1L))
      .toDF("k", "p", "v", "_del", "ver")
    SnapshotStore.merge(spark, dir, batch, "p", Seq("k"),
      deleteCol = Some("_del"), precedenceCol = Some("ver"))
    assert(readV(dir, 2)(9L) == ("z", 90.0))
  }

  test("a second committer of the same version loses the CAS and aborts " +
    "with its garbage removed") {
    val dir = freshDir(); writeBase(dir)
    val gensBefore = new java.io.File(s"$dir/data").listFiles().length
    intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.merge(spark, dir,
        Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"),
        // the race lands between the loser's gen write and its commit
        beforeCommit = () => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, "_manifest-2"), "a\tdata/won/_p=a"))
    }
    assert(new java.io.File(s"$dir/data").listFiles().length == gensBefore,
      "loser's gen dir not cleaned up")
  }

  test("expire keeps the newest versions and deletes unreferenced gens") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"))
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 12.0)).toDF("k", "p", "v"), "p", Seq("k"))
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    intercept[IllegalArgumentException] { readV(dir, 1) }
    assert(readV(dir, 3)(1L) == ("a", 12.0))
    // v1's partition-a gen is unreferenced by v3 (a was rewritten twice),
    // but b/c partitions' original gen is still referenced and must stay
    val gens = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    assert(gens.length == 2, s"expected base gen + final-a gen: ${gens.toSeq}")
  }

  test("time travel to an expired version: every read verb refuses it as " +
    "a missing version, not a retryable conflict") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"))
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 12.0)).toDF("k", "p", "v"), "p", Seq("k"))
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    val pred = col("v") > 0
    val v1 = Some(1)
    Seq[(String, () => Any)](
      "read" -> (() => SnapshotStore.read(spark, dir, v1).collect()),
      "readWhere" -> (() =>
        SnapshotStore.readWhere(spark, dir, pred, v1).collect()),
      "countWhere" -> (() => SnapshotStore.countWhere(spark, dir, pred, v1)),
      "minMaxWhere" -> (() =>
        SnapshotStore.minMaxWhere(spark, dir, Seq("v"), pred, v1).collect())
    ).foreach { case (verb, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("no snapshot version"), s"$verb: $e")
    }
  }

  test("partition values containing tab/newline round-trip the manifest " +
    "(values are path-escaped — regression)") {
    val dir = freshDir()
    SnapshotStore.write(
      Seq((1L, "a\tb", 10.0), (2L, "c\nd", 20.0)).toDF("k", "p", "v"),
      dir, "p")
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a\tb", 11.0)).toDF("k", "p", "v"), "p", Seq("k"))
    val got = readV(dir, 2)
    assert(got == Map(1L -> ("a\tb", 11.0), 2L -> ("c\nd", 20.0)), got)
  }

  test("rollback commits the old manifest as a NEW head; history intact; " +
    "expire still GCs correctly afterwards") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 99.0)).toDF("k", "p", "v"), "p", Seq("k"))
    assert(readV(dir, 2)(1L) == ("a", 99.0))
    SnapshotStore.rollback(spark, dir, toVersion = 1)
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
    // head now reads as the original; the bad v2 stays inspectable
    assert(SnapshotStore.read(spark, dir).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      .get(1L).contains(10.0))
    assert(readV(dir, 2)(1L) == ("a", 99.0))
    // rolling back to the current head is a no-op
    SnapshotStore.rollback(spark, dir, toVersion = 3)
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
    // expire keep=1: v3 references only v1's gens, so v2's gen dies
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(new java.io.File(s"$dir/data").listFiles().length == 1)
    assert(SnapshotStore.read(spark, dir).count() == 4)
  }

  test("expire's orphan-age floor spares the gen an IN-FLIGHT append has " +
    "written but not yet committed (the Iceberg remove-orphan-files race)") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"))
    // retention sweeps BETWEEN the append's gen write and its manifest CAS
    SnapshotStore.append(Seq((7L, "b", 70.0)).toDF("k", "p", "v"), dir, "p",
      beforeCommit = () => SnapshotStore.expire(spark, dir, keep = 1))
    // the append's commit must not have published dangling file references
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
    val head = readV(dir, 3)
    assert(head(7L) == ("b", 70.0) && head.size == 5,
      s"in-flight gen was swept as an orphan: $head")
    // the sweep itself still ran: v1's manifest is gone
    intercept[IllegalArgumentException] { readV(dir, 1) }
  }

  private def chRows(dir: String, from: Int, to: Int)
      : Set[(String, Long, String, Double)] =
    SnapshotStore.changes(spark, dir, from, to, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSet

  test("changes(1,2) emits the CDF feed; copied-over rows cancel; " +
    "ONLY changed partitions' dirs are read") {
    val dir = freshDir(); writeBase(dir)
    val batch = Seq((1L, "a", 11.0, false), (5L, "b", 50.0, false),
      (3L, "b", 0.0, true)).toDF("k", "p", "v", "_del")
    SnapshotStore.merge(spark, dir, batch, "p", Seq("k"),
      deleteCol = Some("_del"))
    val ch = SnapshotStore.changes(spark, dir, 1, 2, Seq("k"))
    assert(ch.columns.toSeq == Seq("_change_type", "k", "p", "v"))
    assert(chRows(dir, 1, 2) == Set(
      ("update_preimage", 1L, "a", 10.0),
      ("update_postimage", 1L, "a", 11.0),
      ("insert", 5L, "b", 50.0),
      ("delete", 3L, "b", 30.0)))
    // k=2 (copied over inside rewritten partition a) cancelled; k=4's
    // partition c was never read: inputFiles ⊆ changed partitions a,b
    val files = ch.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(f =>
      f.contains("_p=a") || f.contains("_p=b")),
      s"changes read an unchanged partition: $files")
  }

  test("changes spans versions (1→3), inverts direction (3→1), and " +
    "previews a rollback (head→rolled-back head is the inverse merge)") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"))
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 12.0, false), (2L, "a", 0.0, true))
        .toDF("k", "p", "v", "_del"), "p", Seq("k"),
      deleteCol = Some("_del"))
    assert(chRows(dir, 1, 3) == Set(
      ("update_preimage", 1L, "a", 10.0),
      ("update_postimage", 1L, "a", 12.0),
      ("delete", 2L, "a", 20.0)))
    // inverse direction: insert↔delete, preimage↔postimage
    assert(chRows(dir, 3, 1) == Set(
      ("update_preimage", 1L, "a", 12.0),
      ("update_postimage", 1L, "a", 10.0),
      ("insert", 2L, "a", 20.0)))
    // identical versions (or any two referencing the same dirs) → empty
    assert(chRows(dir, 2, 2).isEmpty)
    // rollback preview: v4 = v1's manifest, so changes(3,4) == changes(3,1)
    SnapshotStore.rollback(spark, dir, toVersion = 1)
    assert(chRows(dir, 3, 4) == chRows(dir, 3, 1))
  }

  test("changes handles a fully-deleted partition (entry leaves the " +
    "manifest) and an inserted-new-partition value") {
    val dir = freshDir(); writeBase(dir)
    val batch = Seq((4L, "c", 0.0, true), (9L, "z", 90.0, false))
      .toDF("k", "p", "v", "_del")
    SnapshotStore.merge(spark, dir, batch, "p", Seq("k"),
      deleteCol = Some("_del"))
    assert(chRows(dir, 1, 2) == Set(
      ("delete", 4L, "c", 40.0), ("insert", 9L, "z", 90.0)))
  }

  test("readPartitions opens ONLY the selected partitions' dirs; unknown " +
    "values select nothing") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"))
    val df = SnapshotStore.readPartitions(spark, dir, Seq("a"))
    assert(df.collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v"))
      .toMap == Map(1L -> 11.0, 2L -> 20.0))
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains("_p=a")),
      s"read outside the selection: ${df.inputFiles.toSeq}")
    val v1b = SnapshotStore.readPartitions(spark, dir, Seq("b", "nope"),
      Some(1))
    assert(v1b.collect().map(_.getAs[Long]("k")).toSet == Set(3L))
    assert(SnapshotStore.readPartitions(spark, dir, Seq("zzz")).count() == 0)
  }

  test("Ivm.applyDelta: delta fold over the feed ≡ recompute; vanished " +
    "groups drop, new groups appear, untouched groups pass through") {
    import org.apache.spark.sql.functions._
    val dir = freshDir(); writeBase(dir)
    val batch = Seq((1L, "a", 11.0, false), (4L, "c", 0.0, true),
      (9L, "z", 90.0, false)).toDF("k", "p", "v", "_del")
    SnapshotStore.merge(spark, dir, batch, "p", Seq("k"),
      deleteCol = Some("_del"))
    val cents = round(col("v") * 100).cast("long")
    def agg(v: Int) = SnapshotStore.read(spark, dir, Some(v))
      .groupBy(col("p"))
      .agg(sum(cents).as("sum_cents"), count(lit(1)).as("n"))
    val maintained = graft.operators.Ivm.applyDelta(agg(1),
      SnapshotStore.changes(spark, dir, 1, 2, Seq("k")),
      Seq("p"), Seq("sum_cents" -> cents), "n")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = m(maintained)
    assert(got == m(agg(2)), s"delta fold diverged from recompute: $got")
    assert(!got.contains("c") && got.contains("z") &&
      got("b") == (3000L, 1L))
  }

  test("Ivm.applyDelta folds a NULL group key into the prior NULL group " +
    "(null-safe group join, matching GROUP BY collapse on recompute)") {
    import org.apache.spark.sql.functions._
    val prior = Seq((Some("a"), 100L, 2L), (None, 50L, 1L))
      .toDF("g", "sum_v", "n")
    val changes = Seq(("insert", Option.empty[String], 7L),
      ("insert", Some("a"), 3L)).toDF("_change_type", "g", "v")
    val out = graft.operators.Ivm.applyDelta(prior, changes, Seq("g"),
      Seq("sum_v" -> col("v")), "n")
    val m = out.collect()
      .map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(m == Map(Some("a") -> (103L, 3L), None -> (57L, 2L)), m)
  }

  test("Ivm.applyDeltaRollup folds one delta into every grouping set and " +
    "keeps a real NULL group distinct from the rolled-up NULL (gid)") {
    import org.apache.spark.sql.functions._
    val base = Seq((Some("x"), 10L), (Some("x"), 20L), (None, 5L))
      .toDF("g", "v")
    val prior = base.rollup(col("g"))
      .agg(grouping_id().cast("int").as("gid"),
        sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
    val changes = Seq(("insert", Option.empty[String], 7L),
      ("delete", Some("x"), 10L)).toDF("_change_type", "g", "v")
    val out = graft.operators.Ivm.applyDeltaRollup(prior, changes,
      Seq("g"), Seq("sum_v" -> col("v")), "n", "gid")
    val got = out.collect()
      .map(r => (r.getInt(0), Option(r.getString(1))) ->
        (r.getLong(2), r.getLong(3))).toMap
    // recompute over base + changes: x → (20,1), NULL → (12,2), total (32,3)
    assert(got == Map(
      (0, Some("x")) -> (20L, 1L),
      (0, None) -> (12L, 2L),       // REAL null group, gid 0
      (1, None) -> (32L, 3L)),      // rolled-up grand total, gid 1
      got)
  }

  test("declared gate q_merge_snapshot returns both versions") {
    val out = SparkEntry.queries("q_merge_snapshot")(
      spark, "/root/testdata/sf0.001").collect()
    val versions = out.map(_.getAs[Int]("version")).toSet
    assert(versions == Set(1, 2), s"got versions $versions")
  }

  private def manifestDirs(dir: String, v: Int): Map[String, Seq[String]] =
    SnapshotStore.readManifest(spark, dir, v)

  test("append writes ONLY the batch as a new gen; touched partitions " +
    "accumulate dir lists; old version unaffected") {
    val dir = freshDir(); writeBase(dir)
    val gensBefore = new java.io.File(s"$dir/data").listFiles().length
    SnapshotStore.append(
      Seq((5L, "a", 50.0), (6L, "q", 60.0)).toDF("k", "p", "v"), dir, "p")
    assert(SnapshotStore.headVersion(spark, dir).contains(2))
    // exactly ONE new gen dir, holding only the appended partitions
    val gens = new java.io.File(s"$dir/data").listFiles()
    assert(gens.length == gensBefore + 1)
    assert(readV(dir, 2) == Map(1L -> ("a", 10.0), 2L -> ("a", 20.0),
      3L -> ("b", 30.0), 4L -> ("c", 40.0), 5L -> ("a", 50.0),
      6L -> ("q", 60.0)))
    assert(readV(dir, 1).size == 4, "append mutated v1")
    val m = manifestDirs(dir, 2)
    assert(m("a").size == 2 && m("b").size == 1 && m("q").size == 1,
      s"manifest dir lists wrong: $m")
    // untouched partition b's dir is SHARED by reference with v1
    assert(manifestDirs(dir, 1)("b") == m("b"))
  }

  test("every commit records the version's union schema; reads apply it " +
    "(deleting it degrades to mergeSchema inference with the same result)") {
    val dir = freshDir(); writeBase(dir)
    assert(new java.io.File(s"$dir/_schema-1").exists(),
      "initial write did not record its schema")
    SnapshotStore.append(
      Seq((7L, "a", 70.0, "x")).toDF("k", "p", "v", "w"), dir, "p")
    assert(new java.io.File(s"$dir/_schema-2").exists(),
      "append did not record the union schema")
    // recorded schema is the union in evolution order (prior fields first)
    assert(SnapshotStore.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "p", "v", "w"))
    // v1's recorded schema predates the evolution
    assert(SnapshotStore.read(spark, dir, Some(1)).schema.fieldNames.toSeq ==
      Seq("k", "p", "v"))
    // fallback path: without the recorded schema the read infers the same
    // union via mergeSchema (pre-r11 stores / crash window)
    assert(new java.io.File(s"$dir/_schema-2").delete())
    val inferred = SnapshotStore.read(spark, dir)
    assert(inferred.schema.fieldNames.toSet == Set("k", "p", "v", "w"))
    assert(inferred.count() == 5)
  }

  test("append with an idempotencyKey is structural-exactly-once: a " +
    "redelivered batch no-ops; a fresh key lands; survives a merge " +
    "rewriting the partition") {
    val dir = freshDir(); writeBase(dir)
    val batch = Seq((5L, "a", 50.0)).toDF("k", "p", "v")
    SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("b-1")) // v2
    assert(SnapshotStore.headVersion(spark, dir).contains(2))
    // redelivery of the same batch id: no new version, no duplicate row
    SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("b-1"))
    assert(SnapshotStore.headVersion(spark, dir).contains(2))
    assert(SnapshotStore.read(spark, dir).filter(col("k") === 5L).count() == 1)
    // a DIFFERENT key lands
    SnapshotStore.append(Seq((6L, "a", 60.0)).toDF("k", "p", "v"), dir, "p",
      idempotencyKey = Some("b-2")) // v3
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
    // a merge rewrites partition a whole (batch b-1's gen leaves the HEAD
    // manifest but stays referenced by retained v2) — redelivering b-1
    // must STILL no-op, else the rewrite window double-applies
    SnapshotStore.merge(spark, dir,
      Seq((5L, "a", 51.0)).toDF("k", "p", "v"), "p", Seq("k")) // v4
    SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("b-1"))
    assert(SnapshotStore.headVersion(spark, dir).contains(4))
    val a = SnapshotStore.read(spark, dir).filter(col("k") === 5L)
      .select("v").collect().map(_.getDouble(0)).toSeq
    assert(a == Seq(51.0), s"redelivered append double-applied: $a")
  }

  test("append ingest survives the lost-commit-marker crash window: the " +
    "replayed micro-batch no-ops via its idempotency key (RecoverySpec " +
    "discipline for the snapshot store)") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_snapcrash")
      .toString
    val store = s"$root/st"
    SnapshotStore.write(Seq((0L, "a", 0.0)).toDF("k", "p", "v"), store, "p")
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    def chunk(i: Int): Unit =
      Seq((i.toLong * 10 + 1, "a", i * 1.0), (i.toLong * 10 + 2, "b", i * 2.0))
        .toDF("k", "p", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$in/chunk-$i")
    val ck = s"$root/ck"
    def drain(): Unit = {
      val sch = spark.read.parquet(s"$in/chunk-0").schema
      val q = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(s"$in/chunk-*")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          SnapshotStore.append(b, store, "p",
            idempotencyKey = Some(s"crash-$id"))
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    chunk(0); chunk(1)
    drain()
    assert(SnapshotStore.headVersion(spark, store).contains(3)) // 1 + 2
    // the crash: the batch's append COMMITTED a snapshot version, but the
    // checkpoint's commit marker was lost (Spark writes it only after
    // foreachBatch returns — the exact kill window; the .crc shadow dies
    // with it, as ChecksumFileSystem renames them as a unit)
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val lost = commits.last
    assert(lost.delete(), s"could not delete commit marker $lost")
    new java.io.File(lost.getParentFile, s".${lost.getName}.crc").delete()
    // post-crash reality: more chunks arrive, the pipeline restarts from
    // the same checkpoint, REPLAYS the lost batch, and ingests the rest
    chunk(2); chunk(3)
    drain()
    // the replayed batch's gen is already referenced → no-op, no new
    // version for it; only the two genuinely new chunks appended
    assert(SnapshotStore.headVersion(spark, store).contains(5),
      s"replayed append double-committed: " +
        s"${SnapshotStore.headVersion(spark, store)}")
    val ks = SnapshotStore.read(spark, store).select("k").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ks == Seq(0L, 1L, 2L, 11L, 12L, 21L, 22L, 31L, 32L),
      s"store diverged after crash-restart: $ks")
  }

  test("compactPartitions rewrites multi-dir partitions to one dir, " +
    "read-back identical, untouched partitions shared, old version intact") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.append(Seq((5L, "a", 50.0)).toDF("k", "p", "v"), dir, "p")
    SnapshotStore.append(Seq((6L, "a", 60.0)).toDF("k", "p", "v"), dir, "p")
    val before = readV(dir, 3)
    assert(manifestDirs(dir, 3)("a").size == 3)
    val n = SnapshotStore.compactPartitions(spark, dir, "p")
    assert(n == 1, s"expected 1 compacted partition, got $n")
    assert(SnapshotStore.headVersion(spark, dir).contains(4))
    assert(readV(dir, 4) == before, "compaction changed content")
    val m4 = manifestDirs(dir, 4)
    assert(m4("a").size == 1, s"partition a not collapsed: $m4")
    // untouched partitions keep their original dirs by reference
    assert(m4("b") == manifestDirs(dir, 1)("b"))
    // pre-compaction version still reads (its dirs survive until expire)
    assert(readV(dir, 3) == before)
    // nothing left to compact: second sweep is a no-op, no new version
    assert(SnapshotStore.compactPartitions(spark, dir, "p") == 0)
    assert(SnapshotStore.headVersion(spark, dir).contains(4))
  }

  test("additive schema evolution: append adds a column; legacy rows read " +
    "NULL; compaction, merge, and changes align across generations") {
    val dir = freshDir(); writeBase(dir) // v1: (k, p, v)
    SnapshotStore.append(
      Seq((7L, "a", 70.0, "x")).toDF("k", "p", "v", "w"), dir, "p") // v2
    val head = SnapshotStore.read(spark, dir)
    assert(head.columns.toSet == Set("k", "p", "v", "w"))
    val m2 = head.collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[String]("w"))).toMap
    assert(m2(7L).contains("x") && m2(1L).isEmpty, m2)
    // changes across the schema boundary: only the appended row surfaces
    // (legacy rows compare NULL <=> NULL on the new column and cancel)
    assert(chRows(dir, 1, 2) == Set(("insert", 7L, "a", 70.0)))
    def snap(v: Int) = SnapshotStore.read(spark, dir, Some(v)).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Double]("v"), Option(r.getAs[String]("w")))).toMap
    // compact partition a's genuinely MIXED-schema dir list (base gen has
    // no w, appended gen does): union schema, content-identical
    assert(SnapshotStore.compactPartitions(spark, dir, "p") == 1) // v3
    assert(snap(3) == snap(2), "compaction changed content across schema gens")
    assert(manifestDirs(dir, 3)("a").size == 1)
    // merge an update CARRYING the new column into a legacy row's
    // partition: the copied-over legacy row keeps NULL, the update lands
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0, "y")).toDF("k", "p", "v", "w"), "p", Seq("k")) // v4
    val m4 = snap(4)
    assert(m4(1L) == (11.0, Some("y")) && m4(2L) == (20.0, None) &&
      m4(7L) == (70.0, Some("x")), m4)
    // the feed's update_preimage reads NULL for the post-evolution column
    val pre = SnapshotStore.changes(spark, dir, 3, 4, Seq("k"))
      .filter(col("_change_type") === "update_preimage").collect()
    assert(pre.length == 1 && pre.head.getAs[Long]("k") == 1L &&
      pre.head.getAs[String]("w") == null)
  }

  test("withCasRetry(merge): the CAS loser re-reads the new head and " +
    "lands — both concurrent merges applied, serialized") {
    val dir = freshDir(); writeBase(dir)
    var raced = false
    SnapshotStore.withCasRetry()(SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"),
      beforeCommit = () => if (!raced) {
        raced = true // the competitor lands BETWEEN our gen write and commit
        SnapshotStore.merge(spark, dir,
          Seq((3L, "b", 33.0)).toDF("k", "p", "v"), "p", Seq("k"))
      }))
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
    val head = readV(dir, 3)
    assert(head(1L) == ("a", 11.0) && head(3L) == ("b", 33.0),
      s"one of the racing merges was lost: $head")
    // v2 is the competitor's merge alone (serialization order)
    assert(readV(dir, 2)(3L) == ("b", 33.0))
    assert(readV(dir, 2)(1L) == ("a", 10.0))
  }

  test("append CAS-loser retries against the new head — the appended " +
    "rows and the concurrent merge both land; the key stays exactly-once") {
    val dir = freshDir(); writeBase(dir)
    var raced = false
    SnapshotStore.append(Seq((9L, "a", 90.0)).toDF("k", "p", "v"), dir, "p",
      idempotencyKey = Some("batch-9"),
      beforeCommit = () => if (!raced) {
        raced = true // the competitor lands BETWEEN our gen write and commit
        SnapshotStore.merge(spark, dir,
          Seq((3L, "b", 33.0)).toDF("k", "p", "v"), "p", Seq("k"))
      })
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
    val head = readV(dir, 3)
    assert(head(9L) == ("a", 90.0) && head(3L) == ("b", 33.0),
      s"the racing append or merge was lost: $head")
    // v2 is the competitor's merge alone (serialization order); the
    // append's first, aborted attempt left nothing behind
    assert(readV(dir, 2)(3L) == ("b", 33.0) && !readV(dir, 2).contains(9L))
    // redelivery of the same key is STILL a no-op after the retry landed
    SnapshotStore.append(Seq((9L, "a", 90.0)).toDF("k", "p", "v"), dir, "p",
      idempotencyKey = Some("batch-9"))
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
  }

  test("concurrent duplicate delivery of the SAME idempotency key (zombie " +
    "writer): exactly one lands, no dangling manifest references, no " +
    "double-scanned dirs") {
    val dir = freshDir(); writeBase(dir)
    val batch = Seq((5L, "a", 50.0)).toDF("k", "p", "v")
    var raced = false
    // the twin delivery lands BETWEEN our gen publish and our commit —
    // the exact window where pre-fix the CAS loser deleted the pinned gen
    // the winner's manifest had just referenced, then re-published it as
    // a SECOND dir-list entry (rows read twice)
    SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("dup-1"),
      beforeCommit = () => if (!raced) {
        raced = true
        SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("dup-1"))
      })
    assert(SnapshotStore.headVersion(spark, dir).contains(2),
      "duplicate delivery minted an extra version with content")
    assert(SnapshotStore.read(spark, dir).filter(col("k") === 5L).count() == 1,
      "concurrent duplicate delivery double-applied the batch")
    // every dir referenced by every retained manifest must exist on disk
    (1 to 2).foreach { v =>
      manifestDirs(dir, v).values.flatten.foreach(d =>
        assert(new java.io.File(s"$dir/$d").isDirectory,
          s"manifest v$v references a dangling dir: $d"))
    }
    // no dir appears twice in any partition's dir list
    val m = manifestDirs(dir, 2)
    m.foreach { case (p, ds) =>
      assert(ds.distinct == ds, s"partition $p lists a dir twice: $ds") }
    // no staging leftovers; redelivery after the race is still a no-op
    val gens = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    assert(gens.forall(!_.endsWith(".stage")), s"staging leaked: ${gens.toSeq}")
    SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("dup-1"))
    assert(SnapshotStore.headVersion(spark, dir).contains(2))
  }

  test("a MALFORMED retained manifest fails the idempotency scan loudly " +
    "instead of permitting a duplicate re-append (expired-prefix boundary " +
    "is probed, not inferred from the exception)") {
    val dir = freshDir(); writeBase(dir)
    val batch = Seq((5L, "a", 50.0)).toDF("k", "p", "v")
    SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("b-1")) // v2
    // corrupt the retained manifest the scan must traverse (dir-less line);
    // drop the .crc shadow so ChecksumFileSystem serves the corrupt bytes
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_manifest-2"), "a")
    new java.io.File(dir, "._manifest-2.crc").delete()
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("b-1"))
    }
    assert(e.getMessage.contains("malformed manifest"),
      s"corruption was swallowed as 'not applied': ${e.getMessage}")
  }

  test("expire's orphan age comes from the NEWEST file under the gen dir, " +
    "not the dir's own mtime (object-store synthetic dir mtimes)") {
    val dir = freshDir(); writeBase(dir)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k")) // v2
    // an unreferenced gen whose DIR mtime looks ancient but whose newest
    // file is fresh — the in-flight-commit shape on S3A-like stores
    val orphan = new java.io.File(s"$dir/data/gen-orphan/_p=a")
    assert(orphan.mkdirs())
    val f = new java.io.File(orphan, "part-0.parquet")
    assert(f.createNewFile())
    val old = System.currentTimeMillis() - 7200000L
    assert(orphan.setLastModified(old))
    assert(orphan.getParentFile.setLastModified(old))
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 3600000L)
    assert(orphan.getParentFile.exists(),
      "expire swept a gen whose newest file is younger than the floor")
    // once the newest file is older than the floor too, the sweep takes it
    assert(f.setLastModified(old))
    assert(orphan.setLastModified(old))
    assert(orphan.getParentFile.setLastModified(old))
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 3600000L)
    assert(!orphan.getParentFile.exists(), "aged-out orphan survived expire")
  }

  test("withCasRetry(merge) exhausts to the original exception; the " +
    "store stays consistent") {
    val dir = freshDir(); writeBase(dir)
    var competitorV = 100.0
    intercept[java.util.ConcurrentModificationException] {
      SnapshotStore.withCasRetry(2)(SnapshotStore.merge(spark, dir,
        Seq((1L, "a", 11.0)).toDF("k", "p", "v"), "p", Seq("k"),
        beforeCommit = () => { // a competitor wins EVERY window
          competitorV += 1
          SnapshotStore.merge(spark, dir,
            Seq((3L, "b", competitorV)).toDF("k", "p", "v"), "p", Seq("k"))
        }))
    }
    // 3 attempts, each beaten by one competitor commit: head = 1 + 3
    assert(SnapshotStore.headVersion(spark, dir).contains(4))
    val head = readV(dir, 4)
    assert(head(1L) == ("a", 10.0), "exhausted merge partially applied")
    assert(head(3L) == ("b", 103.0))
  }
}
