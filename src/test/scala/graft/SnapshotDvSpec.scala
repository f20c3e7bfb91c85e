package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** Merge-on-read DML over the snapshot store — deletion vectors
  * ([[SnapshotStore.dml]] with `mode = Dml.MoR`):
  * matched rows' (file-key, row-index) positions land in one parquet
  * sidecar and the touched manifest fields gain a DV ref; NO data file
  * is rewritten. Pins: zero-rewrite receipts (gen set on disk unchanged),
  * exactness against the read-filter reference, the metadata COUNT
  * staying exact (live = physical − DV'd, zero dirs scanned), repeated
  * MoR accumulation, interop with copy-on-write DML / merge / backfill
  * (no resurrection), compaction as the debt collector, CDC across MoR
  * commits (version-atomic, correct delete/update rows), time travel,
  * retention of referenced sidecars, and the CHECK-constraint gate on
  * MoR update.
  */
class SnapshotDvSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_dv_$tag").toString + "/st"

  /** 3 gens with disjoint k-ranges, each spanning partitions p0/p1. */
  private def quartStore(dir: String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    SnapshotStore.append(chunk(200L, 10), dir, "p")
  }

  private def genDirsOnDisk(dir: String): Set[String] = {
    val d = new java.io.File(s"$dir/data")
    if (!d.exists()) Set.empty
    else d.listFiles().map(_.getName).filter(_.startsWith("gen-")).toSet
  }

  private def dvDirsOnDisk(dir: String): Set[String] = {
    val d = new java.io.File(s"$dir/data")
    if (!d.exists()) Set.empty
    else d.listFiles().map(_.getName).filter(_.startsWith("dv-")).toSet
  }

  test("MoR delete: positions sidecar'd, ZERO data files rewritten, " +
    "read exact, time travel intact") {
    val dir = newDir("basic"); quartStore(dir)
    val before = genDirsOnDisk(dir)
    val r = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") > 205L, // splits the last gen: both its slices ambiguous
      mode = Dml.MoR)
    assert(r.version == 4 && r.rewrittenDirs == 0 && r.droppedDirs == 0,
      s"MoR must not rewrite or drop, got $r")
    assert(r.dvDirs == 2 && r.dvRows == 4L,
      s"206..209 = 4 rows across the last gen's two slices, got $r")
    assert(genDirsOnDisk(dir) == before,
      "a MoR delete writes NO data gen — the gen set on disk is the pin")
    assert(dvDirsOnDisk(dir).size == 1, "exactly one sidecar dir")
    assert(SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L) ++ (200L to 205L)).sorted)
    // history untouched: the pre-delete version still reads all 30
    assert(SnapshotStore.read(spark, dir, Some(3)).count() == 30)
    // the MoR commit is NOT insert-only: the CDC source must take the
    // version-atomic changes() path, never "same dirs ⟹ empty feed"
    assert(SnapshotStore.insertOnlyDirs(spark, dir, 4).isEmpty)
  }

  test("gen-aligned MoR delete degrades to the pure-metadata drop — " +
    "no sidecar written; a provable no-op commits no version") {
    val dir = newDir("meta"); quartStore(dir)
    val r = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") >= 100L && col("k") < 110L, mode = Dml.MoR)
    assert(r.droppedDirs == 2 && r.dvRows == 0L && r.dvDirs == 0, s"got $r")
    assert(dvDirsOnDisk(dir).isEmpty, "an all-match plan needs no sidecar")
    assert(SnapshotStore.read(spark, dir).count() == 20)
    val head = SnapshotStore.headVersion(spark, dir).get
    val noop = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") > 10000L, mode = Dml.MoR)
    assert(noop.version == head, "provable no-op must not commit")
  }

  test("ambiguous plan whose scan finds nothing commits no version and " +
    "leaves no sidecar") {
    val dir = newDir("zero")
    // stats only on k: a v-predicate is ambiguous everywhere
    SnapshotStore.write((0 until 10).map(i => (i.toLong, s"p${i % 2}", 1.0))
      .toDF("k", "p", "v"), dir, "p", statsCols = Seq("k"))
    val head = SnapshotStore.headVersion(spark, dir).get
    val r = SnapshotStore.dml(spark, dir, Dml.Delete, col("v") < 0.0,
      mode = Dml.MoR)
    assert(r.version == head && r.dvRows == 0L,
      s"scan refuted the ambiguous stats — no commit, got $r")
    assert(dvDirsOnDisk(dir).isEmpty, "the empty sidecar must be removed")
  }

  test("metadata COUNT stays exact after MoR deletes (live = physical " +
    "− DV'd), zero dirs scanned; repeated deletes accumulate refs") {
    val dir = newDir("count"); quartStore(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L, // 4 rows
      mode = Dml.MoR)
    val (c1, scanned1) = SnapshotStore.countWhereDetailed(spark, dir,
      lit(true))
    assert(c1 == 26L && scanned1 == 0,
      s"count must serve from metadata minus DV counts, got ($c1, $scanned1)")
    // second MoR delete over the SAME slices: positions among survivors
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 205L || // 1 row
      col("k") === 203L, // 1 row — both in the already-DV'd gen
      mode = Dml.MoR)
    val (c2, scanned2) = SnapshotStore.countWhereDetailed(spark, dir,
      lit(true))
    assert(c2 == 24L && scanned2 == 0, s"got ($c2, $scanned2)")
    assert(SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L) ++ Seq(200L, 201L, 202L, 204L))
        .sorted)
    assert(dvDirsOnDisk(dir).size == 2, "one sidecar per MoR commit")
  }

  test("minMaxWhere routes DV'd slices to the scan — a physical bound " +
    "attained only by a deleted row is never served") {
    val dir = newDir("minmax"); quartStore(dir)
    // delete the max row (k=209) merge-on-read; metadata bounds still
    // say hi=209 — serving them would answer 209
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 209L, mode = Dml.MoR)
    val row = SnapshotStore.minMaxWhere(spark, dir, Seq("k"), lit(true))
      .collect()(0)
    assert(row.getLong(0) == 0L && row.getLong(1) == 208L,
      s"max must be the live 208, not the deleted 209, got $row")
  }

  test("copy-on-write DML and merge over a DV'd slice never resurrect " +
    "deleted rows") {
    val dir = newDir("interop"); quartStore(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 204L, mode = Dml.MoR)
    // CoW delete on the same gen: the rewrite reads THROUGH the DV
    SnapshotStore.deleteWhere(spark, dir, col("k") === 207L)
    assert(SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L) ++
        Seq(200L, 201L, 202L, 203L, 205L, 206L, 208L, 209L)).sorted)
    // merge an upsert into the DV'd partition: base carry-forward reads
    // through the DV (204 was in p0; upsert touches p0)
    val dir2 = newDir("interop2"); quartStore(dir2)
    SnapshotStore.dml(spark, dir2, Dml.Delete, col("k") === 204L,
      mode = Dml.MoR)
    SnapshotStore.merge(spark, dir2,
      Seq((200L, "p0", -1.0)).toDF("k", "p", "v"), "p", Seq("k"))
    val ks = SnapshotStore.read(spark, dir2)
      .filter(col("p") === "p0").select("k").as[Long].collect().sorted
    assert(!ks.contains(204L), "merge must not resurrect the DV'd row")
    assert(SnapshotStore.read(spark, dir2)
      .filter(col("k") === 200L).select("v").as[Double].head() == -1.0)
  }

  test("MoR update: only matched rows written, pre-update-row RHS " +
    "(swap), read exact, CHECK constraints gate the updated images") {
    val dir = newDir("upd"); quartStore(dir)
    val before = genDirsOnDisk(dir)
    val r = SnapshotStore.dml(spark, dir,
      Dml.Update(Seq("v" -> (col("v") * 2))),
      col("k") >= 204L && col("k") <= 206L, mode = Dml.MoR)
    assert(r.dvRows == 3L && r.rewrittenDirs <= 2,
      s"3 matched rows DV'd, at most one fresh gen per partition, got $r")
    assert((genDirsOnDisk(dir) -- before).size == 1,
      "exactly ONE fresh gen holds the 3 updated images")
    val got = SnapshotStore.read(spark, dir)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(got(204L) == 408.0 && got(205L) == 410.0 && got(206L) == 412.0)
    assert(got.size == 30 && got(203L) == 203.0, "unmatched rows intact")
    // swap semantics: both RHS see the pre-update row
    val d2 = newDir("swap")
    SnapshotStore.write(Seq((1L, "p0", 10.0, 20.0)).toDF("k", "p", "a", "b"),
      d2, "p")
    SnapshotStore.dml(spark, d2,
      Dml.Update(Seq("a" -> col("b"), "b" -> col("a"))), col("k") === 1L,
      mode = Dml.MoR)
    val sw = SnapshotStore.read(spark, d2)
      .select("a", "b").as[(Double, Double)].head()
    assert(sw == ((20.0, 10.0)), s"SET a=b, b=a must SWAP, got $sw")
    // the CHECK gate runs over the updated images
    val d3 = newDir("chk")
    SnapshotStore.write(Seq((1L, "p0", 5.0)).toDF("k", "p", "v"), d3, "p")
    SnapshotStore.addConstraint(spark, d3, "v_pos", "v >= 0")
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.dml(spark, d3,
        Dml.Update(Seq("v" -> (col("v") - 100.0))), col("k") === 1L,
        mode = Dml.MoR)
    }
    assert(e.getMessage.contains("v_pos"))
  }

  test("changes() across MoR commits: the delete feed is exact; a MoR " +
    "update feeds update_pre+postimage pairs") {
    val dir = newDir("cdc"); quartStore(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L, mode = Dml.MoR)
    val del = SnapshotStore.changes(spark, dir, 3, 4, Seq("k"))
      .select("_change_type", "k").as[(String, Long)].collect().sorted
    assert(del.toSeq ==
      Seq(206L, 207L, 208L, 209L).map(("delete", _)).sorted,
      s"got ${del.toSeq}")
    SnapshotStore.dml(spark, dir,
      Dml.Update(Seq("v" -> lit(-1.0))), col("k") === 200L, mode = Dml.MoR)
    val upd = SnapshotStore.changes(spark, dir, 4, 5, Seq("k"))
      .select("_change_type", "k", "v").as[(String, Long, Double)]
      .collect().sortBy(_._1)
    assert(upd.toSeq == Seq(("update_postimage", 200L, -1.0),
      ("update_preimage", 200L, 200.0)), s"got ${upd.toSeq}")
  }

  test("compaction is the debt collector: a DV'd partition qualifies, " +
    "rewrites clean, and the refs leave the manifest") {
    val dir = newDir("compact"); quartStore(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L, mode = Dml.MoR)
    val n = SnapshotStore.compactPartitions(spark, dir, "p")
    assert(n == 2, s"both partitions hold DV'd fields, got $n")
    val head = SnapshotStore.headVersion(spark, dir).get
    val fields = SnapshotStore.readManifestDirs(spark, dir, head)
    assert(fields.forall(f => !f.contains("\u0003")),
      "post-compaction fields must carry no DV suffix")
    assert(SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L) ++ (200L to 205L)).sorted)
    val (c, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      lit(true))
    assert(c == 26L && scanned == 0)
  }

  test("retention: a sidecar referenced by any retained field survives " +
    "the sweep; one referenced by nothing ages out") {
    val dir = newDir("gc"); quartStore(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L, mode = Dml.MoR)
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(dvDirsOnDisk(dir).size == 1,
      "the head references the sidecar — the sweep must keep it")
    assert(SnapshotStore.read(spark, dir).count() == 26)
    // compaction replaces the DV'd fields; the next sweep collects
    SnapshotStore.compactPartitions(spark, dir, "p")
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(dvDirsOnDisk(dir).isEmpty,
      "an unreferenced sidecar is garbage like any unreferenced gen")
    assert(SnapshotStore.read(spark, dir).count() == 26)
  }

  test("backfillStats re-blobs a DV'd dir physically and carries the " +
    "suffix forward — count stays exact, skipping works") {
    val dir = newDir("backfill")
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p") // NOTHING declared
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    // ambiguous everywhere (no stats): MoR-delete two rows
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 5L ||
      col("k") === 105L, mode = Dml.MoR)
    SnapshotStore.backfillStats(spark, dir, statsCols = Seq("k"))
    val (c, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      lit(true))
    assert(c == 18L && scanned == 0,
      s"backfilled physical counts minus carried DV refs, got ($c, $scanned)")
    assert(SnapshotStore.read(spark, dir).count() == 18)
    // the backfilled bounds prune: a read outside every range opens 0
    val (c2, scanned2) = SnapshotStore.countWhereDetailed(spark, dir,
      col("k") > 5000L)
    assert(c2 == 0L && scanned2 == 0)
  }

  test("history() row counts read through DVs; the MoR version carries " +
    "its own committed_at like any commit") {
    val dir = newDir("hist"); quartStore(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L, mode = Dml.MoR)
    val rows = SnapshotStore.history(spark, dir)
      .select("version", "operation", "n_rows")
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(rows.last == ((4, "delete", 26L)), s"got ${rows.toSeq}")
    assert(rows(2) == ((3, "append", 30L)))
  }

  test("partition values needing escaping (spaces, percent) annotate " +
    "correctly — the URI-encoded _metadata path never leaks into the " +
    "manifest dir key") {
    // the sf0.01 verify gate caught exactly this: '4-NOT SPECIFIED'
    // reads %20-encoded from _metadata.file_path, and a string-matched
    // counts key silently skipped the field's annotation
    val dir = newDir("esc")
    val df = (0 until 12).map(i =>
      (i.toLong, if (i % 2 == 0) "NOT SPECIFIED" else "a%b c", i * 1.0))
      .toDF("k", "p", "v")
    SnapshotStore.write(df, dir, "p", statsCols = Seq("k"))
    val r = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") === 4L || col("k") === 5L, mode = Dml.MoR)
    assert(r.dvRows == 2L && r.dvDirs == 2,
      s"both escaped partitions must take their annotation, got $r")
    assert(SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq ==
      (0L until 12L).filterNot(k => k == 4L || k == 5L))
    val (c, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      lit(true))
    assert(c == 10L && scanned == 0, s"got ($c, $scanned)")
  }

  test("materializeDvs pays ONLY the debt: DV'd fields rewrite clean, " +
    "every other field copies forward verbatim") {
    val dir = newDir("mat"); quartStore(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L, mode = Dml.MoR)
    val preFields = SnapshotStore.readManifestDirs(spark, dir,
      SnapshotStore.headVersion(spark, dir).get)
    val untouched = preFields.filter(f => !f.contains("\u0003")).toSet
    val n = SnapshotStore.materializeDvs(spark, dir)
    assert(n == 2, s"both partitions held DV'd fields, got $n")
    val postFields = SnapshotStore.readManifestDirs(spark, dir,
      SnapshotStore.headVersion(spark, dir).get)
    assert(postFields.forall(f => !f.contains("\u0003")),
      "no DV suffix may survive materialization")
    assert(untouched.subsetOf(postFields.toSet),
      "non-DV'd fields must copy forward VERBATIM — materialization " +
        "is not compaction (untouched gens keep their text, stats and all)")
    assert(SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L) ++ (200L to 205L)).sorted)
    // a second sweep finds nothing; the sidecar ages out at expire
    assert(SnapshotStore.materializeDvs(spark, dir) == 0)
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(dvDirsOnDisk(dir).isEmpty)
  }

  test("branch MoR DML: the audit-fix loop at matched-rows cost — fork " +
    "slices kept unread, main pinned until publish, refs publish into " +
    "main verbatim") {
    val dir = newDir("branch"); quartStore(dir)
    val mainHead = SnapshotStore.headVersion(spark, dir).get
    SnapshotStore.branchCreate(spark, dir, "aud")
    // stage a candidate slab (k in 300..309)
    SnapshotStore.append(
      (0 until 10).map(i => (300L + i, s"p${i % 2}", (300 + i) * 1.0))
        .toDF("k", "p", "v"), dir, "p", target = Dml.Branch("aud"))
    // MoR-purge two flagged candidate rows: the fork's 6 slices prove
    // NoMatch from their blobs (kept unread), only the staged gen's
    // slices take positions
    val del = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") === 304L || col("k") === 305L, Dml.Branch("aud"), Dml.MoR)
    assert(del.dvRows == 2L && del.rewrittenDirs == 0 && del.keptDirs >= 6,
      s"fork slices must prove NoMatch and stay unread, got $del")
    // MoR-redact one candidate field in place
    val upd = SnapshotStore.dml(spark, dir,
      Dml.Update(Seq("v" -> lit(-1.0))), col("k") === 306L,
      Dml.Branch("aud"), Dml.MoR)
    assert(upd.dvRows == 1L, s"got $upd")
    assert(SnapshotStore.headVersion(spark, dir).contains(mainHead),
      "main must not move while the branch is audited")
    val tip = SnapshotStore.read(spark, dir, target = Dml.Branch("aud"))
    assert(tip.count() == 38 &&
      tip.filter(col("k") === 306L).select("v").as[Double].head() == -1.0)
    SnapshotStore.publishBranch(spark, dir, "aud")
    val main = SnapshotStore.read(spark, dir)
    assert(main.count() == 38 &&
      main.filter(col("k") === 304L).count() == 0 &&
      main.filter(col("k") === 306L).select("v").as[Double].head() == -1.0,
      "published fields carry their DV refs into main verbatim")
  }

  test("SQL verbs: graft_delete_mor / graft_update_mor / " +
    "graft_materialize_dvs run the library code paths with receipts") {
    val dir = newDir("sql"); quartStore(dir)
    graft.plans.AsOf.register(spark)
    val d = spark.sql(
      s"SELECT * FROM graft_delete_mor('$dir', 'k > 205')").head()
    assert(d.getAs[Long]("dv_rows") == 4L &&
      d.getAs[Long]("dropped_dirs") == 0L)
    val u = spark.sql(
      s"SELECT * FROM graft_update_mor('$dir', 'k = 200', 'v', 'v + 1')")
      .head()
    assert(u.getAs[Long]("dv_rows") == 1L)
    val m = spark.sql(
      s"SELECT * FROM graft_materialize_dvs('$dir')").head()
    assert(m.getAs[Long]("partitions") == 2L)
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 200L).select("v").as[Double].head() == 201.0)
    assert(SnapshotStore.read(spark, dir).count() == 26)
  }

  test("readWhere prunes DV'd stores normally and never returns a " +
    "deleted row, even when the predicate targets deleted keys") {
    val dir = newDir("probe"); quartStore(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 207L, mode = Dml.MoR)
    assert(SnapshotStore.readWhere(spark, dir, col("k") === 207L)
      .count() == 0, "the deleted needle must not be readable")
    assert(SnapshotStore.readWhere(spark, dir, col("k") === 206L)
      .count() == 1)
    // branch forked from a DV'd head reads through the fork's DVs
    SnapshotStore.branchCreate(spark, dir, "aud")
    assert(SnapshotStore.read(spark, dir, target = Dml.Branch("aud"))
      .filter(col("k") === 207L).count() == 0)
    assert(SnapshotStore.read(spark, dir,
      target = Dml.Branch("aud")).count() == 29)
  }

  test("MoR DML over FILE-grain manifest fields (r17): positions hitting " +
    "a kept file field from a prior copy-on-write split annotate THAT " +
    "field — the rows actually leave, nothing is stranded in the sidecar") {
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try {
      val dir = newDir("filemor")
      // one partition, one gen, 100 rows sorted by k → 5 files with
      // disjoint k-ranges; the CoW needle delete splits the slice and
      // re-enters the 4 untouched files as first-class FILE fields
      SnapshotStore.write(
        (0 until 100).map(i => (i.toLong, "p0", i * 1.0))
          .toDF("k", "p", "v"),
        dir, "p", statsCols = Seq("k"), sortCols = Seq("k"))
      val cow = SnapshotStore.dml(spark, dir, Dml.Delete,
        col("k") === 50L)
      assert(cow.keptFiles == 4, s"fixture needs the file split, got $cow")
      // MoR delete whose ONLY hits live inside one kept FILE field: the
      // dir-keyed count bug left the field un-annotated (dvRows in the
      // receipt, rows resurrected on read, orphan sidecar)
      val r = SnapshotStore.dml(spark, dir, Dml.Delete,
        col("k") === 7L || col("k") === 12L, mode = Dml.MoR)
      assert(r.dvRows == 2L && r.dvDirs == 1 && r.rewrittenDirs == 0,
        s"two positions in one slice dir, zero rewrites, got $r")
      val ks = SnapshotStore.read(spark, dir)
      assert(ks.filter(col("k").isin(7L, 12L)).count() == 0,
        "rows living in a FILE field must actually leave on MoR delete")
      assert(ks.count() == 97)
      // the per-FIELD deleted count is exact: metadata COUNT serves
      val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
        lit(true))
      assert(cnt == 97L && scanned == 0, s"got ($cnt, $scanned)")
      // MoR UPDATE against another kept file field: the pre-image is
      // DV'd out (no duplicate) and the fresh image appends
      val r2 = SnapshotStore.dml(spark, dir,
        Dml.Update(Seq("v" -> lit(-5.0))), col("k") === 25L, mode = Dml.MoR)
      assert(r2.dvRows == 1L, s"got $r2")
      val after = SnapshotStore.read(spark, dir)
      assert(after.filter(col("k") === 25L).select("v").as[Double]
        .collect().toSeq == Seq(-5.0),
        "the old image must not survive beside the update")
      assert(after.count() == 97)
      // history untouched by either MoR commit
      assert(SnapshotStore.read(spark, dir, Some(2)).count() == 99)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("MoR update that assigns the partition column moves the rows: " +
    "read once, from the new partition; the old positions are " +
    "deletion-vectored; an existing destination keeps its fields") {
    import graft.storage.CatalogBridge
    val dir = newDir("move"); quartStore(dir)
    SnapshotStore.append(Seq((300L, "p2", 300.0)).toDF("k", "p", "v"),
      dir, "p")
    val v0 = SnapshotStore.headVersion(spark, dir).get
    val prior = CatalogBridge.priorFields(spark, dir, v0, Seq("p2"))("p2")
    // k = 100 and 102 live in p0
    val r = SnapshotStore.dml(spark, dir, Dml.Update(Seq("p" -> lit("p2"))),
      col("k") === 100L || col("k") === 102L, mode = Dml.MoR)
    assert(r.version == v0 + 1 && r.dvRows == 2L, s"receipt $r")
    val all = SnapshotStore.read(spark, dir)
    assert(all.count() == 31L)
    assert(all.groupBy("k").count().filter(col("count") > 1).isEmpty,
      "a moved row must be read once")
    assert(all.filter(col("p") === "p2").select("k").as[Long].collect()
      .sorted.toSeq == Seq(100L, 102L, 300L))
    assert(all.filter(col("p") === "p0" && col("k").isin(100L, 102L))
      .isEmpty, "the old positions must be deletion-vectored")
    val moved = CatalogBridge.priorFields(spark, dir, v0 + 1, Seq("p2"))("p2")
    assert(moved.startsWith(prior) && moved.size == prior.size + 1,
      s"the destination's prior fields must stay: $prior vs $moved")
  }
}
