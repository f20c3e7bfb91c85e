package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** Branches (write-audit-publish) over the snapshot store
  * ([[SnapshotStore.branchCreate]], the data verbs with a `Dml.Branch`
  * target, publishBranch/dropBranch): staged candidate commits, audit
  * reads, atomic fast-forward publish enforced by the manifest CAS, and
  * the expire interplay (staged gens live until publish or drop).
  */
class SnapshotBranchSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_branch_$tag").toString + "/st"

  private def chunk(lo: Long, n: Int = 4) =
    (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
      .toDF("k", "p", "v")

  test("WAP lifecycle: staged writes leave the head untouched, the audit " +
    "read sees them, publish fast-forwards them in one commit, the " +
    "branch is gone afterwards") {
    val dir = newDir("wap")
    SnapshotStore.write(chunk(0L), dir, "p")
    SnapshotStore.branchCreate(spark, dir, "staging")
    SnapshotStore.append(chunk(100L), dir, "p", target = Dml.Branch("staging"))
    SnapshotStore.append(chunk(200L), dir, "p", target = Dml.Branch("staging"))
    assert(SnapshotStore.headVersion(spark, dir).contains(1),
      "staged writes must not advance the main head")
    assert(SnapshotStore.read(spark, dir).count() == 4)
    val audit = SnapshotStore.read(spark, dir, target = Dml.Branch("staging"))
    assert(audit.select("k").as[Long].collect().sorted.toSeq ==
      ((0L to 3L) ++ (100L to 103L) ++ (200L to 203L)))
    assert(SnapshotStore.branches(spark, dir) == Map("staging" -> 2))
    val v = SnapshotStore.publishBranch(spark, dir, "staging")
    assert(v == 2 && SnapshotStore.headVersion(spark, dir).contains(2))
    assert(SnapshotStore.read(spark, dir).count() == 12,
      "publish lands every staged batch atomically")
    assert(SnapshotStore.read(spark, dir, Some(1)).count() == 4,
      "the pre-publish version stays readable (time travel)")
    assert(SnapshotStore.branches(spark, dir).isEmpty,
      "publish retires the branch")
    intercept[IllegalArgumentException](
      SnapshotStore.read(spark, dir, target = Dml.Branch("staging")))
  }

  test("fast-forward refusal: a main head that advanced past the fork " +
    "point refuses publish loudly; the branch stays auditable and " +
    "droppable") {
    val dir = newDir("ff")
    SnapshotStore.write(chunk(0L), dir, "p")
    SnapshotStore.branchCreate(spark, dir, "cand")
    SnapshotStore.append(chunk(100L), dir, "p", target = Dml.Branch("cand"))
    SnapshotStore.append(chunk(500L), dir, "p") // main moves
    val e = intercept[IllegalStateException](
      SnapshotStore.publishBranch(spark, dir, "cand"))
    assert(e.getMessage.contains("main advanced"))
    assert(SnapshotStore.read(spark, dir,
      target = Dml.Branch("cand")).count() == 8,
      "a refused branch is still auditable")
    assert(SnapshotStore.read(spark, dir).count() == 8,
      "main holds ITS append, not the branch's")
    assert(SnapshotStore.dropBranch(spark, dir, "cand"))
    assert(!SnapshotStore.dropBranch(spark, dir, "cand"))
  }

  test("publish refuses into an EXPIRED mid-history slot: when main " +
    "advanced past the fork AND expire deleted _manifest-<base+1>, the " +
    "CAS alone would WIN into a dead version — the head pin refuses " +
    "instead of silently dropping the staged corpus") {
    val dir = newDir("expslot")
    SnapshotStore.write(chunk(0L), dir, "p") // v1
    SnapshotStore.branchCreate(spark, dir, "stale") // fork = 1
    SnapshotStore.append(chunk(100L), dir, "p", target = Dml.Branch("stale"))
    SnapshotStore.append(chunk(500L), dir, "p") // v2
    SnapshotStore.append(chunk(600L), dir, "p") // v3
    SnapshotStore.append(chunk(700L), dir, "p") // v4
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(!new java.io.File(s"$dir/_manifest-2").exists(),
      "precondition: the successor manifest slot is expired")
    val e = intercept[IllegalStateException](
      SnapshotStore.publishBranch(spark, dir, "stale"))
    assert(e.getMessage.contains("main advanced"))
    assert(SnapshotStore.headVersion(spark, dir).contains(4) &&
      SnapshotStore.read(spark, dir).count() == 16,
      "the head is untouched by the refused publish")
    assert(SnapshotStore.read(spark, dir,
      target = Dml.Branch("stale")).count() == 8,
      "the refused branch is still auditable")
  }

  test("retention protects EVERY staged version's gens, not just the " +
    "tip's: a branch MERGE replaces touched partitions' staged dirs, so " +
    "a gen referenced only by the pre-merge staged version must still " +
    "survive the sweep while the chain exists") {
    val dir = newDir("premerge")
    // single partition so the merge replaces the appended gen's only dir
    def ones(lo: Long) = (0 until 3)
      .map(i => (lo + i, "p0", (lo + i) * 1.0)).toDF("k", "p", "v")
    SnapshotStore.write(ones(0L), dir, "p")
    SnapshotStore.branchCreate(spark, dir, "chain")
    SnapshotStore.append(ones(100L), dir, "p",
      target = Dml.Branch("chain")) // staged k=1
    val dataDir = new java.io.File(s"$dir/data")
    val before = dataDir.listFiles().map(_.getName).toSet
    // staged k=2 REPLACES p0's dirs — the k=1 appended gen now lives only
    // in the non-tip staged file
    SnapshotStore.merge(spark, dir,
      Seq((100L, "p0", 999.0)).toDF("k", "p", "v"), "p", Seq("k"),
      target = Dml.Branch("chain"))
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    val after = dataDir.listFiles().map(_.getName).toSet
    assert(before.subsetOf(after),
      s"pre-merge staged gens must survive the sweep: lost ${before -- after}")
    // dropping the branch releases the whole chain to the next sweep
    SnapshotStore.dropBranch(spark, dir, "chain")
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(dataDir.listFiles().map(_.getName).toSet.size < after.size,
      "dropped-chain gens are garbage to the next sweep")
    assert(SnapshotStore.read(spark, dir).count() == 3,
      "main is untouched throughout")
  }

  test("expire interplay: gens referenced only by a staged branch " +
    "survive the sweep; dropping the branch releases them to the next " +
    "orphan sweep") {
    val dir = newDir("exp")
    SnapshotStore.write(chunk(0L), dir, "p")
    SnapshotStore.merge(spark, dir,
      Seq((0L, "p0", 99.0)).toDF("k", "p", "v"), "p", Seq("k"))
    SnapshotStore.branchCreate(spark, dir, "hold")
    SnapshotStore.append(chunk(100L), dir, "p", target = Dml.Branch("hold"))
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(SnapshotStore.read(spark, dir, target = Dml.Branch("hold"))
      .select("k").as[Long].collect().sorted.toSeq ==
      ((0L to 3L) ++ (100L to 103L)),
      "staged gens AND the fork point's gens must survive the sweep")
    val dataDir = new java.io.File(s"$dir/data")
    val before = dataDir.listFiles().length
    SnapshotStore.dropBranch(spark, dir, "hold")
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(dataDir.listFiles().length < before,
      "dropped-branch gens are garbage to the next sweep")
    assert(SnapshotStore.read(spark, dir).count() == 4,
      "main is untouched by the branch's whole lifecycle")
  }

  test("composes with the logical-name layer and additive evolution: a " +
    "branch forked after a rename writes under logical names; a branch " +
    "append may add a column; publish carries schema and renames") {
    val dir = newDir("evo")
    SnapshotStore.write(chunk(0L), dir, "p")
    SnapshotStore.renameColumn(spark, dir, "k", "key")
    SnapshotStore.branchCreate(spark, dir, "evo")
    SnapshotStore.append(
      Seq((100L, "p0", 1.0, "x")).toDF("key", "p", "v", "note"),
      dir, "p", target = Dml.Branch("evo"))
    val audit = SnapshotStore.read(spark, dir, target = Dml.Branch("evo"))
    assert(audit.columns.contains("key") && audit.columns.contains("note"))
    assert(audit.filter(col("key") < 100L).select("note")
      .collect().forall(_.isNullAt(0)),
      "legacy rows read NULL for the branch-added column")
    SnapshotStore.publishBranch(spark, dir, "evo")
    val head = SnapshotStore.read(spark, dir)
    assert(head.columns.contains("key") && head.columns.contains("note"))
    assert(head.count() == 5)
    // time travel BELOW the fork still reads the pre-rename-free schema
    assert(SnapshotStore.read(spark, dir, Some(1)).columns.toSet
      .contains("k"))
  }

  test("PRUNED audit (readWhere on a branch): staged gens carry stats " +
    "blobs, so a predicate audit opens only the gens it can touch — " +
    "parity with the full-filter audit, gens pinned") {
    val dir = newDir("prune")
    def rchunk(lo: Long) = (0 until 5)
      .map(i => (lo + i, "p0", (lo + i) * 1.0)).toDF("k", "p", "v")
    SnapshotStore.write(rchunk(0L), dir, "p", statsCols = Seq("k"))
    SnapshotStore.branchCreate(spark, dir, "audit")
    SnapshotStore.append(rchunk(100L), dir, "p", target = Dml.Branch("audit"))
    SnapshotStore.append(rchunk(200L), dir, "p", target = Dml.Branch("audit"))
    val pred = col("k") >= 100L && col("k") < 105L
    val pruned = SnapshotStore.readWhere(spark, dir, pred,
      target = Dml.Branch("audit"))
    val full = SnapshotStore.read(spark, dir,
      target = Dml.Branch("audit")).filter(pred)
    assert(pruned.select("k").as[Long].collect().toSet ==
      full.select("k").as[Long].collect().toSet)
    def gens(files: Array[String]) =
      files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet
    assert(gens(pruned.inputFiles).size == 1 &&
      gens(SnapshotStore.read(spark, dir, target = Dml.Branch("audit"))
        .inputFiles).size == 3,
      "the audit must open only the middle staged gen of three")
    // everything-pruned: empty frame, no dir listed
    val none = SnapshotStore.readWhere(spark, dir,
      col("k") >= 99999L,
      target = Dml.Branch("audit"))
    assert(none.count() == 0 && none.inputFiles.isEmpty)
    // partition-KEY restriction (r15) on the audit: equality on the
    // partition column filters staged KEYS before stats parse — a
    // different-partition audit sees nothing, the matching one sees all
    SnapshotStore.append(
      Seq((500L, "p9", 500.0)).toDF("k", "p", "v"), dir, "p",
      target = Dml.Branch("audit"))
    val slice = SnapshotStore.readWhere(spark, dir,
      col("p") === "p9",
      target = Dml.Branch("audit"))
    assert(slice.select("k").as[Long].collect().toSeq == Seq(500L))
    def parts(files: Array[String]) =
      files.flatMap(_.split("/_p=").lift(1)).map(_.split("/").head).toSet
    assert(parts(slice.inputFiles) == Set("p9"),
      "the audit must open only the requested partition's staged gens")
    // the AUDIT COUNT ("how many rows am I about to publish?") is
    // metadata-served over the staged blobs: gen-aligned predicates and
    // the unpredicated count touch no file; the SQL selector matches
    assert(SnapshotStore.countWhereDetailed(spark, dir,
      org.apache.spark.sql.functions.lit(true),
      target = Dml.Branch("audit")) == ((16L, 0)),
      "5 + 5 + 5 staged/base rows + the p9 row, zero dirs scanned")
    assert(SnapshotStore.countWhereDetailed(spark, dir,
      col("k") >= 100L && col("k") < 105L,
      target = Dml.Branch("audit")) == ((5L, 0)))
    assert(SnapshotStore.countWhere(spark, dir, col("k") >= 102L,
      target = Dml.Branch("audit")) ==
      SnapshotStore.read(spark, dir, target = Dml.Branch("audit"))
        .filter(col("k") >= 102L).count(),
      "ambiguous shapes agree with the scan")
    plans.AsOf.register(spark)
    val sqlCnt = spark.sql(
      s"SELECT * FROM graft_count('$dir', 'k >= 100 AND k < 105', " +
        "'branch:audit')").collect()(0)
    assert(sqlCnt.getLong(1) == 5L && sqlCnt.getLong(2) == 0L,
      "the SQL branch selector serves the audit count from metadata")
  }

  test("MERGE onto a branch (the CDC-shaped WAP write): update + insert " +
    "+ delete candidates stage against the TIP, audit sees the merged " +
    "state, the head stays untouched until publish") {
    val dir = newDir("merge")
    SnapshotStore.write(chunk(0L), dir, "p") // keys 0..3
    SnapshotStore.branchCreate(spark, dir, "cdc")
    SnapshotStore.append(chunk(100L), dir, "p",
      target = Dml.Branch("cdc")) // 100..103
    // merge AGAINST THE TIP: update k=100 (a branch-staged row), insert
    // k=500, delete k=1 (a fork-point row)
    SnapshotStore.merge(spark, dir,
      Seq((100L, "p0", 999.0, false), (500L, "p0", 500.0, false),
        (1L, "p1", 0.0, true)).toDF("k", "p", "v", "_del"),
      "p", Seq("k"), deleteCol = Some("_del"), target = Dml.Branch("cdc"))
    val audit = SnapshotStore.read(spark, dir, target = Dml.Branch("cdc"))
    assert(audit.filter(col("k") === 100L).select("v").as[Double]
      .collect().toSeq == Seq(999.0), "tip row updated")
    assert(audit.filter(col("k") === 1L).count() == 0, "fork row deleted")
    assert(audit.count() == 8, "4 base - 1 delete + 4 appended + 1 insert")
    assert(SnapshotStore.read(spark, dir).count() == 4 &&
      SnapshotStore.read(spark, dir).filter(col("k") === 1L).count() == 1,
      "the main head is untouched by the staged merge")
    SnapshotStore.publishBranch(spark, dir, "cdc")
    val head = SnapshotStore.read(spark, dir)
    assert(head.count() == 8 && head.filter(col("k") === 1L).count() == 0)
    assert(head.filter(col("k") === 100L).select("v").as[Double]
      .collect().toSeq == Seq(999.0))
  }

  private def pchunk(lo: Long, part: String, n: Int = 3) =
    (0 until n).map(i => (lo + i, part, (lo + i) * 1.0))
      .toDF("k", "p", "v")

  test("REBASE: a refused publish under a moving main line recovers by " +
    "re-pointing the fork base — metadata only, no gen rewritten; the " +
    "rebased tip carries BOTH main's commits and the staged corpus") {
    val dir = newDir("rebase")
    SnapshotStore.write(pchunk(0L, "m"), dir, "p") // v1
    SnapshotStore.branchCreate(spark, dir, "cand")
    SnapshotStore.append(pchunk(100L, "b"), dir, "p",
      target = Dml.Branch("cand"))
    val gensBefore = new java.io.File(s"$dir/data")
      .listFiles().map(_.getName).toSet
    SnapshotStore.append(pchunk(500L, "m"), dir, "p") // v2: main moves
    intercept[IllegalStateException](
      SnapshotStore.publishBranch(spark, dir, "cand"))
    val base = SnapshotStore.rebaseBranch(spark, dir, "cand")
    assert(base == 2, "rebase re-points the fork to the current head")
    // metadata-only: no new gen dir appeared beyond main's own append
    val gensAfter = new java.io.File(s"$dir/data")
      .listFiles().map(_.getName).toSet
    assert((gensAfter -- gensBefore).size == 1,
      "rebase must write no gen (only main's v2 append added one)")
    val audit = SnapshotStore.read(spark, dir, target = Dml.Branch("cand"))
    assert(audit.select("k").as[Long].collect().sorted.toSeq ==
      ((0L to 2L) ++ (100L to 102L) ++ (500L to 502L)),
      "the rebased tip = main head + the staged corpus")
    val v = SnapshotStore.publishBranch(spark, dir, "cand")
    assert(v == 3 && SnapshotStore.read(spark, dir).count() == 9)
    assert(SnapshotStore.read(spark, dir, Some(2))
      .select("k").as[Long].collect().sorted.toSeq ==
      ((0L to 2L) ++ (500L to 502L)),
      "main's own history is untouched by the rebase")
    // a no-op rebase (already on the head) succeeds quietly
    SnapshotStore.branchCreate(spark, dir, "noop")
    assert(SnapshotStore.rebaseBranch(spark, dir, "noop") == 3)
  }

  test("publishBranchRebased: the WAP publish LOOP as one verb — " +
    "rebases on the fast-forward refusal and retries; a genuine " +
    "partition conflict still refuses immediately; SQL gets it as " +
    "graft_publish_branch(path, name, 'rebase')") {
    plans.AsOf.register(spark)
    val dir = newDir("pubreb")
    SnapshotStore.write(pchunk(0L, "m"), dir, "p") // v1
    SnapshotStore.branchCreate(spark, dir, "loop")
    SnapshotStore.append(pchunk(100L, "b"), dir, "p",
      target = Dml.Branch("loop"))
    SnapshotStore.append(pchunk(500L, "m"), dir, "p") // v2: head moves
    assert(SnapshotStore.publishBranchRebased(spark, dir, "loop") == 3,
      "one call: rebase onto v2, publish as v3")
    assert(SnapshotStore.read(spark, dir).count() == 9)
    // the SQL flag drives the same loop
    SnapshotStore.branchCreate(spark, dir, "sq")
    SnapshotStore.append(pchunk(200L, "b2"), dir, "p",
      target = Dml.Branch("sq"))
    SnapshotStore.append(pchunk(600L, "m"), dir, "p") // v4
    val r = spark.sql(
      s"SELECT * FROM graft_publish_branch('$dir', 'sq', 'rebase')")
      .collect()
    assert(r(0).getString(0) == "publish_branch" && r(0).getLong(2) == 5L)
    assert(SnapshotStore.read(spark, dir).count() == 15)
    // a REAL conflict refuses through the loop (rebase cannot fix it)
    SnapshotStore.branchCreate(spark, dir, "conf")
    SnapshotStore.append(pchunk(300L, "m"), dir, "p",
      target = Dml.Branch("conf"))
    SnapshotStore.append(pchunk(700L, "m"), dir, "p")
    val e = intercept[IllegalStateException](
      SnapshotStore.publishBranchRebased(spark, dir, "conf"))
    assert(e.getMessage.contains("BOTH the branch and main"))
    intercept[IllegalArgumentException](spark.sql(
      s"SELECT * FROM graft_publish_branch('$dir', 'conf', 'bogus')")
      .collect())
  }

  test("REBASE refusal: a partition changed by BOTH the branch and main " +
    "since the fork refuses loudly, naming the partition; the branch " +
    "stays auditable") {
    val dir = newDir("rebconf")
    SnapshotStore.write(pchunk(0L, "m"), dir, "p")
    SnapshotStore.branchCreate(spark, dir, "cand")
    SnapshotStore.append(pchunk(100L, "m"), dir, "p",
      target = Dml.Branch("cand"))
    SnapshotStore.append(pchunk(500L, "m"), dir, "p")
    val e = intercept[IllegalStateException](
      SnapshotStore.rebaseBranch(spark, dir, "cand"))
    assert(e.getMessage.contains("'m'") &&
      e.getMessage.contains("BOTH the branch and main"))
    assert(SnapshotStore.read(spark, dir,
      target = Dml.Branch("cand")).count() == 6,
      "a refused rebase leaves the branch intact")
  }

  test("REBASE chains: a second rebase diffs against the FIRST rebase's " +
    "stored fork snapshot (not the possibly-expired manifest), and a " +
    "branch MERGE between rebases keeps the diff honest") {
    val dir = newDir("rebchain")
    SnapshotStore.write(pchunk(0L, "m"), dir, "p") // v1
    SnapshotStore.branchCreate(spark, dir, "cand")
    SnapshotStore.append(pchunk(100L, "b"), dir, "p",
      target = Dml.Branch("cand"))
    SnapshotStore.append(pchunk(500L, "m"), dir, "p") // v2
    assert(SnapshotStore.rebaseBranch(spark, dir, "cand") == 2)
    // merge ON the branch between rebases (replaces partition b's dirs)
    SnapshotStore.merge(spark, dir,
      Seq((100L, "b", 999.0)).toDF("k", "p", "v"), "p", Seq("k"),
      target = Dml.Branch("cand"))
    SnapshotStore.append(pchunk(600L, "m2"), dir, "p") // v3
    // expire the first fork version so only the stored snapshot can
    // serve the second rebase's diff
    SnapshotStore.append(pchunk(700L, "m2"), dir, "p") // v4
    SnapshotStore.expire(spark, dir, keep = 2, minAgeMs = 0L)
    assert(!new java.io.File(s"$dir/_manifest-2").exists(),
      "precondition: the first rebase's fork manifest is expired")
    assert(SnapshotStore.rebaseBranch(spark, dir, "cand") == 4)
    val v = SnapshotStore.publishBranch(spark, dir, "cand")
    assert(v == 5)
    val head = SnapshotStore.read(spark, dir)
    assert(head.count() == 3 + 3 + 6 + 3, "m(3) + m(3) + m2(6) + b(3)")
    assert(head.filter(col("k") === 100L).select("v").as[Double]
      .collect().toSeq == Seq(999.0), "the branch merge survived rebases")
  }

  test("REBASE composes with the logical-name layer: main renames a " +
    "column after the fork; the rebased branch adopts the head's " +
    "renames (physical names are stable, so staged gens read correctly)") {
    val dir = newDir("rebren")
    SnapshotStore.write(pchunk(0L, "m"), dir, "p")
    SnapshotStore.branchCreate(spark, dir, "cand")
    SnapshotStore.append(pchunk(100L, "b"), dir, "p",
      target = Dml.Branch("cand"))
    SnapshotStore.renameColumn(spark, dir, "k", "key") // main moves (v2)
    assert(SnapshotStore.rebaseBranch(spark, dir, "cand") == 2)
    val audit = SnapshotStore.read(spark, dir, target = Dml.Branch("cand"))
    assert(audit.columns.contains("key") && !audit.columns.contains("k"),
      "the rebased audit reads under the head's logical names")
    SnapshotStore.publishBranch(spark, dir, "cand")
    assert(SnapshotStore.read(spark, dir)
      .select("key").as[Long].collect().sorted.toSeq ==
      ((0L to 2L) ++ (100L to 102L)))
  }

  test("branch lifecycle: the catalog carries fork base and wall clocks; " +
    "expireBranches drops only branches older than the threshold and " +
    "releases their gens to the orphan sweep") {
    val dir = newDir("life")
    SnapshotStore.write(pchunk(0L, "m"), dir, "p")
    SnapshotStore.branchCreate(spark, dir, "old")
    SnapshotStore.append(pchunk(100L, "b"), dir, "p",
      target = Dml.Branch("old"))
    val infos = SnapshotStore.branchInfos(spark, dir)
    assert(infos.map(i => (i._1, i._2, i._3)) == Seq(("old", 1, 1)))
    assert(infos.head._4 > 0 && infos.head._5 >= infos.head._4,
      "created/modified clocks recorded")
    Thread.sleep(400)
    SnapshotStore.branchCreate(spark, dir, "fresh")
    assert(SnapshotStore.expireBranches(spark, dir, olderThanMs = 300L) ==
      Seq("old"), "only the aged branch drops")
    assert(SnapshotStore.branches(spark, dir).keySet == Set("fresh"))
    val dataDir = new java.io.File(s"$dir/data")
    val before = dataDir.listFiles().length
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(dataDir.listFiles().length < before,
      "the expired branch's staged gens are garbage to the sweep")
    assert(SnapshotStore.expireBranches(spark, dir, olderThanMs = 0L) ==
      Seq("fresh"), "threshold 0 drops everything")
  }

  test("SQL rebase + lifecycle verbs: graft_rebase_branch recovers the " +
    "SQL WAP loop under a moving head; 'branches' lists lifecycle " +
    "columns; graft_expire_branches sweeps by age") {
    plans.AsOf.register(spark)
    val dir = newDir("sqlreb")
    SnapshotStore.write(pchunk(0L, "m"), dir, "p")
    pchunk(100L, "b").createOrReplaceTempView("reb_cand")
    spark.sql(s"SELECT * FROM graft_branch('$dir', 'rb')")
    spark.sql(s"SELECT * FROM graft_append_branch('$dir', 'rb', " +
      "'reb_cand', 'p')")
    SnapshotStore.append(pchunk(500L, "m"), dir, "p") // head moves
    val cat = spark.sql(
      s"SELECT * FROM graft_snapshot('$dir', 'branches')").collect()
    assert(cat.length == 1 && cat(0).getString(0) == "rb" &&
      cat(0).getInt(1) == 1 && cat(0).getInt(2) == 1 &&
      cat(0).getLong(3) > 0L && cat(0).getLong(4) >= cat(0).getLong(3),
      "the catalog carries tip, base and both clocks")
    val rb = spark.sql(
      s"SELECT * FROM graft_rebase_branch('$dir', 'rb')").collect()
    assert(rb(0).getString(0) == "rebase_branch" && rb(0).getLong(2) == 2L)
    val pub = spark.sql(
      s"SELECT * FROM graft_publish_branch('$dir', 'rb')").collect()
    assert(pub(0).getLong(2) == 3L)
    assert(SnapshotStore.read(spark, dir).count() == 9)
    spark.sql(s"SELECT * FROM graft_branch('$dir', 'stale')")
    val ex = spark.sql(
      s"SELECT * FROM graft_expire_branches('$dir', '0')").collect()
    assert(ex(0).getString(0) == "expire_branches" && ex(0).getLong(2) == 1L)
    assert(SnapshotStore.branches(spark, dir).isEmpty)
  }

  test("SQL WAP loop end-to-end: graft_branch -> graft_append_branch + " +
    "graft_merge_branch -> audit -> graft_publish_branch") {
    plans.AsOf.register(spark)
    val dir = newDir("sqlwap")
    SnapshotStore.write(chunk(0L), dir, "p")
    chunk(100L).createOrReplaceTempView("wap_cand")
    Seq((0L, "p0", 77.0, false), (101L, "p1", 0.0, true))
      .toDF("k", "p", "v", "_del").createOrReplaceTempView("wap_cdc")
    spark.sql(s"SELECT * FROM graft_branch('$dir', 'sq')")
    val a = spark.sql(
      s"SELECT * FROM graft_append_branch('$dir', 'sq', 'wap_cand', 'p')")
      .collect()
    assert(a(0).getString(0) == "append_branch" && a(0).getLong(2) == 1L)
    val m = spark.sql(
      s"SELECT * FROM graft_merge_branch('$dir', 'sq', 'wap_cdc', 'p', " +
        "'k', '_del')").collect()
    assert(m(0).getString(0) == "merge_branch" && m(0).getLong(2) == 2L)
    val audit = spark.sql(
      s"SELECT * FROM graft_snapshot('$dir', 'branch:sq')")
    assert(audit.count() == 7, "4 + 4 appended - 1 deleted; update in place")
    assert(SnapshotStore.headVersion(spark, dir).contains(1))
    spark.sql(s"SELECT * FROM graft_publish_branch('$dir', 'sq')")
    val head = SnapshotStore.read(spark, dir)
    assert(head.count() == 7 &&
      head.filter(col("k") === 0L).select("v").as[Double]
        .collect().toSeq == Seq(77.0))
  }

  test("SQL rungs: graft_snapshot(path, 'branch:<name>') audits from " +
    "pure SQL, 'branches' lists the catalog; contract violations loud") {
    plans.AsOf.register(spark)
    val dir = newDir("sql")
    SnapshotStore.write(chunk(0L), dir, "p")
    SnapshotStore.branchCreate(spark, dir, "gate")
    SnapshotStore.append(chunk(100L), dir, "p", target = Dml.Branch("gate"))
    assert(spark.sql(
      s"SELECT * FROM graft_snapshot('$dir', 'branch:gate')").count() == 8)
    val cat = spark.sql(
      s"SELECT * FROM graft_snapshot('$dir', 'branches')").collect()
    assert(cat.length == 1 && cat(0).getString(0) == "gate" &&
      cat(0).getInt(1) == 1)
    intercept[Exception](spark.sql(
      s"SELECT * FROM graft_snapshot('$dir', 'branch:nope')").collect())
    intercept[IllegalArgumentException](
      SnapshotStore.branchCreate(spark, dir, "gate"))
    intercept[IllegalArgumentException](
      SnapshotStore.branchCreate(spark, dir, "bad/name"))
    intercept[IllegalArgumentException](
      SnapshotStore.branchCreate(spark, newDir("none"), "x"))
    // the WAP lifecycle verbs from pure SQL: publish the staged branch,
    // then create-and-drop a second one
    val pub = spark.sql(
      s"SELECT * FROM graft_publish_branch('$dir', 'gate')").collect()
    assert(pub(0).getString(0) == "publish_branch" &&
      pub(0).getLong(2) == 2L && pub(0).getLong(3) == 2L)
    assert(SnapshotStore.read(spark, dir).count() == 8)
    val cr = spark.sql(
      s"SELECT * FROM graft_branch('$dir', 'gate2')").collect()
    assert(cr(0).getString(0) == "branch" && cr(0).getLong(2) == 2L,
      "detail = the fork version")
    val dr = spark.sql(
      s"SELECT * FROM graft_drop_branch('$dir', 'gate2')").collect()
    assert(dr(0).getLong(2) == 1L)
    assert(SnapshotStore.branches(spark, dir).isEmpty)
  }
}
