package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** Predicate DML over the snapshot store ([[SnapshotStore.deleteWhere]] /
  * [[SnapshotStore.updateWhere]]): stats-pruned copy-on-write at
  * (partition, gen) granularity with a metadata-only fast path for
  * provably-all-match delete slices. Pins exactness against the
  * read-filter reference, the scan-cost receipts, SQL three-valued
  * semantics (pred-NULL rows survive a delete), preimage UPDATE
  * semantics (`SET a = b, b = a` swaps), time travel across DML commits,
  * the CDF of a DML commit, rename composition, the partition-column
  * refusal, the CAS race, and the SQL verbs.
  */
class SnapshotDmlSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_dml_$tag").toString + "/st"

  /** 3 gens with disjoint k-ranges, each spanning partitions p0/p1. */
  private def quartStore(dir: String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    SnapshotStore.append(chunk(200L, 10), dir, "p")
  }

  test("gen-aligned delete is a pure metadata operation: all-match " +
    "slices leave the manifest unread, no-match slices untouched") {
    val dir = newDir("meta"); quartStore(dir)
    val r = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") >= 100L && col("k") < 110L)
    assert(r.version == 4)
    assert(r.droppedDirs == 2 && r.rewrittenDirs == 0,
      s"the middle gen's two partition slices must drop as metadata, " +
        s"got $r")
    assert(SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq ==
      ((0L until 10L) ++ (200L until 210L)).sorted)
    // history intact: the pre-delete version still reads the middle gen
    assert(SnapshotStore.read(spark, dir, Some(3)).count() == 30)
  }

  test("ambiguous delete pays copy-on-write only for the slices the " +
    "stats cannot decide; survivors exact; pred-NULL rows survive") {
    val dir = newDir("cow"); quartStore(dir)
    // 205 splits the last gen: its slices are ambiguous, gens 1-2 no-match
    val r = SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L)
    assert(r.droppedDirs == 0 && r.rewrittenDirs == 2 && r.keptDirs == 4,
      "only the last gen's two slices rewrite (the touched partitions' " +
        s"four earlier slices copy forward verbatim), got $r")
    assert(SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq ==
      ((0L until 10L) ++ (100L until 110L) ++ (200L to 205L)).sorted)
    // three-valued DELETE: rows where the predicate is NULL survive
    val d2 = newDir("null3")
    SnapshotStore.write(
      Seq((1L, "p0", Some(1.0)), (2L, "p0", None), (3L, "p0", Some(9.0)))
        .toDF("k", "p", "n"), d2, "p")
    SnapshotStore.deleteWhere(spark, d2, col("n") > 5.0)
    assert(SnapshotStore.read(spark, d2).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L),
      "k=2 (n NULL) must survive DELETE WHERE n > 5")
  }

  test("deleting every row of a partition drops it from the manifest; " +
    "a provable no-op commits no version") {
    val dir = newDir("dropall"); quartStore(dir)
    val head = SnapshotStore.headVersion(spark, dir).get
    val noop = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") > 10000L)
    assert(noop.version == head &&
      SnapshotStore.headVersion(spark, dir).contains(head),
      "a predicate no gen can match commits nothing")
    SnapshotStore.deleteWhere(spark, dir, col("p") === "p1")
    val left = SnapshotStore.read(spark, dir)
    assert(left.filter(col("p") === "p1").count() == 0)
    assert(left.count() == 15)
    assert(SnapshotStore.readPartitions(spark, dir, Seq("p1")).count() == 0,
      "the emptied partition's manifest entry is gone")
  }

  test("update: conditional assignment exact, no-match slices untouched, " +
    "every RHS sees the PRE-update row (SET v = k, k = v swaps)") {
    val dir = newDir("upd"); quartStore(dir)
    val before = SnapshotStore.read(spark, dir)
      .filter(col("k") < 100L).select("k", "v")
      .as[(Long, Double)].collect().toMap
    val r = SnapshotStore.dml(spark, dir,
      Dml.Update(Seq("v" -> col("v") * 2)), col("k") >= 100L && col("k") < 110L)
    assert(r.rewrittenDirs == 2 && r.droppedDirs == 0,
      s"only the middle gen's two slices rewrite, got $r")
    val after = SnapshotStore.read(spark, dir)
    assert(after.filter(col("k") >= 100L && col("k") < 110L)
      .filter(col("v") =!= col("k") * 2.0).count() == 0,
      "matched rows updated")
    assert(after.filter(col("k") < 100L).select("k", "v")
      .as[(Long, Double)].collect().toMap == before,
      "unmatched rows byte-identical")
    // swap pin: both RHS evaluate against the preimage in one select
    val d2 = newDir("swap")
    SnapshotStore.write(Seq((1L, "p0", 10.0)).toDF("k", "p", "v"),
      d2, "p")
    SnapshotStore.updateWhere(spark, d2,
      Seq("k" -> col("v").cast("long"), "v" -> col("k").cast("double")),
      lit(true))
    assert(SnapshotStore.read(spark, d2).select("k", "v")
      .as[(Long, Double)].collect().toSeq == Seq((10L, 1.0)),
      "SET k = v, v = k must swap, not chain")
  }

  test("update refusals are loud: unknown column, duplicate " +
    "assignment; assigning the partition column moves the rows; update " +
    "never evolves the schema (RHS casts to the column's existing type)") {
    val dir = newDir("refuse"); quartStore(dir)
    SnapshotStore.updateWhere(spark, dir, Seq("p" -> lit("px")),
      col("k") >= 200L && col("p") === "p0")
    assert(SnapshotStore.readPartitions(spark, dir, Seq("px"))
      .select("k").as[Long].collect().sorted.toSeq ==
      (200L until 210L by 2L), "the matched rows move to 'px'")
    assert(SnapshotStore.read(spark, dir).count() == 30)
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.updateWhere(spark, dir, Seq("nope" -> lit(1)),
        lit(true)))
    assert(e2.getMessage.contains("not in the store's schema"))
    val e3 = intercept[IllegalArgumentException](
      SnapshotStore.updateWhere(spark, dir,
        Seq("v" -> lit(1.0), "v" -> lit(2.0)), lit(true)))
    assert(e3.getMessage.contains("twice"))
    // an int literal assigned to the double column lands as double
    SnapshotStore.updateWhere(spark, dir, Seq("v" -> lit(7)),
      col("k") === 0L)
    val sch = SnapshotStore.read(spark, dir).schema
    assert(sch("v").dataType == org.apache.spark.sql.types.DoubleType)
  }

  test("the CDF of a DML commit is the row-level delta: deletes from " +
    "deleteWhere (metadata AND copy-on-write paths), update pairs from " +
    "updateWhere") {
    val dir = newDir("cdf"); quartStore(dir)
    SnapshotStore.deleteWhere(spark, dir,
      (col("k") >= 100L && col("k") < 110L) || col("k") > 205L)
    val del = SnapshotStore.changes(spark, dir, 3, 4, Seq("k"))
    assert(del.filter(col("_change_type") =!= "delete").count() == 0)
    assert(del.select("k").as[Long].collect().sorted.toSeq ==
      ((100L until 110L) ++ (206L until 210L)).sorted)
    SnapshotStore.updateWhere(spark, dir, Seq("v" -> (col("v") + 1000.0)),
      col("k") <= 1L)
    val upd = SnapshotStore.changes(spark, dir, 4, 5, Seq("k"))
    assert(upd.filter(col("_change_type").startsWith("update")).count() == 4,
      "two updated keys contribute pre+post images")
    assert(upd.filter(col("_change_type") === "update_postimage")
      .select("v").as[Double].collect().sorted.toSeq ==
      Seq(1000.0, 1001.0))
  }

  test("DML composes with rename: predicate and assignment resolve " +
    "logical names over the stable physical layout") {
    val dir = newDir("ren"); quartStore(dir)
    SnapshotStore.renameColumn(spark, dir, "v", "score")
    val r = SnapshotStore.dml(spark, dir,
      Dml.Update(Seq("score" -> col("score") * 10)), col("k") === 200L)
    assert(r.rewrittenDirs == 1, s"stats prune under the rename, got $r")
    assert(SnapshotStore.read(spark, dir).filter(col("k") === 200L)
      .select("score").as[Double].head() == 2000.0)
    SnapshotStore.deleteWhere(spark, dir, col("score") >= 2000.0)
    assert(SnapshotStore.read(spark, dir).filter(col("k") === 200L)
      .count() == 0)
  }

  test("a concurrent commit makes DML lose the CAS loudly and leak " +
    "nothing") {
    val dir = newDir("race"); quartStore(dir)
    val e = intercept[java.util.ConcurrentModificationException](
      SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L,
        beforeCommit = () => SnapshotStore.append(
          Seq((900L, "p0", 9.0)).toDF("k", "p", "v"), dir, "p")))
    assert(e.getMessage.contains("lost the race"))
    // the loser's staged gen is cleaned; the interloper's append stands
    assert(SnapshotStore.read(spark, dir).count() == 31)
    val r = SnapshotStore.dml(spark, dir, Dml.Delete, col("k") > 205L)
    assert(r.version == 5 &&
      SnapshotStore.read(spark, dir).count() == 26,
      "retry against the new head lands (900 > 205 deletes too)")
  }

  test("history records operation provenance: every verb stamps its " +
    "version; legacy versions read 'commit'; expire sweeps the stamps") {
    val dir = newDir("ops"); quartStore(dir)
    SnapshotStore.deleteWhere(spark, dir, col("k") > 205L)
    SnapshotStore.updateWhere(spark, dir, Seq("v" -> (col("v") * 2)),
      col("k") === 0L)
    SnapshotStore.merge(spark, dir,
      Seq((500L, "p0", 5.0)).toDF("k", "p", "v"), "p", Seq("k"))
    SnapshotStore.compactPartitions(spark, dir, "p", minDirs = 2)
    SnapshotStore.rollback(spark, dir, 6)
    SnapshotStore.renameColumn(spark, dir, "v", "score")
    val ops = SnapshotStore.history(spark, dir).orderBy("version")
      .collect().map(r => r.getAs[String]("operation")).toSeq
    assert(ops == Seq("write", "append", "append", "delete", "update",
      "merge", "compact", "rollback", "rename_column"),
      s"got $ops")
    // a stamp-less version (legacy) reads "commit"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_op-1"), false)
    assert(SnapshotStore.operationOf(spark, dir, 1) == "commit")
    SnapshotStore.expire(spark, dir, keep = 2, minAgeMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_op-4")),
      "expire sweeps the provenance stamp with the version")
  }

  test("SQL verbs: graft_delete / graft_update run the same code path " +
    "and surface the scan-cost receipt") {
    plans.AsOf.register(spark)
    val dir = newDir("sql"); quartStore(dir)
    val d = spark.sql(
      s"SELECT * FROM graft_delete('$dir', 'k >= 100 and k < 110')")
      .collect()(0)
    assert(d.getString(0) == "delete" && d.getLong(2) == 2L &&
      d.getLong(3) == 0L && d.getLong(4) == 4L,
      s"receipt must show the metadata-only delete, got $d")
    val u = spark.sql(
      s"SELECT * FROM graft_update('$dir', 'k < 5', 'v', 'v + 0.5')")
      .collect()(0)
    assert(u.getString(0) == "update" && u.getLong(3) == 2L &&
      u.getLong(4) == 5L, s"both first-gen slices straddle k<5, got $u")
    val rows = SnapshotStore.read(spark, dir)
    assert(rows.count() == 20)
    assert(rows.filter(col("k") < 5L)
      .filter(col("v") =!= col("k") + 0.5).count() == 0)
  }

  test("FILE-granular copy-on-write (r16): a needle delete in a " +
    "multi-file slice rewrites ONE file, keeps the rest as first-class " +
    "file fields (served by their footer blobs), and drops file-aligned " +
    "ranges as pure metadata") {
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try {
      val dir = newDir("filecow")
      // one partition, one gen, 100 rows sorted by k → 5 files with
      // disjoint k-ranges [0,19][20,39]...[80,99]
      SnapshotStore.write(
        (0 until 100).map(i => (i.toLong, "p0", i * 1.0)).toDF("k", "p", "v"),
        dir, "p", statsCols = Seq("k"), sortCols = Seq("k"))
      // needle delete: only the [40,59] file can match
      val r = SnapshotStore.dml(spark, dir, Dml.Delete,
        col("k") === 50L)
      assert(r.rewrittenDirs == 1 && r.keptFiles == 4 &&
        r.droppedFiles == 0 && r.droppedDirs == 0,
        s"one file rewrites, four re-reference, got $r")
      assert(SnapshotStore.read(spark, dir).count() == 99)
      assert(SnapshotStore.read(spark, dir)
        .filter(col("k") === 50L).count() == 0)
      // the kept FILE fields are first-class: their blobs serve a
      // metadata-only count and prune a point read to one file
      val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
        col("k") >= 80L)
      assert(cnt == 20L && scanned == 0,
        s"kept file fields must serve the audit count, got ($cnt, $scanned)")
      val probe = SnapshotStore.readWhere(spark, dir, col("k") === 5L)
      assert(probe.inputFiles.length == 1,
        s"a point read must open ONE kept file, got " +
          s"${probe.inputFiles.length}")
      assert(probe.count() == 1)
      // file-aligned range delete on a fresh store: the aligned file
      // drops as metadata, one boundary file rewrites, three keep
      val dir2 = newDir("filedrop")
      SnapshotStore.write(
        (0 until 100).map(i => (i.toLong, "p0", i * 1.0)).toDF("k", "p", "v"),
        dir2, "p", statsCols = Seq("k"), sortCols = Seq("k"))
      val r2 = SnapshotStore.dml(spark, dir2, Dml.Delete,
        col("k") < 25L)
      assert(r2.droppedFiles == 1 && r2.rewrittenDirs == 1 &&
        r2.keptFiles == 3, s"[0,19] drops unread, [20,39] rewrites, got $r2")
      assert(SnapshotStore.read(spark, dir2).select("k").as[Long]
        .collect().sorted.toSeq == (25L until 100L))
      // UPDATE against the already-split head: the kept FILE fields are
      // ordinary fields now — the field-level verdict keeps two of them
      // unread and rewrites only the one whose range holds the key
      val r3 = SnapshotStore.dml(spark, dir2,
        Dml.Update(Seq("v" -> lit(-1.0))), col("k") === 70L)
      assert(r3.keptDirs == 3 && r3.rewrittenDirs == 1,
        s"update must touch one file field only, got $r3")
      val after = SnapshotStore.read(spark, dir2)
      assert(after.filter(col("v") === -1.0).select("k").as[Long]
        .collect().toSeq == Seq(70L))
      assert(after.count() == 75)
      // the changes feed across a file-split commit is the exact delta
      val feed = SnapshotStore.changes(spark, dir2, 2, 3, Seq("k"))
      assert(feed.filter(col("_change_type") === "update_postimage")
        .select("k").as[Long].collect().toSeq == Seq(70L),
        "identical kept-file rows must cancel in the CDF diff")
      // time travel: the pre-split version still reads whole
      assert(SnapshotStore.read(spark, dir2, Some(1)).count() == 100)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("BRANCH DML (r16): delete/updateBranchWhere fix the candidate " +
    "corpus in place — staged as the next tip with the same pruning, " +
    "main untouched, constraints gating, publish landing the fix") {
    val dir = newDir("branch"); quartStore(dir) // main: 30 rows, stats(k,v)
    SnapshotStore.branchCreate(spark, dir, "cand")
    SnapshotStore.append(
      (0 until 10).map(i => (500L + i, s"p${i % 2}", (500 + i) * 1.0))
        .toDF("k", "p", "v"), dir, "p", target = Dml.Branch("cand"))
    // audit flagged k in [500,505): purge from the CANDIDATE only.
    // Fork gens carry blobs (quartStore declares stats), so the main-line
    // slices inside the branch tip prove NoMatch and stay unread.
    val r = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") >= 500L && col("k") < 505L, Dml.Branch("cand"))
    assert(r.version == 2, s"create=0, append=1, delete stages 2, got $r")
    assert(r.rewrittenDirs == 2 && r.droppedDirs == 0 && r.keptDirs == 6,
      s"only the candidate gen's two slices rewrite, got $r")
    assert(SnapshotStore.read(spark, dir,
      target = Dml.Branch("cand")).count() == 35)
    assert(SnapshotStore.read(spark, dir).count() == 30,
      "main must be untouched by branch DML")
    // no-op predicate stages NO version
    val noop = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("k") === 99999L, Dml.Branch("cand"))
    assert(noop.version == 2 && noop.rewrittenDirs == 0)
    // in-place redaction, pre-update-row semantics
    SnapshotStore.dml(spark, dir,
      Dml.Update(Seq("v" -> lit(0.0))), col("k") >= 507L, Dml.Branch("cand"))
    assert(SnapshotStore.read(spark, dir, target = Dml.Branch("cand"))
      .filter(col("v") === 0.0 && col("k") >= 500L)
      .select("k").as[Long].collect().sorted
      .toSeq == Seq(507L, 508L, 509L))
    // the CHECK gate covers branch UPDATE's modified rows too
    SnapshotStore.addConstraint(spark, dir, "v_nonneg", "v >= 0")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.dml(spark, dir,
        Dml.Update(Seq("v" -> lit(-5.0))), col("k") === 506L,
        Dml.Branch("cand")))
    assert(e.getMessage.contains("v_nonneg"))
    // assigning the partition column moves rows on branches too
    SnapshotStore.dml(spark, dir,
      Dml.Update(Seq("p" -> lit("p9"))), col("k") === 506L,
      Dml.Branch("cand"))
    assert(SnapshotStore.read(spark, dir, target = Dml.Branch("cand"))
      .filter(col("p") === "p9").select("k").as[Long].collect().toSeq ==
      Seq(506L))
    // publish lands the FIXED corpus
    val v = SnapshotStore.publishBranch(spark, dir, "cand")
    val main = SnapshotStore.read(spark, dir)
    assert(v == 4 && main.count() == 35)
    assert(main.filter(col("v") === 0.0 && col("k") >= 500L).count() == 3)
  }

  test("the Hive NULL-sentinel dir name never consumes a conjunct: " +
    "deleting/counting p = '__HIVE_DEFAULT_PARTITION__' touches only " +
    "the LITERAL rows, never the partition's NULL-valued neighbours") {
    val dir = newDir("sentinel")
    SnapshotStore.write(Seq[(Long, String, Double)](
      (1L, "a", 1.0), (2L, null, 2.0), (3L, null, 3.0))
      .toDF("k", "p", "v"), dir, "p", statsCols = Seq("v"))
    SnapshotStore.append(Seq[(Long, String, Double)](
      (4L, "__HIVE_DEFAULT_PARTITION__", 4.0)).toDF("k", "p", "v"),
      dir, "p")
    // NULL rows and literal-sentinel rows share ONE manifest key
    // (Spark's Hive layout names both dirs '__HIVE_DEFAULT_PARTITION__')
    // — resolution may over-include, the VERDICT must re-evaluate,
    // never consume
    val (cnt, _) = SnapshotStore.countWhereDetailed(spark, dir,
      col("p") === "__HIVE_DEFAULT_PARTITION__")
    assert(cnt == 1, s"only the literal row counts, got $cnt")
    SnapshotStore.deleteWhere(spark, dir,
      col("p") === "__HIVE_DEFAULT_PARTITION__")
    val left = SnapshotStore.read(spark, dir).select("k")
      .as[Long].collect().toSet
    assert(left == Set(1L, 2L, 3L), s"NULL rows must survive, got $left")
    // an honest-value consumption on the same store stays metadata-only
    val (ca, sa) = SnapshotStore.countWhereDetailed(spark, dir,
      col("p") === "a")
    assert(ca == 1 && sa == 0, s"got ($ca, $sa)")
  }

  test("copy-on-write: a partition whose scan finds no match keeps its " +
    "manifest fields verbatim; a statement that matches nothing commits " +
    "nothing; rows an update moves into such a partition still land") {
    import graft.storage.CatalogBridge
    val dir = newDir("quiet")
    // no stats: every non-partition predicate is ambiguous everywhere
    SnapshotStore.write((0L until 6L).map(k => (k, s"p${k % 2}", k * 1.0))
      .toDF("k", "p", "v"), dir, "p")
    def fields(v: Int) = CatalogBridge.priorFields(spark, dir, v,
      Seq("p0", "p1"))
    def gens = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).toSet
    val before = fields(1)
    val r = SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 2L)
    assert(r.version == 2 && r.rewrittenDirs == 1, s"receipt $r")
    val after = fields(2)
    assert(after("p1") == before("p1") && after("p0") != before("p0"),
      s"$before vs $after")
    val gensNow = gens
    val none = SnapshotStore.dml(spark, dir, Dml.Update(Seq("v" -> lit(0.0))),
      col("k") === 99L)
    assert(none.version == 2 && SnapshotStore.headVersion(spark, dir)
      .contains(2), s"nothing matched, nothing commits: $none")
    assert(gens == gensNow, "the unreferenced rewrite must be deleted")
    // k = 4 moves from p0 to p1, whose own scan finds no match
    SnapshotStore.updateWhere(spark, dir, Seq("p" -> lit("p1")),
      col("k") === 4L)
    assert(SnapshotStore.read(spark, dir).filter(col("p") === "p1")
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L))
    assert(SnapshotStore.read(spark, dir).count() == 5L)
  }
}
