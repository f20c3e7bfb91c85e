package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}
import graft.storage.SnapshotMergeInto.{DeleteRow, MergeIntoReceipt,
  UpdateAll, UpdateSet, WhenMatched, WhenNotMatched, WhenNotMatchedBySource}

/** General conditional MERGE ([[SnapshotStore.mergeInto]] — the
  * Delta/SQL:2003 `MERGE INTO` shape): first-match-wins WHEN MATCHED
  * update/delete clauses, WHEN NOT MATCHED insert, WHEN NOT MATCHED BY
  * SOURCE update/delete with tri-state slice pruning. Pins exactness,
  * receipt counts, pre-merge-row RHS semantics, SQL three-valued clause
  * conditions, the duplicate-source-key refusal, the CHECK gate, CDC
  * reconstruction, DV interop, time travel, and the SQL verb.
  */
class SnapshotMergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_mi_$tag").toString + "/st"

  /** 3 gens with disjoint k-ranges, partitions p0/p1. */
  private def quartStore(dir: String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    SnapshotStore.append(chunk(200L, 10), dir, "p")
  }

  /** Every path under the store's `data/` dir, recursively. */
  private def dataListing(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir, "data")
    val walk = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(root.relativize(_).toString).toSet
    } finally walk.close()
  }

  private def merge(mor: Boolean, dir: String,
      src: org.apache.spark.sql.DataFrame,
      matched: Seq[WhenMatched] = Nil,
      notMatched: Option[WhenNotMatched] = None,
      notMatchedBySource: Seq[WhenNotMatchedBySource] = Nil)
      : MergeIntoReceipt =
    if (mor) SnapshotStore.mergeIntoMor(spark, dir, src, Seq("k"), matched,
      notMatched, notMatchedBySource)
    else SnapshotStore.mergeInto(spark, dir, src, Seq("k"), matched,
      notMatched, notMatchedBySource)

  test("conditional matched update + matched delete + not-matched " +
    "insert in ONE pass: first-match-wins, exact rows, exact receipt") {
    val dir = newDir("basic"); quartStore(dir)
    // source: k=100 (v bigger → update), k=101 (v smaller → falls to the
    // second clause → delete), k=500 (new → insert)
    val src = Seq((100L, "p0", 1000.0), (101L, "p1", -1.0),
      (500L, "p0", 500.0)).toDF("k", "p", "v")
    val r = SnapshotStore.mergeInto(spark, dir, src, Seq("k"),
      matched = Seq(
        WhenMatched(Some(col("s.v") > col("t.v")),
          UpdateSet(Seq("v" -> col("s.v")))),
        WhenMatched(None, DeleteRow)),
      notMatched = Some(WhenNotMatched(None)))
    assert(r.updated == 1 && r.deleted == 1 && r.inserted == 1,
      s"got $r")
    val got = SnapshotStore.read(spark, dir)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(got(100L) == 1000.0, "s.v > t.v -> first clause updates")
    assert(!got.contains(101L), "second clause deletes the rest")
    assert(got(500L) == 500.0, "unmatched source row inserts")
    assert(got.size == 30, "29 survivors + 1 insert")
    // untouched partitions-by-key rows intact
    assert(got(205L) == 205.0)
  }

  test("every RHS sees the PRE-merge row: t./s. qualified refs swap") {
    val dir = newDir("swap")
    SnapshotStore.write(Seq((1L, "p0", 10.0, 20.0)).toDF("k", "p", "a", "b"),
      dir, "p")
    val src = Seq((1L, "p0")).toDF("k", "p")
    SnapshotStore.mergeInto(spark, dir, src, Seq("k"),
      matched = Seq(WhenMatched(None,
        UpdateSet(Seq("a" -> col("t.b"), "b" -> col("t.a"))))))
    val row = SnapshotStore.read(spark, dir)
      .select("a", "b").as[(Double, Double)].head()
    assert(row == ((20.0, 10.0)), s"SET a = t.b, b = t.a must SWAP: $row")
  }

  test("NOT MATCHED BY SOURCE: table-wide semantics with tri-state " +
    "slice pruning — out-of-range partitions copy forward unread") {
    // partition-aligned ranges so the source touches ONE partition and
    // the nmbs condition's pruning on the others is observable
    val dir = newDir("nmbs")
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, (lo / 100).toString, (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    SnapshotStore.append(chunk(200L, 10), dir, "p")
    // reconcile against today's feed (k = 200..205): matched rows
    // re-score, unmatched rows with k >= 200 expire. Partitions 0 and 1
    // are outside the source AND provably out of the condition's range —
    // their fields must copy forward unread.
    val src = (0 until 6).map(i => (200L + i, "2", 0.0))
      .toDF("k", "p", "v")
    val r = SnapshotStore.mergeInto(spark, dir, src, Seq("k"),
      matched = Seq(WhenMatched(None, UpdateSet(Seq("v" -> lit(-1.0))))),
      notMatchedBySource = Seq(
        WhenNotMatchedBySource(Some(col("k") >= 200L), DeleteRow)))
    assert(r.updated == 6 && r.deleted == 4, s"got $r")
    assert(r.keptDirs >= 2,
      s"partitions 0/1's slices must be pruned by the condition, got $r")
    assert(r.copied == 0,
      s"partition 2 holds only clause-hit rows — nothing to copy, got $r")
    val ks = SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq
    assert(ks == ((0L until 10L) ++ (100L until 110L) ++
      (200L to 205L)).sorted, s"got $ks")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 203L).select("v").as[Double].head() == -1.0)
    // time travel: the pre-merge version is intact
    assert(SnapshotStore.read(spark, dir, Some(3)).count() == 30)
  }

  test("refusals are loud: duplicate source keys, partition-column SET, " +
    "foreign source column, insert without the partition column; a " +
    "merge where no clause fires commits NO version") {
    val dir = newDir("refuse"); quartStore(dir)
    val dup = Seq((1L, "p0", 1.0), (1L, "p0", 2.0)).toDF("k", "p", "v")
    val e1 = intercept[IllegalArgumentException](
      SnapshotStore.mergeInto(spark, dir, dup, Seq("k"),
        matched = Seq(WhenMatched(None, DeleteRow))))
    assert(e1.getMessage.contains("duplicate keys"))
    val src = Seq((1L, "p0", 1.0)).toDF("k", "p", "v")
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.mergeInto(spark, dir, src, Seq("k"),
        matched = Seq(WhenMatched(None,
          UpdateSet(Seq("p" -> lit("p1")))))))
    assert(e2.getMessage.contains("partition column"))
    val e3 = intercept[IllegalArgumentException](
      SnapshotStore.mergeInto(spark, dir,
        src.withColumn("extra", lit(1)), Seq("k"),
        matched = Seq(WhenMatched(None, DeleteRow))))
    assert(e3.getMessage.contains("extra"))
    val e4 = intercept[IllegalArgumentException](
      SnapshotStore.mergeInto(spark, dir, src.drop("p"), Seq("k"),
        notMatched = Some(WhenNotMatched(None))))
    assert(e4.getMessage.contains("partition column"))
    // matching is partition-confined: a source WITHOUT the partition
    // column cannot restrict the resolution and would silently match
    // nothing — refused, not no-opped
    val e5 = intercept[IllegalArgumentException](
      SnapshotStore.mergeInto(spark, dir, src.drop("p"), Seq("k"),
        matched = Seq(WhenMatched(None, DeleteRow))))
    assert(e5.getMessage.contains("partition column"))
    // no clause fires: matched cond FALSE on the one matching row
    val head = SnapshotStore.headVersion(spark, dir).get
    val r = SnapshotStore.mergeInto(spark, dir, src, Seq("k"),
      matched = Seq(WhenMatched(Some(lit(false)), DeleteRow)))
    assert(r.version == head && r.copied >= 1,
      s"nothing changed — no commit, got $r")
  }

  test("CHECK constraints gate the merge's updates and inserts; " +
    "three-valued clause conditions (NULL = does not apply)") {
    val dir = newDir("check")
    SnapshotStore.write(
      Seq((1L, "p0", 5.0), (2L, "p0", Double.NaN)).toDF("k", "p", "v")
        .withColumn("v", when(col("k") === 2L, lit(null)).otherwise(col("v"))),
      dir, "p")
    SnapshotStore.addConstraint(spark, dir, "v_pos", "v >= 0")
    val bad = Seq((1L, "p0", -10.0)).toDF("k", "p", "v")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.mergeInto(spark, dir, bad, Seq("k"),
        matched = Seq(WhenMatched(None, UpdateAll))))
    assert(e.getMessage.contains("v_pos"))
    // NULL condition: t.v is NULL for k=2 -> the clause does NOT apply,
    // the row copies through
    val src = Seq((2L, "p0", 7.0)).toDF("k", "p", "v")
    val r = SnapshotStore.mergeInto(spark, dir, src, Seq("k"),
      matched = Seq(WhenMatched(Some(col("t.v") > 0), UpdateAll)))
    assert(r.updated == 0 && r.copied >= 1, s"got $r")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 2L).select("v").isEmpty == false)
  }

  test("CDC reconstructs a mergeInto commit: update pairs, deletes, " +
    "inserts; DV'd slices read through their vectors (no resurrection)") {
    val dir = newDir("cdc"); quartStore(dir)
    // DV-delete a row of the slice the merge will touch, then merge
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 104L, mode = Dml.MoR)
    val src = Seq((100L, "p0", -5.0), (999L, "p1", 9.0))
      .toDF("k", "p", "v")
    val v0 = SnapshotStore.headVersion(spark, dir).get
    SnapshotStore.mergeInto(spark, dir, src, Seq("k"),
      matched = Seq(WhenMatched(None, UpdateSet(Seq("v" -> col("s.v"))))),
      notMatched = Some(WhenNotMatched(None)))
    val feed = SnapshotStore.changes(spark, dir, v0, v0 + 1, Seq("k"))
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(feed.contains(("update_preimage", 100L)) &&
      feed.contains(("update_postimage", 100L)) &&
      feed.contains(("insert", 999L)), s"got $feed")
    assert(!feed.exists(_._2 == 104L),
      "the DV'd row is not live — it must not appear in any image")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 104L).count() == 0,
      "the merge's rewrite must not resurrect the DV'd row")
  }

  test("SQL verb graft_merge_into: the clause mini-grammar drives the " +
    "same code path, receipt observable from SQL") {
    val dir = newDir("sql"); quartStore(dir)
    graft.plans.AsOf.register(spark)
    Seq((100L, "p0", 1000.0), (101L, "p1", -1.0), (500L, "p0", 500.0))
      .toDF("k", "p", "v").createOrReplaceTempView("mi_src")
    val r = spark.sql(
      s"""SELECT * FROM graft_merge_into('$dir', 'mi_src', 'k',
         |  'matched if s.v > t.v then set v = s.v',
         |  'matched then delete',
         |  'not_matched then insert_all')""".stripMargin).head()
    assert(r.getAs[Long]("updated") == 1 && r.getAs[Long]("deleted") == 1 &&
      r.getAs[Long]("inserted") == 1, s"got $r")
    val got = SnapshotStore.read(spark, dir)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(got(100L) == 1000.0 && !got.contains(101L) && got(500L) == 500.0)
  }

  test("MERGE-ON-READ mergeInto (r17): pre-images pay deletion vectors, " +
    "ONLY changed images append — zero copy-on-write, exact rows, exact " +
    "receipt, metadata count intact, time travel intact") {
    val dir = newDir("mor"); quartStore(dir)
    def gens = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).toSet
    val before = gens
    val src = Seq((100L, "p0", 1000.0), (101L, "p1", -1.0),
      (500L, "p0", 500.0)).toDF("k", "p", "v")
    val r = SnapshotStore.mergeIntoMor(spark, dir, src, Seq("k"),
      matched = Seq(
        WhenMatched(Some(col("s.v") > col("t.v")),
          UpdateSet(Seq("v" -> col("s.v")))),
        WhenMatched(None, DeleteRow)),
      notMatched = Some(WhenNotMatched(None)))
    assert(r.updated == 1 && r.deleted == 1 && r.inserted == 1, s"got $r")
    assert(r.dvRows == 2, s"update + delete pre-images DV'd, got $r")
    // every pre-existing gen survives untouched; the new gens hold ONLY
    // the changed images (the updated post-image + the insert)
    val after = gens
    assert(before.subsetOf(after),
      "MoR merge must keep every pre-existing gen on disk")
    val newRows = spark.read.schema("k LONG, v DOUBLE")
      .parquet((after -- before).map(g => s"$dir/data/$g").toSeq: _*)
      .count()
    assert(newRows == 2, s"only the changed images append, got $newRows")
    val got = SnapshotStore.read(spark, dir)
      .select("k", "v").as[(Long, Double)].collect().toMap
    assert(got(100L) == 1000.0 && !got.contains(101L) &&
      got(500L) == 500.0 && got.size == 30, s"got ${got.size}")
    // metadata count stays exact (live = physical − DV'd), zero scans
    val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      lit(true))
    assert(cnt == 30L && scanned == 0, s"got ($cnt, $scanned)")
    // time travel: the pre-merge version reads whole
    assert(SnapshotStore.read(spark, dir, Some(3))
      .filter(col("k").isin(100L, 101L)).select("v").as[Double]
      .collect().sorted.toSeq == Seq(100.0, 101.0))
    // a reconcile that provably changes nothing commits NO version and
    // strands no sidecar
    val head = SnapshotStore.headVersion(spark, dir).get
    val noop = SnapshotStore.mergeIntoMor(spark, dir,
      Seq((100L, "p0", 1000.0)).toDF("k", "p", "v"), Seq("k"),
      matched = Seq(WhenMatched(Some(col("s.v") > col("t.v")),
        UpdateSet(Seq("v" -> col("s.v"))))))
    assert(noop.version == head && noop.dvRows == 0L, s"got $noop")
  }

  test("MoR MERGE honors NOT MATCHED BY SOURCE with the same slice " +
    "pruning; the SQL verb graft_merge_into_mor reports dv_rows") {
    val dir = newDir("mornmbs")
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, (lo / 100).toString, (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    SnapshotStore.append(chunk(200L, 10), dir, "p")
    graft.plans.AsOf.register(spark)
    (0 until 6).map(i => (200L + i, "2", 0.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("mi_mor_src")
    val r = spark.sql(
      s"""SELECT * FROM graft_merge_into_mor('$dir', 'mi_mor_src', 'k',
         |  'matched then set v = -1.0',
         |  'not_matched_by_source if k >= 200 then delete')"""
        .stripMargin).head()
    assert(r.getAs[Long]("updated") == 6 && r.getAs[Long]("deleted") == 4,
      s"got $r")
    assert(r.getAs[Long]("kept_dirs") >= 2,
      s"out-of-range partitions must prune, got $r")
    assert(r.getAs[Long]("dv_rows") == 10,
      s"6 update + 4 delete pre-images DV'd, got $r")
    val ks = SnapshotStore.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq
    assert(ks == ((0L until 10L) ++ (100L until 110L) ++
      (200L to 205L)).sorted, s"got $ks")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 203L).select("v").as[Double].head() == -1.0)
    // compaction is the debt collector here exactly as for MoR DML
    SnapshotStore.compactPartitions(spark, dir, "p")
    assert(SnapshotStore.read(spark, dir).count() == 26)
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 203L).select("v").as[Double].head() == -1.0)
  }

  test("SQL verb graft_merge_into refuses what it cannot honor — a " +
    "not_matched delete/set (would silently run as INSERT) and a second " +
    "not_matched clause (only the first would apply)") {
    val dir = newDir("sqlrefuse"); quartStore(dir)
    graft.plans.AsOf.register(spark)
    Seq((100L, "p0", 1000.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("mi_bad_src")
    val e1 = intercept[IllegalArgumentException](spark.sql(
      s"""SELECT * FROM graft_merge_into('$dir', 'mi_bad_src', 'k',
         |  'not_matched then delete')""".stripMargin).collect())
    assert(e1.getMessage.contains("insert_all"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](spark.sql(
      s"""SELECT * FROM graft_merge_into('$dir', 'mi_bad_src', 'k',
         |  'not_matched then set v = 1.0')""".stripMargin).collect())
    assert(e2.getMessage.contains("insert_all"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](spark.sql(
      s"""SELECT * FROM graft_merge_into('$dir', 'mi_bad_src', 'k',
         |  'not_matched if s.v > 0 then insert_all',
         |  'not_matched then insert_all')""".stripMargin).collect())
    assert(e3.getMessage.contains("ONE not_matched"), e3.getMessage)
    // nothing committed by any refusal
    assert(SnapshotStore.headVersion(spark, dir).contains(3))
  }

  test("one pass over the join: the duplicate-key refusal and the " +
    "receipt's counts ride the write — CoW runs 2 root queries, MoR 4, " +
    "and neither a job outside a query") {
    val src = Seq((100L, "p0", 1000.0), (101L, "p1", -1.0),
      (500L, "p0", 500.0)).toDF("k", "p", "v")
    val m = Seq(
      WhenMatched(Some(col("s.v") > col("t.v")),
        UpdateSet(Seq("v" -> col("s.v")))),
      WhenMatched(None, DeleteRow))
    for ((mor, queries) <- Seq(false -> 2, true -> 4)) {
      // long stats columns: the new gens' blobs come from their footers,
      // with no query of their own
      val dir = newDir(if (mor) "passmor" else "passcow")
      SnapshotStore.write((0 until 30).map(i =>
        (i.toLong / 10 * 100 + i % 10, s"p${i % 2}", i * 1.0))
        .toDF("k", "p", "v"), dir, "p", statsCols = Seq("k"))
      var r: MergeIntoReceipt = null
      val seen = launchedBy {
        r = merge(mor, dir, src, m, Some(WhenNotMatched(None)))
      }
      assert(r.updated == 1 && r.deleted == 1 && r.inserted == 1 &&
        r.copied == 28, s"mor=$mor: got $r")
      // the residency pass, the write (CoW) / the DV write, its count
      // read-back and the changed images' write (MoR)
      assert(seen.rootQueries == queries && seen.nonSqlJobs == 0,
        s"mor=$mor: got $seen")
    }
  }

  test("a duplicate-key refusal leaves data/ as it was, CoW and MoR: " +
    "duplicates that match, duplicates that only insert, two NULL keys; " +
    "one NULL-key row still inserts") {
    val nullable = "k LONG, p STRING, v DOUBLE"
    def rows(rs: (java.lang.Long, String, Double)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (k, p, v) =>
        org.apache.spark.sql.Row(k, p, v) }, 1),
      org.apache.spark.sql.types.StructType.fromDDL(nullable))
    val sources = Seq(
      "matching" -> rows((100L, "p0", 1.0), (100L, "p0", 2.0)),
      "insert-only" -> rows((900L, "p0", 1.0), (900L, "p0", 2.0)),
      "null keys" -> rows((null, "p0", 1.0), (null, "p0", 2.0)))
    for (mor <- Seq(false, true); (what, src) <- sources) {
      val dir = newDir("dupfiles"); quartStore(dir)
      val before = dataListing(dir)
      val e = intercept[IllegalArgumentException](merge(mor, dir, src,
        Seq(WhenMatched(None, UpdateAll)), Some(WhenNotMatched(None))))
      assert(e.getMessage.contains("duplicate keys"),
        s"mor=$mor $what: ${e.getMessage}")
      assert(dataListing(dir) == before,
        s"mor=$mor $what: the refused merge left " +
          s"${dataListing(dir) -- before}")
      assert(SnapshotStore.headVersion(spark, dir).contains(3))
    }
    // an insert-only merge: under MoR no arm takes a deletion vector
    for (mor <- Seq(false, true)) {
      val dir = newDir("nullkey"); quartStore(dir)
      val r = merge(mor, dir, rows((null, "p0", 7.0)),
        notMatched = Some(WhenNotMatched(None)))
      assert(r.version == 4 && r.inserted == 1 && r.updated == 0,
        s"mor=$mor: got $r")
      assert(SnapshotStore.read(spark, dir).filter(col("k").isNull)
        .select("v").as[Double].collect().toSeq == Seq(7.0))
    }
  }

  test("a merge no clause fires in leaves no file behind, and an empty " +
    "source returns the receipt at head, with and without NOT MATCHED BY " +
    "SOURCE — CoW and MoR") {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "k LONG, p STRING, v DOUBLE"))
    // v <> v never holds, and no stats verdict can prove it: every slice
    // is read and copied
    val neverFires = Seq(WhenNotMatchedBySource(
      Some(col("v") =!= col("v")), DeleteRow))
    for (mor <- Seq(false, true)) {
      val cases = Seq(
        ("no clause fires", Seq((100L, "p0", 1.0)).toDF("k", "p", "v"),
          Seq(WhenMatched(Some(lit(false)), DeleteRow)),
          Option.empty[WhenNotMatched], Nil),
        ("empty source", empty, Seq(WhenMatched(None, UpdateAll)),
          Some(WhenNotMatched(None)), Nil),
        ("empty source, NMBS", empty, Seq(WhenMatched(None, UpdateAll)),
          Some(WhenNotMatched(None)), neverFires))
      for ((what, src, m, nm, nmbs) <- cases) {
        val dir = newDir("noop"); quartStore(dir)
        val before = dataListing(dir)
        val r = merge(mor, dir, src, m, nm, nmbs)
        assert(r.version == 3 && r.updated == 0 && r.deleted == 0 &&
          r.inserted == 0 && r.dvRows == 0, s"mor=$mor $what: got $r")
        if (nmbs.nonEmpty) assert(r.copied == 30,
          s"mor=$mor $what: every read row copies, got $r")
        assert(dataListing(dir) == before,
          s"mor=$mor $what: left ${dataListing(dir) -- before}")
      }
    }
  }

  test("a store with a declared sort order (range-partitioned writes, " +
    "lexicographic and z-order) reports exact counts, CoW and MoR") {
    val src = Seq((3L, "p1", 30.0), (4L, "p0", -1.0), (90L, "p0", 9.0))
      .toDF("k", "p", "v")
    for (zorder <- Seq(false, true); mor <- Seq(false, true)) {
      val dir = newDir("sorted")
      SnapshotStore.write(
        (0 until 40).map(i => (i.toLong, s"p${i % 2}", i * 1.0))
          .toDF("k", "p", "v"),
        dir, "p", statsCols = Seq("k"))
      SnapshotStore.declareSortCols(spark, dir,
        if (zorder) Seq("k", "v") else Seq("k"), zorder)
      val r = merge(mor, dir, src,
        Seq(WhenMatched(Some(col("s.v") > col("t.v")), UpdateAll),
          WhenMatched(None, DeleteRow)),
        Some(WhenNotMatched(None)))
      assert(r.updated == 1 && r.deleted == 1 && r.inserted == 1 &&
        r.copied == 38, s"zorder=$zorder mor=$mor: got $r")
      assert(SnapshotStore.read(spark, dir).count() == 40)
    }
  }
}
