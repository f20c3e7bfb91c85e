package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** COMPOSITE partition keys (r17 — MergeTree's `PARTITION BY (a, b)` /
  * Iceberg's multi-field spec): `partCol = "d,t"` partitions by the
  * tuple; the key everywhere stays ONE string (U+0001-joined %-escaped
  * components), so manifest grammar, bucket hashing, merge residency and
  * the changes feed are untouched. Pins: exact read-back, full-tuple
  * pruning (exact keys), PARTIAL-constraint pruning ("d = X" over a
  * day×tenant store touches only that day's files), merge residency,
  * DML over components incl. the partition-assign refusal, value
  * escaping + NULL components, the drop guard, MoR DVs, and
  * `partitionKeyOf` addressing.
  */
class SnapshotCompositeSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_comp_$tag").toString + "/st"

  /** 2 days × 2 tenants × 5 rows. */
  private def grid(dir: String): Unit = {
    val rows = for (d <- Seq("d1", "d2"); tn <- Seq("a", "b");
                    i <- 0 until 5)
      yield (s"$d-$tn-$i", d, tn, i.toLong)
    SnapshotStore.write(rows.toDF("id", "d", "t", "v"), dir, "d,t",
      statsCols = Seq("v"))
  }

  test("write/read round-trip; the dir layout carries ONE composite key " +
    "per (d, t) pair; full-tuple equality prunes to exactly one " +
    "partition's files") {
    val dir = newDir("basic"); grid(dir)
    assert(SnapshotStore.read(spark, dir).count() == 20)
    val gens = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("gen-"))
    val leaves = gens.flatMap(_.listFiles())
      .map(_.getName).filter(_.startsWith("_p=")).toSet
    assert(leaves.size == 4, s"4 composite partitions, got $leaves")
    // full-tuple equality: exact-key manifest resolution, one partition
    val probe = SnapshotStore.readWhere(spark, dir,
      col("d") === "d1" && col("t") === "b")
    assert(probe.count() == 5)
    val allFiles = SnapshotStore.read(spark, dir).inputFiles.length
    assert(probe.inputFiles.length * 4 <= allFiles * 1 + 3,
      s"full-tuple probe must confine to one partition: " +
        s"${probe.inputFiles.length} of $allFiles")
    assert(probe.inputFiles.forall(_.contains("_p=")), "layout sanity")
  }

  test("PARTIAL constraint ('d = X' over day×tenant) prunes at the " +
    "manifest-key grain: only that day's files open, both reads exact") {
    val dir = newDir("partial"); grid(dir)
    val allFiles = SnapshotStore.read(spark, dir).inputFiles.length
    val day = SnapshotStore.readWhere(spark, dir, col("d") === "d2")
    assert(day.count() == 10)
    assert(day.inputFiles.length * 2 <= allFiles + 1,
      s"'d = d2' must open only d2's files: ${day.inputFiles.length} " +
        s"of $allFiles")
    // the second component alone prunes the same way
    val tenant = SnapshotStore.readWhere(spark, dir, col("t") === "a")
    assert(tenant.count() == 10)
    assert(tenant.inputFiles.length * 2 <= allFiles + 1,
      s"'t = a' must open only tenant a's files: " +
        s"${tenant.inputFiles.length} of $allFiles")
    // countWhere rides the same restriction, metadata-served
    val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      col("d") === "d1")
    assert(cnt == 10 && scanned == 0, s"got ($cnt, $scanned)")
  }

  test("merge residency on the tuple: a batch touching ONE (d, t) " +
    "partition rewrites only it; the changes feed is the exact delta") {
    val dir = newDir("merge"); grid(dir)
    SnapshotStore.merge(spark, dir,
      Seq(("d1-a-0", "d1", "a", 100L), ("d1-a-9", "d1", "a", 9L))
        .toDF("id", "d", "t", "v"), "d,t", Seq("id"))
    val got = SnapshotStore.read(spark, dir)
    assert(got.count() == 21)
    assert(got.filter(col("id") === "d1-a-0").select("v").as[Long]
      .head() == 100L)
    // untouched partitions' entries carried by reference: the feed
    // only names d1/a rows
    val feed = SnapshotStore.changes(spark, dir, 1, 2, Seq("id"))
    assert(feed.select("d", "t").distinct().collect().toSeq
      .map(r => (r.getString(0), r.getString(1))) == Seq(("d1", "a")),
      "only the touched tuple partition may appear in the delta")
  }

  test("DML over components: partial-constraint delete resolves only " +
    "matching partitions; assigning a component moves the rows; MoR " +
    "delete " +
    "works (sidecar dir key from the composite value)") {
    val dir = newDir("dml"); grid(dir)
    val r = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("t") === "b" && col("v") >= 3L)
    assert(SnapshotStore.read(spark, dir).count() == 16)
    assert(SnapshotStore.read(spark, dir)
      .filter(col("t") === "b").count() == 6)
    SnapshotStore.updateWhere(spark, dir, Seq("t" -> lit("c")),
      col("v") === 0L)
    assert(SnapshotStore.read(spark, dir).filter(col("t") === "c")
      .select("id").as[String].collect().sorted.toSeq ==
      Seq("d1-a-0", "d1-b-0", "d2-a-0", "d2-b-0"))
    assert(SnapshotStore.read(spark, dir).count() == 16)
    // MoR positions annotate composite-keyed fields
    val mor = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("id") === "d2-a-1", mode = Dml.MoR)
    assert(mor.dvRows == 1L && mor.rewrittenDirs == 0, s"got $mor")
    assert(SnapshotStore.read(spark, dir).count() == 15)
    val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      lit(true))
    assert(cnt == 15 && scanned == 0, s"got ($cnt, $scanned)")
  }

  test("component values escape soundly: '%', the separator, spaces and " +
    "NULL round-trip without key collisions") {
    val dir = newDir("esc")
    val tricky = Seq(
      ("r1", "100%", "a b", 1L),
      ("r2", "100", "%a b", 2L),   // would collide if '%' were raw
      ("r3", null, "x", 3L),
      ("r4", "x", null, 4L),
      ("r5", "xy", "z", 5L)) // a data value carrying the separator
    SnapshotStore.write(tricky.toDF("id", "d", "t", "v"), dir, "d,t")
    val got = SnapshotStore.read(spark, dir)
      .select("id", "d", "t", "v").as[(String, String, String, Long)]
      .collect().toSet
    assert(got == tricky.toSet, s"got $got")
    assert(SnapshotStore.readWhere(spark, dir,
      col("d") === "100%" && col("t") === "a b").count() == 1)
    assert(SnapshotStore.readWhere(spark, dir,
      col("d") === "xy").count() == 1)
    // addressing by raw key: the public encoding helper
    assert(SnapshotStore.readPartitions(spark, dir,
      Seq(SnapshotStore.partitionKeyOf(Seq("100%", "a b")))).count() == 1)
  }

  test("the partition catalog decodes composite keys: components " +
    "round-trip escaping and NULLs, counts serve from metadata, and " +
    "the SQL selector exposes it") {
    val dir = newDir("cat")
    SnapshotStore.write(Seq(
      ("r1", "100%", "a b", 1L), ("r2", null, "x", 2L),
      ("r3", "d1", "t1", 3L), ("r4", "d1", "t1", 4L))
      .toDF("id", "d", "t", "v"), dir, "d,t", statsCols = Seq("v"))
    val infos = SnapshotStore.partitionInfos(spark, dir)
    assert(infos.size == 3, s"got $infos")
    val byComps = infos.map(i => i._2 -> i._6).toMap
    assert(byComps(Seq("100%", "a b")) == Some(1L), s"got $byComps")
    assert(byComps(Seq(null, "x")) == Some(1L), s"got $byComps")
    assert(byComps(Seq("d1", "t1")) == Some(2L), s"got $byComps")
    graft.plans.AsOf.register(spark)
    val sqlRows = spark.sql(
      s"SELECT components, rows FROM graft_snapshot('$dir', 'partitions')")
      .collect()
    assert(sqlRows.length == 3)
    assert(sqlRows.map(_.getLong(1)).sum == 4L)
  }

  test("conjunct consumption only applies when a restriction APPLIED: a " +
    "blown-out IN-list (enumeration cap exceeded, no key restriction) " +
    "keeps its partition conjunct — counts and deletes stay exact") {
    val dir = newDir("cap")
    SnapshotStore.write(
      (0 until 20).map(i => (i.toLong, s"p${i % 2}", i * 1.0))
        .toDF("k", "p", "v"), dir, "p")
    val vals = ((0 until 1025).map(i => s"px$i") :+ "p0").map(lit(_))
    val (cnt, _) = SnapshotStore.countWhereDetailed(spark, dir,
      col("p").isin(vals: _*))
    assert(cnt == 10, s"the un-restricted verdict must keep the " +
      s"conjunct, got $cnt")
    SnapshotStore.deleteWhere(spark, dir, col("p").isin(vals: _*))
    assert(SnapshotStore.read(spark, dir).count() == 10)
    assert(SnapshotStore.read(spark, dir)
      .filter(col("p") === "p0").count() == 0)
  }

  test("guards: dropping a component refuses; a second writer with a " +
    "different spec refuses; a component absent from the batch refuses") {
    val dir = newDir("guard"); grid(dir)
    val e1 = intercept[IllegalArgumentException](
      SnapshotStore.dropColumn(spark, dir, "t"))
    assert(e1.getMessage.contains("partition"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.requirePartCol(spark, dir, "d"))
    assert(e2.getMessage.contains("partition"), e2.getMessage)
    SnapshotStore.requirePartCol(spark, dir, "d,t") // exact spec passes
    val e3 = intercept[IllegalArgumentException](
      SnapshotStore.write((1 to 3).map(i => (i, "x")).toDF("a", "b"),
        newDir("guard2"), "a,missing"))
    assert(e3.getMessage.contains("missing"), e3.getMessage)
  }

  test("single-column keys RESERVE the U+0001 separator: a write " +
    "carrying it in the key value refuses loudly; the partition " +
    "catalog never splits a single-col-era key on embedded separators") {
    val dir = newDir("reserve")
    val bad = Seq(("r1", "x\u0001y", 1L)).toDF("id", "d", "v")
    val e = intercept[Exception](SnapshotStore.write(bad, dir, "d"))
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => Option(c.getMessage)
      .exists(_.contains("reserved"))), s"got $e")
    // a LEGACY raw key carrying the separator (pre-reservation store),
    // committed the way the scale probe seeds synthetic entries: the
    // catalog decodes per SPEC HISTORY — an all-single-col store never
    // splits, whatever the key contains
    val dir2 = newDir("cat1col")
    SnapshotStore.write(Seq(("r1", "d1", 1L)).toDF("id", "d", "v"),
      dir2, "d")
    val real = SnapshotStore.readManifest(spark, dir2, 1)
    SnapshotStore.commit(spark, dir2, 2,
      real + ("a\u0001b" -> Seq("data/gen-f00f/_p=legacy")), Nil,
      Some(SnapshotStore.read(spark, dir2, Some(1)).schema))
    val infos = SnapshotStore.partitionInfos(spark, dir2)
    val legacy = infos.find(_._1 == "a\u0001b")
    assert(legacy.exists(_._2 == Seq("a\u0001b")),
      s"single-col-era keys never split: $legacy")
  }
}
