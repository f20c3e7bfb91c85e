package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** PARTITION-SPEC EVOLUTION (r17 — Iceberg partition evolution,
  * re-derived): `evolvePartitionSpec` / `graft_evolve_partition` makes
  * subsequent writes partition by a NEW spec while old gens keep their
  * era's keys. Pins: reads union both eras exactly; pruning resolves
  * per era; merge residency finds old-era images (no duplicates); DML
  * rewrites migrate touched rows to the current spec; MoR deletion
  * vectors annotate old-era slices correctly; compaction is the full
  * migration; time travel intact; loud guards.
  */
class SnapshotEvolvePartitionSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_evo_$tag").toString + "/st"

  /** Daily store (spec 1: d), then evolve to (d, t) and append. */
  private def evolved(dir: String): Unit = {
    val era1 = for (d <- Seq("d1", "d2"); i <- 0 until 6)
      yield (s"$d-$i", d, s"t${i % 2}", i.toLong)
    SnapshotStore.write(era1.toDF("id", "d", "t", "v"), dir, "d",
      statsCols = Seq("v"))
    SnapshotStore.evolvePartitionSpec(spark, dir, "d,t")
    val era2 = for (d <- Seq("d2", "d3"); i <- 6 until 10)
      yield (s"$d-$i", d, s"t${i % 2}", i.toLong)
    SnapshotStore.append(era2.toDF("id", "d", "t", "v"), dir, "d,t")
  }

  test("reads union both eras exactly; per-era pruning: a day probe " +
    "opens only that day's files in EITHER era; time travel intact") {
    val dir = newDir("basic"); evolved(dir)
    val got = SnapshotStore.read(spark, dir)
    assert(got.count() == 20, s"12 era-1 + 8 era-2 rows")
    assert(got.select("id").distinct().count() == 20)
    val all = got.inputFiles.length
    // d2 lives in BOTH eras (one old 1-col partition + two new tuple
    // partitions) — the probe must open only d2's files
    val day = SnapshotStore.readWhere(spark, dir, col("d") === "d2")
    assert(day.count() == 10, "6 era-1 + 4 era-2 rows for d2")
    assert(day.inputFiles.length < all,
      s"day probe must prune the other days: ${day.inputFiles.length} " +
        s"of $all")
    // d3 exists only in era 2
    assert(SnapshotStore.readWhere(spark, dir, col("d") === "d3")
      .count() == 4)
    // time travel: the pre-evolution version is era 1 alone
    assert(SnapshotStore.read(spark, dir, Some(1)).count() == 12)
    // conjunct consumption on the COMMON component: "count rows of day
    // d2" serves from pure metadata across BOTH eras (d is a component
    // of every recorded spec, so every era's restriction enforced it)
    val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      col("d") === "d2")
    assert(cnt == 10 && scanned == 0, s"got ($cnt, $scanned)")
  }

  test("merge after evolution finds the OLD-era image: upserting a key " +
    "written before the evolution never duplicates it") {
    val dir = newDir("merge"); evolved(dir)
    // d1-0 lives in era 1 (key 'd1'); the merge batch keys under BOTH
    // eras, so the old image is read and replaced
    SnapshotStore.merge(spark, dir,
      Seq(("d1-0", "d1", "t0", 100L)).toDF("id", "d", "t", "v"),
      "d,t", Seq("id"))
    val got = SnapshotStore.read(spark, dir)
    assert(got.count() == 20, "an upsert must not duplicate")
    assert(got.filter(col("id") === "d1-0").select("v").as[Long]
      .collect().toSeq == Seq(100L))
    // the untouched d2/d3 rows are intact
    assert(got.filter(col("d") =!= "d1").count() == 14)
  }

  test("DML across eras: a predicate delete rewrites the touched " +
    "old-era slice under the CURRENT spec without losing rows; MoR " +
    "positions annotate old-era slices (no resurrection)") {
    val dir = newDir("dml"); evolved(dir)
    // v >= 4 hits era-1 rows (v 4,5 per day) and era-2 rows (6..9)
    SnapshotStore.deleteWhere(spark, dir, col("v") >= 8L)
    val got = SnapshotStore.read(spark, dir)
    assert(got.count() == 16, s"4 era-2 rows leave, got ${got.count()}")
    assert(got.select("id").distinct().count() == 16,
      "a cross-era rewrite must not duplicate surviving rows")
    // MoR delete hitting ONLY an era-1 slice
    val mor = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("id") === "d1-3", mode = Dml.MoR)
    assert(mor.dvRows == 1L && mor.rewrittenDirs == 0, s"got $mor")
    assert(SnapshotStore.read(spark, dir).filter(col("id") === "d1-3")
      .count() == 0, "the old-era MoR position must actually delete")
    assert(SnapshotStore.read(spark, dir).count() == 15)
    val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      lit(true))
    assert(cnt == 15 && scanned == 0, s"got ($cnt, $scanned)")
  }

  test("compaction is the migration verb: one pass collapses every era " +
    "to current-spec keys; rows identical; merges after it stay exact") {
    val dir = newDir("compact"); evolved(dir)
    val before = SnapshotStore.read(spark, dir).select("id", "v")
      .as[(String, Long)].collect().toSet
    // old-era keys qualify regardless of dir count — compaction is the
    // migration verb on an evolved store
    val n = SnapshotStore.compactPartitions(spark, dir, "d,t")
    assert(n >= 2, s"compaction must choose the old-era partitions: $n")
    val after = SnapshotStore.read(spark, dir).select("id", "v")
      .as[(String, Long)].collect().toSet
    assert(after == before, "compaction is pure layout across eras")
    // post-migration merge: single key domain again
    SnapshotStore.merge(spark, dir,
      Seq(("d1-1", "d1", "t1", -1L)).toDF("id", "d", "t", "v"),
      "d,t", Seq("id"))
    val got = SnapshotStore.read(spark, dir)
    assert(got.count() == before.size)
    assert(got.filter(col("id") === "d1-1").select("v").as[Long]
      .head() == -1L)
  }

  test("guards + SQL verb: re-declaring the same spec refuses, an " +
    "unknown column refuses; graft_evolve_partition reports the spec " +
    "count; the spec history is readable") {
    val dir = newDir("guard")
    SnapshotStore.write(Seq((1L, "p0", "x", 1.0)).toDF("k", "p", "t", "v"),
      dir, "p")
    val e1 = intercept[IllegalArgumentException](
      SnapshotStore.evolvePartitionSpec(spark, dir, "p"))
    assert(e1.getMessage.contains("must change"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.evolvePartitionSpec(spark, dir, "nope"))
    assert(e2.getMessage.contains("nope"), e2.getMessage)
    graft.plans.AsOf.register(spark)
    val r = spark.sql(
      s"SELECT * FROM graft_evolve_partition('$dir', 'p,t')").head()
    assert(r.getLong(2) == 2L, s"two specs recorded, got $r")
    assert(SnapshotStore.allPartSpecs(spark, dir) == Seq("p", "p,t"))
    assert(SnapshotStore.partColOf(spark, dir).contains("p,t"))
    // appends under the old spec shape refuse via the partCol guard
    val e3 = intercept[IllegalArgumentException](
      SnapshotStore.requirePartCol(spark, dir, "p"))
    assert(e3.getMessage.contains("partition"), e3.getMessage)
    // a crashed evolution's staging tmp ages out under the sweep; the
    // published spec files survive it
    val orphan = new java.io.File(dir, "._partcol-3.tmp-deadbeef")
    java.nio.file.Files.write(orphan.toPath, "x".getBytes("UTF-8"))
    orphan.setLastModified(System.currentTimeMillis() - 3600000L)
    SnapshotStore.expire(spark, dir, keep = 10, minAgeMs = 60000L)
    assert(!orphan.exists(), "crashed-evolution staging must be swept")
    assert(SnapshotStore.allPartSpecs(spark, dir) == Seq("p", "p,t"),
      "published spec files must survive the sweep")
  }

  test("cross-era key attribution is injective: a predicate naming the " +
    "composite key's STRING as an old-era value touches nothing, and " +
    "partition-conjunct counts stay metadata-served across eras") {
    val dir = newDir("attrib")
    SnapshotStore.write(Seq(("r1", "X", "q", 1L), ("r2", "Y", "q", 2L))
      .toDF("id", "d", "t", "v"), dir, "d", statsCols = Seq("v"))
    SnapshotStore.evolvePartitionSpec(spark, dir, "d,t")
    SnapshotStore.append(Seq(("r3", "X", "q", 3L))
      .toDF("id", "d", "t", "v"), dir, "d,t")
    // the composite era's key for (X, q) is "X\u0001q" — a day
    // predicate naming that exact STRING must not count/delete the
    // composite partition's rows (their day value is "X"), and it can
    // name no old-era key either (single-column keys reserve U+0001)
    val (cnt, _) = SnapshotStore.countWhereDetailed(spark, dir,
      col("d") === "X\u0001q")
    assert(cnt == 0, s"no row has that day value, got $cnt")
    SnapshotStore.deleteWhere(spark, dir, col("d") === "X\u0001q")
    assert(SnapshotStore.read(spark, dir).count() == 3,
      "the alias-shaped predicate must delete nothing")
    // the honest cross-era day probe: exact, and pure metadata (the
    // capability the injectivity argument preserves)
    val (cx, sx) = SnapshotStore.countWhereDetailed(spark, dir,
      col("d") === "X")
    assert(cx == 2 && sx == 0, s"got ($cx, $sx)")
  }
}
