package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** Declare-later data skipping ([[SnapshotStore.backfillStats]]): stats
  * and needle columns added to an EXISTING store, every retained head
  * gen backfilled with zero data rewritten. Pins pruning after the
  * backfill (min/max, counts, needles), the empty-and-unread CDC feed
  * across the metadata-only commit, time travel, maintenance by later
  * writes, rename composition, and the SQL verb.
  */
class SnapshotBackfillSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_bf_$tag").toString + "/st"

  /** 3 gens with disjoint k-ranges and an injective needle — declared
    * with NO skipping columns at all.
    */
  private def bareStore(dir: String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0,
        s"N${lo + i}")).toDF("k", "p", "v", "needle")
    SnapshotStore.write(chunk(0L, 50), dir, "p")
    SnapshotStore.append(chunk(1000L, 50), dir, "p")
    SnapshotStore.append(chunk(2000L, 50), dir, "p")
  }

  private def gens(files: Array[String]): Set[String] =
    files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet

  test("backfilling stats onto a stats-less store makes readWhere prune " +
    "and countWhere metadata-only — no gen rewritten, history intact") {
    val dir = newDir("stats"); bareStore(dir)
    val pred = col("k") >= 1000L && col("k") < 1050L
    assert(gens(SnapshotStore.readWhere(spark, dir, pred).inputFiles)
      .size == 3, "before the backfill every gen opens")
    val dataDirs = new java.io.File(s"$dir/data").listFiles().map(_.getName)
      .toSet
    val v = SnapshotStore.backfillStats(spark, dir, statsCols = Seq("k"))
    assert(v == 4)
    assert(new java.io.File(s"$dir/data").listFiles().map(_.getName)
      .toSet == dataDirs, "zero data rewritten: the gen set is unchanged")
    val pruned = SnapshotStore.readWhere(spark, dir, pred)
    assert(gens(pruned.inputFiles).size == 1, "after: one gen opens")
    assert(pruned.select("k").as[Long].collect().sorted.toSeq ==
      (1000L until 1050L))
    val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir, pred)
    assert(cnt == 50L && scanned == 0,
      s"gen-aligned count is pure metadata after the backfill, got " +
        s"($cnt, $scanned)")
    assert(SnapshotStore.operationOf(spark, dir, 4) == "backfill_stats")
    assert(SnapshotStore.read(spark, dir, Some(3)).count() == 150,
      "the pre-backfill version still reads")
  }

  test("the batched one-job blob pass is byte-identical to the per-gen " +
    "codec — absent-column all-NULL fields and string bounds included") {
    val dir = newDir("batch")
    // gen 1 has no `s2` column (it reads NULL under the union schema and
    // must record the same counts-only field the per-gen path records
    // for an absent column); strings exercise the truncate discipline
    SnapshotStore.write((0 until 40).map(i =>
      (i.toLong, s"p${i % 2}", f"u$i%03d")).toDF("k", "p", "s"), dir, "p")
    SnapshotStore.append((1000 until 1040).map(i =>
      (i.toLong, s"p${i % 2}", f"u$i%04d", i * 1.5))
      .toDF("k", "p", "s", "s2"), dir, "p")
    SnapshotStore.backfillStats(spark, dir,
      statsCols = Seq("k", "s", "s2"))
    val head = SnapshotStore.headVersion(spark, dir).get
    val entries = SnapshotStore.readManifest(spark, dir, head)
    val genSet = gens(entries.values.flatten.map(f =>
      s"x/data/${f.split("/")(1)}/y").toArray)
    assert(genSet.size == 2)
    val schema = org.apache.spark.sql.types.StructType(
      SnapshotStore.read(spark, dir).schema.fields)
    val perGen = genSet.map(g => g ->
      SnapshotStore.genStats(spark, dir, g, Seq("k", "s", "s2"))).toMap
    val leafDirs = entries.values.flatten
      .map(f => f.split("")(0)).toSeq.distinct.sorted
    val batch = SnapshotStore.genStatsBatch(spark, dir,
      leafDirs, Seq("k", "s", "s2"), schema)
    assert(batch == perGen,
      s"batched blobs must equal the per-gen codec's:\n$batch\nvs\n$perGen")
    // and the backfilled manifest carries exactly those blobs
    entries.foreach { case (p, fields) =>
      fields.foreach { f =>
        val gen = f.split("/")(1)
        val blob = f.split("\u0002").lift(1)
        assert(blob == perGen(gen).get(p),
          s"manifest field for ($p, $gen) must carry the codec blob")
      }
    }
  }

  test("the CDC feed across a backfill commit is EMPTY without reading " +
    "a file (partitions diff by dir lists, never blob text)") {
    val dir = newDir("cdc"); bareStore(dir)
    SnapshotStore.backfillStats(spark, dir, statsCols = Seq("k", "v"))
    val feed = SnapshotStore.changes(spark, dir, 3, 4, Seq("k"))
    assert(feed.count() == 0 && feed.inputFiles.isEmpty,
      "a metadata-only commit must not make consumers rescan")
  }

  test("backfilled needles serve the point lookup; later writes " +
    "maintain the declarations automatically") {
    val dir = newDir("ndl"); bareStore(dir)
    SnapshotStore.backfillStats(spark, dir, statsCols = Seq("k"),
      bloomCols = Seq("needle"))
    val miss = SnapshotStore.readWhere(spark, dir,
      col("needle") === "NOPE")
    assert(miss.count() == 0 && miss.inputFiles.isEmpty,
      "a needle miss opens zero gens after the backfill")
    val hit = SnapshotStore.readWhere(spark, dir,
      col("needle") === "N2025")
    assert(hit.select("k").as[Long].collect().toSeq == Seq(2025L))
    assert(gens(hit.inputFiles).size <= 2)
    // a post-backfill append builds its own blobs + sidecars unprompted
    SnapshotStore.append(
      Seq((9000L, "p0", 9.0, "N9000")).toDF("k", "p", "v", "needle"),
      dir, "p")
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("k") === 9000L).inputFiles).size == 1,
      "the appended gen's stats prune")
    val miss2 = SnapshotStore.readWhere(spark, dir,
      col("needle") === "NOPE")
    assert(miss2.count() == 0 && miss2.inputFiles.isEmpty,
      "the appended gen's needle file serves too")
  }

  test("logical names resolve through renames; unknown and unsupported " +
    "columns are loud; re-declaring is idempotent") {
    val dir = newDir("ren"); bareStore(dir)
    SnapshotStore.renameColumn(spark, dir, "k", "key")
    SnapshotStore.backfillStats(spark, dir, statsCols = Seq("key"))
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("key") >= 1000L && col("key") < 1050L).inputFiles).size == 1)
    intercept[IllegalArgumentException](
      SnapshotStore.backfillStats(spark, dir, statsCols = Seq("ghost")))
    intercept[IllegalArgumentException](
      SnapshotStore.backfillStats(spark, dir, bloomCols = Seq("v")))
    val v = SnapshotStore.backfillStats(spark, dir, statsCols = Seq("key"))
    assert(SnapshotStore.headVersion(spark, dir).contains(v),
      "re-declaring recomputes and commits (idempotent content)")
  }

  test("staged branch gens get needle sidecars too: the WAP audit " +
    "prunes on the backfilled column without any staged rewrite") {
    val dir = newDir("br"); bareStore(dir)
    SnapshotStore.branchCreate(spark, dir, "cand")
    SnapshotStore.append(
      Seq((5000L, "p0", 5.0, "N5000")).toDF("k", "p", "v", "needle"),
      dir, "p", target = Dml.Branch("cand"))
    SnapshotStore.backfillStats(spark, dir, bloomCols = Seq("needle"))
    val miss = SnapshotStore.readWhere(spark, dir,
      col("needle") === "NOPE",
      target = Dml.Branch("cand"))
    assert(miss.count() == 0 && miss.inputFiles.isEmpty,
      "the audit's needle miss opens zero gens — staged ones included")
    assert(SnapshotStore.readWhere(spark, dir,
      col("needle") === "N5000",
      target = Dml.Branch("cand")).select("k").as[Long]
      .collect().toSeq == Seq(5000L))
  }

  test("SQL verb: graft_backfill_stats declares and backfills from pure " +
    "SQL") {
    plans.AsOf.register(spark)
    val dir = newDir("sql"); bareStore(dir)
    val r = spark.sql(
      s"SELECT * FROM graft_backfill_stats('$dir', 'k,v', 'needle')")
      .collect()(0)
    assert(r.getString(0) == "backfill_stats" && r.getLong(2) == 4L)
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("k") < 50L).inputFiles).size == 1)
    val miss = SnapshotStore.readWhere(spark, dir,
      col("needle") === "NOPE")
    assert(miss.inputFiles.isEmpty)
  }

  test("the era-grouped batch pass on an EVOLVED store is blob-identical " +
    "to the per-gen codec (one job per era, key arity names the era), " +
    "and same-arity eras fall back per-gen — never mis-keyed") {
    val dir = newDir("evo")
    SnapshotStore.write((0 until 40).map(i =>
      (i.toLong, s"d${i % 2}", s"t${i % 3}", i * 1.0))
      .toDF("k", "d", "t", "v"), dir, "d")
    SnapshotStore.evolvePartitionSpec(spark, dir, "d,t")
    SnapshotStore.append((1000 until 1040).map(i =>
      (i.toLong, s"d${i % 2}", s"t${i % 3}", i * 1.0))
      .toDF("k", "d", "t", "v"), dir, "d,t")
    SnapshotStore.backfillStats(spark, dir, statsCols = Seq("k", "v"))
    val head = SnapshotStore.headVersion(spark, dir).get
    val entries = SnapshotStore.readManifest(spark, dir, head)
    val genSet = gens(entries.values.flatten.map(f =>
      s"x/data/${f.split("/")(1)}/y").toArray)
    assert(genSet.size == 2)
    val schema = org.apache.spark.sql.types.StructType(
      SnapshotStore.read(spark, dir).schema.fields)
    val perGen = genSet.map(g => g ->
      SnapshotStore.genStats(spark, dir, g, Seq("k", "v"))).toMap
    val leafDirs = entries.values.flatten.map(f => f.split("\u0002")(0))
      .toSeq.distinct.sorted
    val batch = SnapshotStore.genStatsBatch(spark, dir, leafDirs,
      Seq("k", "v"), schema)
    assert(batch == perGen,
      s"era-grouped blobs must equal per-gen:\n$batch\nvs\n$perGen")
    // the backfilled manifest carries exactly those blobs
    entries.foreach { case (pk, fields) =>
      fields.foreach { f =>
        val gen = f.split("/")(1)
        val blob = f.split("\u0002").lift(1)
        assert(blob == perGen(gen).get(pk),
          s"manifest field for ($pk, $gen) must carry the codec blob")
      }
    }
    // the backfilled stats serve pruning and metadata counts ACROSS eras
    val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, dir,
      col("k") >= 1000L)
    assert(cnt == 40 && scanned == 0, s"got ($cnt, $scanned)")
    // SAME-ARITY eras (d then t, both 1-col): no shape can attribute a
    // gen, so the per-gen codec serves — results identical, never wrong
    val dir2 = newDir("evoamb")
    SnapshotStore.write((0 until 20).map(i =>
      (i.toLong, s"d${i % 2}", s"t${i % 3}", i * 1.0))
      .toDF("k", "d", "t", "v"), dir2, "d")
    SnapshotStore.evolvePartitionSpec(spark, dir2, "t")
    SnapshotStore.append((100 until 120).map(i =>
      (i.toLong, s"d${i % 2}", s"t${i % 3}", i * 1.0))
      .toDF("k", "d", "t", "v"), dir2, "t")
    SnapshotStore.backfillStats(spark, dir2, statsCols = Seq("k"))
    val head2 = SnapshotStore.headVersion(spark, dir2).get
    val entries2 = SnapshotStore.readManifest(spark, dir2, head2)
    val genSet2 = gens(entries2.values.flatten.map(f =>
      s"x/data/${f.split("/")(1)}/y").toArray)
    val perGen2 = genSet2.map(g => g ->
      SnapshotStore.genStats(spark, dir2, g, Seq("k"))).toMap
    val batch2 = SnapshotStore.genStatsBatch(spark, dir2,
      entries2.values.flatten.map(f => f.split("\u0002")(0))
        .toSeq.distinct.sorted, Seq("k"), schema)
    assert(batch2 == perGen2, "ambiguous arity must take the per-gen codec")
  }
}
