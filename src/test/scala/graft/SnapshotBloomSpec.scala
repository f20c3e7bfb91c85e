package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** Needle files — per-gen bloom filters over declared columns, consulted
  * by readWhere after min/max pruning ([[graft.storage.SnapshotBloom]]).
  * Pins the needle-lookup pruning (a miss opens ZERO gens; a hit opens
  * the holding gen), no-false-negative parity sweeps, IN-list semantics,
  * the conservative paths (undeclared store, a gen missing the column),
  * rename composition, compaction/DML rebuild, and declaration hygiene.
  */
class SnapshotBloomSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_bloom_$tag").toString + "/st"

  private def scramble(k: Long): String =
    s"N${k * 2654435761L % 1000000007L}"

  /** 3 gens; `needle` is a scrambled key — every gen's needle RANGE
    * overlaps (min/max alone cannot prune the lookup).
    */
  private def needleStore(dir: String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", scramble(lo + i)))
        .toDF("k", "p", "needle")
    SnapshotStore.write(chunk(0L, 200), dir, "p",
      statsCols = Seq("k"), bloomCols = Seq("needle"))
    SnapshotStore.append(chunk(1000L, 200), dir, "p")
    SnapshotStore.append(chunk(2000L, 200), dir, "p")
  }

  private def gens(files: Array[String]): Set[String] =
    files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet

  test("a needle hit opens only the holding gen(s); a miss opens ZERO " +
    "gens; the full read opens all three") {
    val dir = newDir("hit"); needleStore(dir)
    val hit = SnapshotStore.readWhere(spark, dir,
      col("needle") === scramble(1042L))
    assert(hit.select("k").as[Long].collect().toSeq == Seq(1042L))
    assert(gens(hit.inputFiles).size <= 2 && gens(hit.inputFiles).nonEmpty,
      s"needle hit must prune, opened ${gens(hit.inputFiles)}")
    val miss = SnapshotStore.readWhere(spark, dir,
      col("needle") === "NOPE")
    assert(miss.count() == 0 && miss.inputFiles.isEmpty,
      "a needle miss is answered from the sidecars: zero gens opened")
    assert(gens(SnapshotStore.read(spark, dir).inputFiles).size == 3)
    // min/max alone cannot serve this shape: a stats-only store scans all
    val plain = newDir("plain")
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", scramble(lo + i)))
        .toDF("k", "p", "needle")
    SnapshotStore.write(chunk(0L, 200), plain, "p", statsCols = Seq("k"))
    SnapshotStore.append(chunk(1000L, 200), plain, "p")
    assert(gens(SnapshotStore.readWhere(spark, plain,
      col("needle") === scramble(1042L)).inputFiles).size == 2,
      "without needle files the lookup reads everything — the layer " +
        "min/max cannot serve")
  }

  test("no false negatives: a 30-key parity sweep matches the unpruned " +
    "filter; IN lists prune to the union of holders") {
    val dir = newDir("parity"); needleStore(dir)
    val keys = (0 until 30).map(i => Seq(0L, 1000L, 2000L)(i % 3) + i * 6)
    keys.foreach { k =>
      val pruned = SnapshotStore.readWhere(spark, dir,
        col("needle") === scramble(k))
      assert(pruned.select("k").as[Long].collect().toSeq == Seq(k),
        s"needle for $k")
      assert(gens(pruned.inputFiles).size <= 2)
    }
    val in = SnapshotStore.readWhere(spark, dir,
      col("needle").isin(scramble(7L), scramble(2111L)))
    assert(in.select("k").as[Long].collect().sorted.toSeq ==
      Seq(7L, 2111L))
    assert(gens(in.inputFiles).size <= 2,
      "the IN probe keeps a gen only when SOME element might be present")
    // conjunct composes with the ranged stats: k-range prunes to gen 2,
    // the needle conjunct (held by gen 1) intersects to nothing
    val both = SnapshotStore.readWhere(spark, dir,
      col("k") >= 1000L && col("k") < 1200L &&
        col("needle") === scramble(7L))
    assert(both.count() == 0 && both.inputFiles.isEmpty,
      "range stats and needle files AND-compose")
  }

  test("conservative paths: a narrow append without the column gets no " +
    "sidecar and is never pruned; NULL-bearing probes never prune " +
    "wrongly") {
    val dir = newDir("cons"); needleStore(dir)
    SnapshotStore.append(Seq((9000L, "p0")).toDF("k", "p"), dir, "p")
    val q = SnapshotStore.readWhere(spark, dir,
      col("needle") === scramble(7L))
    assert(q.select("k").as[Long].collect().toSeq == Seq(7L))
    val narrowAlwaysOpened = gens(SnapshotStore.readWhere(spark, dir,
      col("needle") === "NOPE").inputFiles)
    assert(narrowAlwaysOpened.size == 1,
      "the sidecar-less narrow gen is conservatively opened even on a " +
        s"miss, got $narrowAlwaysOpened")
    // a NULL element in an IN list is ignorable; an all-NULL probe set
    // cannot match — but the shape must stay CORRECT, never over-pruned
    val withNull = SnapshotStore.readWhere(spark, dir,
      col("needle").isin(scramble(7L), null))
    assert(withNull.select("k").as[Long].collect().toSeq == Seq(7L))
  }

  test("composes with rename and survives compaction and DML rewrites " +
    "(every writer path rebuilds sidecars through one writeGen)") {
    val dir = newDir("ren"); needleStore(dir)
    SnapshotStore.renameColumn(spark, dir, "needle", "id")
    val q = SnapshotStore.readWhere(spark, dir, col("id") === scramble(7L))
    assert(q.select("k").as[Long].collect().toSeq == Seq(7L))
    assert(gens(q.inputFiles).size <= 2, "pruning under the rename")
    SnapshotStore.compactPartitions(spark, dir, "p", minDirs = 2)
    val afterCompact = SnapshotStore.readWhere(spark, dir,
      col("id") === "NOPE")
    assert(afterCompact.count() == 0 && afterCompact.inputFiles.isEmpty,
      "compaction rebuilt the needle files for its rewritten gens")
    SnapshotStore.deleteWhere(spark, dir, col("k") % 2 === 1L)
    val afterDml = SnapshotStore.readWhere(spark, dir,
      col("id") === "NOPE")
    assert(afterDml.count() == 0 && afterDml.inputFiles.isEmpty,
      "the DML copy-on-write gen carries fresh needle files")
    assert(SnapshotStore.readWhere(spark, dir,
      col("id") === scramble(1042L)).select("k").as[Long]
      .collect().toSeq == Seq(1042L))
  }

  test("DML rides the needle pass: 'delete THIS id' rewrites only the " +
    "gen that holds it; a needle-miss delete is a provable no-op") {
    val dir = newDir("dml"); needleStore(dir)
    val noop = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("needle") === "NOPE")
    assert(noop.version == 3 && noop.rewrittenDirs == 0,
      s"a needle-miss delete commits nothing, got $noop")
    val r = SnapshotStore.dml(spark, dir, Dml.Delete,
      col("needle") === scramble(1042L))
    assert(r.rewrittenDirs <= 2 && r.rewrittenDirs >= 1,
      s"only the holding gen's slice(s) pay copy-on-write, got $r")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 1042L).count() == 0)
    assert(SnapshotStore.read(spark, dir).count() == 599)
    val u = SnapshotStore.dml(spark, dir,
      Dml.Update(Seq("needle" -> lit("REDACTED"))),
      col("needle") === scramble(7L))
    assert(u.rewrittenDirs <= 2,
      s"the needle-confined update stays in the holding gen, got $u")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 7L).select("needle").as[String]
      .head() == "REDACTED")
  }

  test("countWhere rides the needle pass: a miss counts zero with zero " +
    "dirs scanned; graft_snapshot_where reaches the branch audit") {
    plans.AsOf.register(spark)
    val dir = newDir("cnt"); needleStore(dir)
    val (missCnt, missScanned) = SnapshotStore.countWhereDetailed(
      spark, dir, col("needle") === "NOPE")
    assert(missCnt == 0L && missScanned == 0,
      s"a needle-miss count is pure metadata, got ($missCnt, $missScanned)")
    val (hitCnt, hitScanned) = SnapshotStore.countWhereDetailed(
      spark, dir, col("needle") === scramble(1042L))
    assert(hitCnt == 1L && hitScanned <= 2,
      s"the hit scans only the holding gen(s), got ($hitCnt, $hitScanned)")
    // minMaxWhere symmetry: the miss aggregates nothing, scans nothing
    val (mm, mmScanned) = SnapshotStore.minMaxWhereDetailed(spark, dir,
      Seq("k"), col("needle") === "NOPE")
    assert(mmScanned == 0 && mm.collect()(0).isNullAt(0),
      "a needle-miss min/max is empty without a scan")
    // SQL: the pruned read reaches a branch tip via the selector
    SnapshotStore.branchCreate(spark, dir, "aud")
    SnapshotStore.append(
      Seq((7777L, "p0", scramble(7777L))).toDF("k", "p", "needle"),
      dir, "p", target = Dml.Branch("aud"))
    val viaSql = spark.sql(
      s"SELECT k FROM graft_snapshot_where('$dir', 'branch:aud', " +
        s"'needle = \"${scramble(7777L)}\"')").collect()
    assert(viaSql.map(_.getLong(0)).toSeq == Seq(7777L))
  }

  test("declaration hygiene: unknown column and unsupported type are " +
    "loud at write; the branch audit rides the same needle pass") {
    val dir = newDir("hyg")
    val df = Seq((1L, "p0", 1.5, "n1")).toDF("k", "p", "v", "needle")
    intercept[IllegalArgumentException](
      SnapshotStore.write(df, dir, "p", bloomCols = Seq("ghost")))
    intercept[IllegalArgumentException](
      SnapshotStore.write(df, dir, "p", bloomCols = Seq("v")))
    val d2 = newDir("branch"); needleStore(d2)
    SnapshotStore.branchCreate(spark, d2, "cand")
    SnapshotStore.append(
      (0 until 100).map(i => (5000L + i, s"p${i % 2}",
        scramble(5000L + i))).toDF("k", "p", "needle"),
      d2, "p", target = Dml.Branch("cand"))
    val audit = SnapshotStore.readWhere(spark, d2,
      col("needle") === scramble(5042L),
      target = Dml.Branch("cand"))
    assert(audit.select("k").as[Long].collect().toSeq == Seq(5042L))
    assert(gens(audit.inputFiles).size <= 2,
      "staged gens carry sidecars; the audit prunes like main")
    val auditMiss = SnapshotStore.readWhere(spark, d2,
      col("needle") === "NOPE",
      target = Dml.Branch("cand"))
    assert(auditMiss.count() == 0 && auditMiss.inputFiles.isEmpty)
  }
}
