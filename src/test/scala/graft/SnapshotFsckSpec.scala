package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** The read-only store integrity report ([[SnapshotStore.fsck]] /
  * `graft_fsck`): a healthy store reports zero rows; manual file surgery
  * surfaces as `dangling_ref`/`dangling_dv` errors naming the version
  * and path; unreferenced dirs and staging leftovers report as info the
  * sweep reclaims. The report never mutates anything.
  */
class SnapshotFsckSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_fsck_$tag").toString + "/st"

  private def store(dir: String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("k"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
  }

  test("a healthy store reports ZERO rows — through DML, DVs, branches, " +
    "compaction and expire") {
    val dir = newDir("healthy"); store(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 104L, mode = Dml.MoR)
    SnapshotStore.branchCreate(spark, dir, "aud")
    SnapshotStore.updateWhere(spark, dir, Seq("v" -> (col("v") + 1)),
      col("k") === 2L)
    SnapshotStore.compactPartitions(spark, dir, "p")
    SnapshotStore.expire(spark, dir, keep = 2, minAgeMs = 0L)
    val rows = SnapshotStore.fsck(spark, dir).collect()
    assert(rows.isEmpty, s"healthy store must report nothing, got " +
      s"${rows.mkString("; ")}")
  }

  test("manual surgery surfaces loudly: a deleted gen dir is a " +
    "dangling_ref, a deleted DV sidecar a dangling_dv, an unreferenced " +
    "dir an orphan — and fsck never mutates") {
    val dir = newDir("broken"); store(dir)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") === 104L, mode = Dml.MoR)
    val data = new java.io.File(s"$dir/data")
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf); f.delete()
    }
    // delete the DV sidecar out from under the head
    val dv = data.listFiles().filter(_.getName.startsWith("dv-")).head
    rmRf(dv)
    // delete one referenced gen dir
    val gen = data.listFiles().filter(_.getName.startsWith("gen-")).head
    rmRf(gen)
    // plant an orphan
    val orphan = new java.io.File(data, "gen-deadbeef0000")
    orphan.mkdirs()
    val report = SnapshotStore.fsck(spark, dir)
      .select("severity", "kind").as[(String, String)].collect().toSeq
    assert(report.contains(("error", "dangling_dv")), s"got $report")
    assert(report.contains(("error", "dangling_ref")), s"got $report")
    assert(report.contains(("info", "orphan_dir")), s"got $report")
    // read-only: the orphan and the manifests are still there
    assert(orphan.exists())
    assert(SnapshotStore.headVersion(spark, dir).isDefined)
    // SQL reach
    graft.plans.AsOf.register(spark)
    assert(spark.sql(s"SELECT * FROM graft_fsck('$dir')")
      .filter(col("severity") === "error").count() >= 2)
  }
}
