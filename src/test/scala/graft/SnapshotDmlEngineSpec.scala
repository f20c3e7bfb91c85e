package graft

import java.nio.file.Files
import java.util.ConcurrentModificationException

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.storage.{Dml, DmlReceipt, SnapshotStore}

/** The one predicate-DML engine ([[SnapshotStore.dml]]) across its whole
  * {delete, update} × {copy-on-write, merge-on-read} × {head, branch}
  * table on one seeded fixture, the zero-rewrite update no-op, and the
  * [[SnapshotStore.withCasRetry]] combinator every store writer retries
  * through.
  */
class SnapshotDmlEngineSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_dmlx_$tag").toString + "/st"

  private type Row4 = (Long, String, Option[Double], String)

  /** 3 gens (k in [0,60), [100,160), [200,260)) over partitions p0..p2,
    * one row in ten with a NULL `v`; stats on k and v.
    */
  private def seeded(dir: String): Unit = {
    val rnd = new scala.util.Random(42)
    def chunk(lo: Long): DataFrame = (0 until 60).map { i =>
      val k = lo + i
      (k, s"p${rnd.nextInt(3)}",
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextDouble()),
        s"r$k")
    }.toDF("k", "p", "v", "s")
    SnapshotStore.write(chunk(0L), dir, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(chunk(100L), dir, "p")
    SnapshotStore.append(chunk(200L), dir, "p")
  }

  private def rows(df: DataFrame): Seq[Row4] =
    df.select("k", "p", "v", "s").as[Row4].collect().toSeq.sortBy(_._1)

  // k >= 200 is AllMatch on the third gen (a delete drops it as
  // metadata); v > 0.9 is NULL on NULL-v rows (they survive a delete)
  private val pred =
    col("k") >= 200L || col("k") % 7 === 3 || col("v") > 0.9
  private def holds(r: Row4): Boolean =
    r._1 >= 200L || r._1 % 7 == 3 || r._3.exists(_ > 0.9)
  private val assignments =
    Seq("v" -> (col("v") + 100.0), "s" -> concat(col("s"), lit("*")))

  private def model(before: Seq[Row4], delete: Boolean): Seq[Row4] =
    if (delete) before.filterNot(holds)
    else before.map(r =>
      if (holds(r)) (r._1, r._2, r._3.map(_ + 100.0), r._4 + "*") else r)

  test("dml: every {delete, update} x {CoW, MoR} x {head, branch} " +
    "combination reads back as a driver-side model of read(); CoW and " +
    "MoR agree; branch-then-publish equals the head commit") {
    val combos = for {
      delete <- Seq(true, false)
      mode <- Seq[Dml.Mode](Dml.CoW, Dml.MoR)
      branch <- Seq(false, true)
    } yield (delete, mode, branch)
    val got = combos.map { case key @ (delete, mode, branch) =>
      val tag = s"${if (delete) "delete" else "update"}/$mode/" +
        (if (branch) "branch" else "head")
      val dir = newDir(tag.replace('/', '_'))
      seeded(dir)
      val before = rows(SnapshotStore.read(spark, dir))
      val expected = model(before, delete)
      assert(expected != before && expected.nonEmpty, s"$tag: fixture")
      val op = if (delete) Dml.Delete else Dml.Update(assignments)
      val (r, after) =
        if (branch) {
          SnapshotStore.branchCreate(spark, dir, "b")
          val r = SnapshotStore.dml(spark, dir, op, pred, Dml.Branch("b"),
            mode)
          assert(r.version == 1, s"$tag: stages tip 1, got $r")
          assert(rows(SnapshotStore.read(spark, dir)) == before,
            s"$tag: main untouched")
          assert(rows(SnapshotStore.readBranch(spark, dir, "b")) == expected,
            s"$tag: branch tip")
          SnapshotStore.publishBranch(spark, dir, "b")
          (r, rows(SnapshotStore.read(spark, dir)))
        } else {
          val r = SnapshotStore.dml(spark, dir, op, pred, mode = mode)
          assert(r.version == 4, s"$tag: commits head 4, got $r")
          (r, rows(SnapshotStore.read(spark, dir)))
        }
      assert(after == expected, s"$tag: read-back vs model")
      if (delete) assert(r.droppedDirs > 0, s"$tag: metadata drop, got $r")
      if (mode == Dml.MoR) assert(r.dvRows > 0, s"$tag: positions, got $r")
      else assert(r.dvRows == 0 && r.rewrittenDirs > 0, s"$tag: got $r")
      key -> after
    }.toMap
    for (delete <- Seq(true, false); branch <- Seq(false, true))
      assert(got((delete, Dml.CoW, branch)) == got((delete, Dml.MoR, branch)),
        s"CoW and MoR must agree (delete=$delete, branch=$branch)")
    for (delete <- Seq(true, false); mode <- Seq[Dml.Mode](Dml.CoW, Dml.MoR))
      assert(got((delete, mode, true)) == got((delete, mode, false)),
        s"branch-then-publish must equal head (delete=$delete, $mode)")
  }

  test("an update whose file split proves every ambiguous file NoMatch " +
    "commits nothing and returns the prior head or tip with keptFiles") {
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try {
      val dir = newDir("zero")
      // one slice, two files: footers k in [0,9] and [20,29]; the slice
      // range [0,29] holds 15, neither file does
      SnapshotStore.write(((0L to 9L) ++ (20L to 29L))
        .map(k => (k, "p0", k * 1.0)).toDF("k", "p", "v"),
        dir, "p", statsCols = Seq("k"), sortCols = Seq("k"))
      val set = Dml.Update(Seq("v" -> lit(-1.0)))
      val needle = col("k") === 15L
      assert(SnapshotStore.dml(spark, dir, set, needle) ==
        DmlReceipt(1, 0, 0, 0, keptFiles = 2))
      assert(SnapshotStore.headVersion(spark, dir).contains(1))
      SnapshotStore.branchCreate(spark, dir, "b")
      assert(SnapshotStore.dml(spark, dir, set, needle, Dml.Branch("b")) ==
        DmlReceipt(0, 0, 0, 0, keptFiles = 2))
      assert(SnapshotStore.branches(spark, dir)("b") == 0)
      // MoR has no file split: its scan finds no hit and commits nothing
      assert(SnapshotStore.dml(spark, dir, set, needle, mode = Dml.MoR)
        .version == 1)
      assert(SnapshotStore.read(spark, dir).filter(col("v") === -1.0)
        .count() == 0)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("withCasRetry returns the first attempt that wins its CAS") {
    var calls = 0
    val v = SnapshotStore.withCasRetry(3) {
      calls += 1
      if (calls < 3) throw new ConcurrentModificationException(s"lost $calls")
      calls
    }
    assert(v == 3 && calls == 3)
  }

  test("withCasRetry rethrows the CAS loss after maxRetries + 1 attempts") {
    var calls = 0
    val e = intercept[ConcurrentModificationException](
      SnapshotStore.withCasRetry(2) {
        calls += 1
        throw new ConcurrentModificationException(s"lost $calls")
      })
    assert(calls == 3 && e.getMessage == "lost 3")
    calls = 0
    intercept[ConcurrentModificationException](
      SnapshotStore.withCasRetry() {
        calls += 1
        throw new ConcurrentModificationException("lost")
      })
    assert(calls == 6, "the default bound is 5 retries")
  }

  test("withCasRetry propagates any other exception at once") {
    var calls = 0
    val e = intercept[IllegalStateException](
      SnapshotStore.withCasRetry(5) {
        calls += 1
        throw new IllegalStateException("not a CAS loss")
      })
    assert(calls == 1 && e.getMessage == "not a CAS loss")
  }
}
