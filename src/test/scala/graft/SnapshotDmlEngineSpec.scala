package graft

import java.nio.file.Files
import java.util.ConcurrentModificationException

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.storage.{Dml, DmlReceipt, SnapshotStore}

/** The one predicate-DML engine ([[SnapshotStore.dml]]) across its whole
  * {delete, update} × {copy-on-write, merge-on-read} × {head, branch}
  * table on one seeded fixture, the zero-rewrite update no-op, the
  * [[SnapshotStore.withCasRetry]] combinator every store writer retries
  * through, and the other verbs' head/branch parity: append, merge, read,
  * readWhere and countWhere run one body over either target.
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
          assert(rows(SnapshotStore.read(spark, dir,
            target = Dml.Branch("b"))) == expected,
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

  private val headT: Dml.Target = Dml.Head
  private val branchT: Dml.Target = Dml.Branch("b")

  /** `before` after [[mergeBatch]]: k % 5 == 0 rows updated in place,
    * k % 10 == 1 rows deleted, 400..409 inserted.
    */
  private def mergeBatch(before: Seq[Row4]): DataFrame =
    (before.collect {
      case (k, p, _, _) if k % 5 == 0 => (k, p, Option(7.0), s"m$k", false)
      case (k, p, v, s) if k % 10 == 1 => (k, p, v, s, true)
    } ++ (400L until 410L).map(k =>
      (k, s"p${k % 3}", Option(k * 0.5), s"i$k", false)))
      .toDF("k", "p", "v", "s", "del")

  private def mergeModel(before: Seq[Row4]): Seq[Row4] =
    (before.collect {
      case (k, p, _, _) if k % 5 == 0 => (k, p, Option(7.0), s"m$k")
      case r if r._1 % 10 != 1 => r
    } ++ (400L until 410L).map(k =>
      (k, s"p${k % 3}", Option(k * 0.5), s"i$k"))).sortBy(_._1)

  test("append (with a keyed replay no-op) and merge: branch-then-publish " +
    "equals the head verbs") {
    val batch = (300L until 330L).map(k =>
      (k, s"p${k % 3}", Option(k * 0.25), s"a$k")).toDF("k", "p", "v", "s")
    val got = Seq(headT, branchT).map { target =>
      val dir = newDir(if (target == headT) "verbs_head" else "verbs_branch")
      seeded(dir)
      val before = rows(SnapshotStore.read(spark, dir))
      if (target != headT) SnapshotStore.branchCreate(spark, dir, "b")
      def version: Int = target match {
        case Dml.Head => SnapshotStore.headVersion(spark, dir).get
        case Dml.Branch(b) => SnapshotStore.branches(spark, dir)(b)
      }
      SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("batch-1"),
        target = target)
      val afterAppend = version
      SnapshotStore.append(batch, dir, "p", idempotencyKey = Some("batch-1"),
        target = target)
      assert(version == afterAppend, s"$target: a keyed replay is a no-op")
      val appended = rows(SnapshotStore.read(spark, dir, target = target))
      assert(appended == (before ++ rows(batch)).sortBy(_._1), s"$target")
      SnapshotStore.merge(spark, dir, mergeBatch(appended), "p", Seq("k"),
        deleteCol = Some("del"), target = target)
      assert(version == afterAppend + 1, s"$target: one merge, one version")
      if (target != headT) {
        assert(rows(SnapshotStore.read(spark, dir)) == before,
          "main untouched until publish")
        SnapshotStore.publishBranch(spark, dir, "b")
      }
      val after = rows(SnapshotStore.read(spark, dir))
      assert(after == mergeModel(appended), s"$target: read-back vs model")
      after
    }
    assert(got(0) == got(1), "branch-then-publish must equal the head")
  }

  test("branch read, readWhere and countWhere equal a filter over the " +
    "branch's read") {
    val dir = newDir("audit")
    seeded(dir)
    SnapshotStore.branchCreate(spark, dir, "b")
    SnapshotStore.append((300L until 330L).map(k =>
      (k, s"p${k % 3}", Option(k * 0.25), s"a$k")).toDF("k", "p", "v", "s"),
      dir, "p", target = branchT)
    SnapshotStore.dml(spark, dir, Dml.Delete, col("k") % 9 === 4, branchT,
      Dml.MoR)
    val tip = SnapshotStore.read(spark, dir, target = branchT)
    assert(rows(tip).exists(_._1 >= 300L) && !rows(tip).exists(_._1 == 4L))
    for (q <- Seq(pred, col("p") === "p1", col("k") < 50L,
      col("p").isin("p0", "p2") && col("k") > 100L, col("k") === 305L,
      col("v") > 2.0)) {
      assert(rows(SnapshotStore.readWhere(spark, dir, q, target = branchT)) ==
        rows(tip.filter(q)), s"readWhere($q)")
      assert(SnapshotStore.countWhere(spark, dir, q, target = branchT) ==
        tip.filter(q).count(), s"countWhere($q)")
    }
    assert(rows(SnapshotStore.read(spark, dir)) ==
      rows(SnapshotStore.read(spark, dir, Some(3))), "main untouched")
    intercept[IllegalArgumentException](
      SnapshotStore.read(spark, dir, Some(3), branchT))
  }

  test("a branch merge that loses its staged CAS at beforeCommit retries " +
    "against the new tip and lands") {
    val dir = newDir("mergecas")
    seeded(dir)
    val before = rows(SnapshotStore.read(spark, dir))
    SnapshotStore.branchCreate(spark, dir, "b")
    val racer = (500L until 505L).map(k =>
      (k, "p0", Option(1.0), s"x$k")).toDF("k", "p", "v", "s")
    var raced = 0
    SnapshotStore.merge(spark, dir, mergeBatch(before), "p", Seq("k"),
      deleteCol = Some("del"), target = branchT,
      beforeCommit = () => if (raced == 0) {
        raced += 1 // a concurrent branch writer stages tip 1 first
        SnapshotStore.append(racer, dir, "p", target = branchT)
      })
    assert(raced == 1 && SnapshotStore.branches(spark, dir)("b") == 2,
      "the racer's tip 1, then the retried merge's tip 2")
    assert(rows(SnapshotStore.read(spark, dir, target = branchT)) ==
      (mergeModel(before) ++ rows(racer)).sortBy(_._1))
  }

  test("a branch countWhere over a partition-only predicate is served " +
    "from metadata, as the head's is") {
    val dir = newDir("partcount")
    seeded(dir) // stats on k and v, none on the partition column p
    SnapshotStore.branchCreate(spark, dir, "b")
    val q = col("p") === "p1"
    val want = SnapshotStore.read(spark, dir).filter(q).count()
    assert(want > 0)
    assert(SnapshotStore.countWhereDetailed(spark, dir, q) == ((want, 0)))
    assert(SnapshotStore.countWhereDetailed(spark, dir, q,
      target = branchT) == ((want, 0)), "the branch scans no dir")
  }

  test("a branch merge launches no more Spark jobs than the same merge on " +
    "the head") {
    val jobs = Seq(headT, branchT).map { target =>
      val dir = newDir("mergejobs")
      seeded(dir)
      if (target != headT) SnapshotStore.branchCreate(spark, dir, "b")
      val batch = mergeBatch(rows(SnapshotStore.read(spark, dir)))
      jobsLaunchedBy(SnapshotStore.merge(spark, dir, batch, "p", Seq("k"),
        deleteCol = Some("del"), target = target))
    }
    assert(jobs(1) <= jobs(0), s"head ${jobs(0)} jobs, branch ${jobs(1)}")
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
