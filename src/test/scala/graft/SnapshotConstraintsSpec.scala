package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** CHECK constraints at the snapshot store's write boundary
  * ([[SnapshotStore.addConstraint]]): named SQL predicates every ingested
  * row must satisfy, enforced on append / merge / branch writes /
  * predicate UPDATE, refused loudly with the constraint and a sample
  * row. Pins the add-time head validation (stats-pruned), SQL CHECK
  * NULL semantics, the narrow-append pad, the referenced-column
  * rename/drop refusal, the keyed-replay interplay, drop-and-retry, the
  * duplicate-add single winner, and the SQL verbs + catalog selector.
  */
class SnapshotConstraintsSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_check_$tag").toString + "/st"

  private def base(dir: String): Unit =
    SnapshotStore.write(
      Seq((1L, "p0", 10.0), (2L, "p1", 20.0)).toDF("k", "p", "v"),
      dir, "p", statsCols = Seq("k", "v"))

  test("append/merge refuse a violating batch naming the constraint and " +
    "a sample row; conforming batches land; drop lifts the gate") {
    val dir = newDir("gate"); base(dir)
    SnapshotStore.addConstraint(spark, dir, "v_pos", "v > 0")
    SnapshotStore.append(Seq((3L, "p0", 30.0)).toDF("k", "p", "v"),
      dir, "p")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.append(Seq((4L, "p0", -1.0)).toDF("k", "p", "v"),
        dir, "p"))
    assert(e.getMessage.contains("v_pos") && e.getMessage.contains("v > 0"))
    assert(SnapshotStore.headVersion(spark, dir).contains(2),
      "the refused append committed nothing")
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.merge(spark, dir,
        Seq((1L, "p0", -5.0)).toDF("k", "p", "v"), "p", Seq("k")))
    assert(e2.getMessage.contains("v_pos"))
    // a merge whose upserts conform passes even while it rewrites
    // pre-existing rows
    SnapshotStore.merge(spark, dir,
      Seq((1L, "p0", 99.0)).toDF("k", "p", "v"), "p", Seq("k"))
    assert(SnapshotStore.dropConstraint(spark, dir, "v_pos"))
    assert(!SnapshotStore.dropConstraint(spark, dir, "v_pos"))
    SnapshotStore.append(Seq((4L, "p0", -1.0)).toDF("k", "p", "v"),
      dir, "p")
    assert(SnapshotStore.read(spark, dir).count() == 4)
  }

  test("SQL CHECK semantics: NULL passes; pair with IS NOT NULL to " +
    "forbid; a narrow append missing the constrained column passes " +
    "(it reads NULL under the union schema)") {
    val dir = newDir("null")
    SnapshotStore.write(
      Seq((1L, "p0", Some(10.0))).toDF("k", "p", "v"), dir, "p")
    SnapshotStore.addConstraint(spark, dir, "v_pos", "v > 0")
    SnapshotStore.append(
      Seq((2L, "p0", None: Option[Double])).toDF("k", "p", "v"), dir, "p")
    assert(SnapshotStore.read(spark, dir).count() == 2,
      "NULL v passes CHECK (v > 0)")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.addConstraint(spark, dir, "v_set", "v IS NOT NULL"))
    assert(e.getMessage.contains("already violates"),
      "add validates the existing head (the NULL row violates IS NOT NULL)")
    // a store whose v is always set CAN forbid NULLs — and then a narrow
    // append missing the column is refused (its rows read NULL)
    val d2 = newDir("notnull")
    SnapshotStore.write(
      Seq((1L, "p0", 10.0)).toDF("k", "p", "v"), d2, "p")
    SnapshotStore.addConstraint(spark, d2, "v_set", "v IS NOT NULL")
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.append(Seq((3L, "p0")).toDF("k", "p"), d2, "p"))
    assert(e2.getMessage.contains("v_set"),
      "a narrow append fails IS NOT NULL: its rows read NULL")
    SnapshotStore.append(Seq((3L, "p0", 3.0)).toDF("k", "p", "v"), d2, "p")
    assert(SnapshotStore.read(spark, d2).count() == 2)
  }

  test("add validates the current head with a stats-pruned scan and " +
    "refuses with a sample; unknown columns are loud; duplicate add is " +
    "single-winner") {
    val dir = newDir("addv"); base(dir)
    val e = intercept[IllegalArgumentException](
      SnapshotStore.addConstraint(spark, dir, "big", "v > 15"))
    assert(e.getMessage.contains("already violates"))
    intercept[org.apache.spark.sql.AnalysisException](
      SnapshotStore.addConstraint(spark, dir, "ghost", "no_such > 1"))
    SnapshotStore.addConstraint(spark, dir, "k_pos", "k > 0")
    val e3 = intercept[IllegalArgumentException](
      SnapshotStore.addConstraint(spark, dir, "k_pos", "k > -1"))
    assert(e3.getMessage.contains("already exists"))
    assert(SnapshotStore.constraints(spark, dir) ==
      Map("k_pos" -> "k > 0"))
  }

  test("branch writes and predicate UPDATE run through the same gate") {
    val dir = newDir("wap"); base(dir)
    SnapshotStore.addConstraint(spark, dir, "v_pos", "v > 0")
    SnapshotStore.branchCreate(spark, dir, "cand")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.append(
        Seq((9L, "p0", -9.0)).toDF("k", "p", "v"), dir, "p",
        target = Dml.Branch("cand")))
    assert(e.getMessage.contains("v_pos"),
      "anything stageable must be publishable")
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.merge(spark, dir,
        Seq((9L, "p0", -9.0)).toDF("k", "p", "v"), "p", Seq("k"),
        target = Dml.Branch("cand")))
    assert(e2.getMessage.contains("v_pos"))
    SnapshotStore.append(
      Seq((9L, "p0", 9.0)).toDF("k", "p", "v"), dir, "p",
      target = Dml.Branch("cand"))
    val e3 = intercept[IllegalArgumentException](
      SnapshotStore.updateWhere(spark, dir,
        Seq("v" -> (col("v") - 100.0)), col("k") === 1L))
    assert(e3.getMessage.contains("v_pos"),
      "an assignment driving rows out of the constraint is refused")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") === 1L).select("v").as[Double].head() == 10.0,
      "the refused update committed nothing")
    SnapshotStore.updateWhere(spark, dir,
      Seq("v" -> (col("v") + 100.0)), col("k") === 1L)
  }

  test("UPDATE whose predicate references the ASSIGNED column still runs " +
    "the constraint gate over the modified rows (the hit flag is " +
    "computed on the pre-update row, never re-resolved post-assignment)") {
    val dir = newDir("selfref"); base(dir)
    SnapshotStore.addConstraint(spark, dir, "v_pos", "v > 0")
    // SET v = -v WHERE v > 15: the modified row (v=20 → -20) no longer
    // satisfies the predicate AFTER assignment, so a post-assignment
    // re-filter would silently skip enforcement and commit the violation
    val e = intercept[IllegalArgumentException](
      SnapshotStore.updateWhere(spark, dir,
        Seq("v" -> -col("v")), col("v") > 15.0))
    assert(e.getMessage.contains("v_pos"),
      "a self-referencing update driving rows out of its own predicate " +
        "must still be gated")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("v") <= 0.0).count() == 0,
      "the refused update committed nothing")
    // the conforming self-referencing shape lands, and only hit rows move
    SnapshotStore.updateWhere(spark, dir,
      Seq("v" -> (col("v") * 2.0)), col("v") > 15.0)
    assert(SnapshotStore.read(spark, dir).orderBy("k")
      .select("v").as[Double].collect().toSeq == Seq(10.0, 40.0))
  }

  test("a constraint added AFTER rows were staged still gates the " +
    "publish; a conforming tip publishes through it") {
    val dir = newDir("latecheck"); base(dir)
    SnapshotStore.branchCreate(spark, dir, "cand")
    // no constraint yet: the violating candidate stages fine
    SnapshotStore.append(
      Seq((9L, "p0", -9.0)).toDF("k", "p", "v"), dir, "p",
      target = Dml.Branch("cand"))
    SnapshotStore.addConstraint(spark, dir, "v_pos", "v > 0") // head: fine
    val e = intercept[IllegalArgumentException](
      SnapshotStore.publishBranch(spark, dir, "cand"))
    assert(e.getMessage.contains("v_pos") &&
      e.getMessage.contains("added after"),
      s"late-added constraint must gate the publish: ${e.getMessage}")
    assert(SnapshotStore.headVersion(spark, dir).contains(1),
      "the refused publish committed nothing")
    SnapshotStore.dropBranch(spark, dir, "cand")
    // conforming branch: the late-added constraint is satisfied and the
    // stats-pruned probe proves it without blocking the publish
    SnapshotStore.branchCreate(spark, dir, "ok")
    SnapshotStore.append(
      Seq((9L, "p0", 9.0)).toDF("k", "p", "v"), dir, "p",
      target = Dml.Branch("ok"))
    SnapshotStore.addConstraint(spark, dir, "k_pos", "k > 0")
    val v = SnapshotStore.publishBranch(spark, dir, "ok")
    assert(v == 2 && SnapshotStore.read(spark, dir).count() == 3)
  }

  test("a crashed addConstraint's staging tmp ages out under the " +
    "retention sweep's orphan floor") {
    val dir = newDir("tmp"); base(dir)
    val orphan = new java.io.File(dir,
      "._constraint-ghost.deadbeef.tmp")
    java.nio.file.Files.write(orphan.toPath, "v > 0".getBytes("UTF-8"))
    orphan.setLastModified(System.currentTimeMillis() - 3600000L)
    SnapshotStore.expire(spark, dir, keep = 10, minAgeMs = 60000L)
    assert(!orphan.exists(),
      "orphaned constraint staging file must be swept")
    assert(SnapshotStore.constraints(spark, dir).isEmpty,
      "the tmp was never a published constraint")
  }

  test("rename/drop of a referenced column are refused until the " +
    "constraint drops; unreferenced columns alter freely") {
    val dir = newDir("ref"); base(dir)
    SnapshotStore.addConstraint(spark, dir, "v_pos", "v > 0")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.renameColumn(spark, dir, "v", "score"))
    assert(e.getMessage.contains("v_pos"))
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.dropColumn(spark, dir, "v"))
    assert(e2.getMessage.contains("v_pos"))
    SnapshotStore.renameColumn(spark, dir, "k", "key") // unreferenced: fine
    SnapshotStore.dropConstraint(spark, dir, "v_pos")
    SnapshotStore.renameColumn(spark, dir, "v", "score")
    // constraints resolve against CURRENT logical names after a rename
    SnapshotStore.addConstraint(spark, dir, "s_pos", "score > 0")
    val e3 = intercept[IllegalArgumentException](
      SnapshotStore.append(Seq((9L, "p0", -1.0))
        .toDF("key", "p", "score"), dir, "p"))
    assert(e3.getMessage.contains("s_pos"))
  }

  test("SQL verbs: graft_add_constraint / graft_drop_constraint and the " +
    "'constraints' catalog selector") {
    plans.AsOf.register(spark)
    val dir = newDir("sql"); base(dir)
    val r = spark.sql(
      s"SELECT * FROM graft_add_constraint('$dir', 'v_pos', 'v > 0')")
      .collect()(0)
    assert(r.getString(0) == "add_constraint" && r.getLong(2) == 1L)
    val cat = spark.sql(
      s"SELECT * FROM graft_snapshot('$dir', 'constraints')").collect()
    assert(cat.length == 1 && cat(0).getString(0) == "v_pos" &&
      cat(0).getString(1) == "v > 0")
    Seq((9L, "p0", -1.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("bad_batch")
    val e = intercept[IllegalArgumentException](spark.sql(
      s"SELECT * FROM graft_append('$dir', 'bad_batch', 'p')"))
    assert(e.getMessage.contains("v_pos"))
    val d = spark.sql(
      s"SELECT * FROM graft_drop_constraint('$dir', 'v_pos')").collect()(0)
    assert(d.getLong(2) == 1L)
    spark.sql(s"SELECT * FROM graft_append('$dir', 'bad_batch', 'p')")
    assert(SnapshotStore.read(spark, dir).count() == 3)
  }
}
