package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.GraftSnapshotSource
import graft.storage.{Dml, SnapshotStore}

/** The `graft-snapshot` BATCH read relation
  * ([[graft.sources.GraftSnapshotSource]]): plain
  * `spark.read.format("graft-snapshot")` users get the store's manifest
  * pruning through Spark's own filter pushdown. Pins: the pushed-filter
  * plan (PushedFilters visible on the scan node), gen pruning through a
  * plain `.filter` (the inner scan's inputFiles ⊆ surviving gens),
  * row/schema parity with the library readers across version/tag/branch/
  * asOfTimestamp refs, the pruning-only contract under an untranslatable
  * predicate, and loud option validation.
  */
class GraftSourceSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_src_$tag").toString + "/st"

  private def gens(files: Array[String]): Set[String] =
    files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet

  private def ranged(dir: String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("k"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    SnapshotStore.append(chunk(200L, 10), dir, "p")
  }

  test("a plain .filter prunes gens through the pushed filters: the " +
    "inner scan opens only surviving gens, results match the library " +
    "reader, and the scan node SHOWS the pushed filters") {
    val dir = newDir("prune"); ranged(dir)
    val df = spark.read.format("graft-snapshot").load(dir)
      .filter(col("k") >= 100L && col("k") < 110L)
    val rows = df.select("k").as[Long].collect().sorted.toSeq
    assert(rows == (100L until 110L),
      "format-read results must match the predicate")
    val inner = GraftSnapshotSource.lastScan.get
    assert(gens(inner.inputFiles).size == 1,
      s"the pushed filters must prune to ONE gen, " +
        s"opened ${gens(inner.inputFiles)}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(k,100)"),
      s"the scan node must show the pushed filters:\n$plan")
    // count-star shape (zero required columns)
    assert(spark.read.format("graft-snapshot").load(dir).count() == 30)
    // column pruning reaches the inner scan
    val narrow = spark.read.format("graft-snapshot").load(dir)
      .filter(col("k") === 5L).select("v")
    assert(narrow.as[Double].collect().toSeq == Seq(5.0))
  }

  test("pruning-only contract: an untranslatable predicate (and the " +
    "untranslatable half of a conjunction) stays Spark-side and results " +
    "are exact; IN / IS NULL / startsWith / OR all translate") {
    val dir = newDir("resid"); ranged(dir)
    val f = spark.read.format("graft-snapshot").load(dir)
    // length(p) is not a sources.Filter shape the store prunes on
    assert(f.filter(length(col("p")) === 2 && col("k") >= 200L).count()
      == 10)
    assert(f.filter(col("k").isin(5L, 105L, 205L)).count() == 3)
    assert(f.filter(col("p").startsWith("p1") && col("k") < 10L).count()
      == 5)
    assert(f.filter(col("v").isNull).count() == 0)
    assert(f.filter(col("k") === 5L || col("k") === 205L).count() == 2)
    // parity sweep with the library reader
    Seq(col("k") > 150L, col("p") === "p0", lit(true)).foreach { p =>
      assert(f.filter(p).select("k").as[Long].collect().sorted.toSeq ==
        SnapshotStore.read(spark, dir).filter(p).select("k").as[Long]
          .collect().sorted.toSeq, s"parity diverged under $p")
    }
  }

  test("refs: version / tag / asOfTimestamp / branch options resolve " +
    "like the library readers; conflicting refs and bad values are loud") {
    val dir = newDir("refs"); ranged(dir)
    SnapshotStore.tag(spark, dir, "v1", Some(1))
    SnapshotStore.branchCreate(spark, dir, "cand")
    SnapshotStore.append(
      Seq((900L, "p0", 9.0)).toDF("k", "p", "v"), dir, "p",
      target = Dml.Branch("cand"))
    def fmt = spark.read.format("graft-snapshot")
    assert(fmt.option("version", "1").load(dir).count() == 10)
    assert(fmt.option("tag", "v1").load(dir).count() == 10)
    assert(fmt.option("branch", "cand").load(dir).count() == 31)
    val ts = SnapshotStore.committedAtOf(spark, dir, 2).get
    assert(fmt.option("asOfTimestamp", ts.toString).load(dir).count() == 20)
    val e = intercept[IllegalArgumentException](
      fmt.option("version", "1").option("tag", "v1").load(dir))
    assert(e.getMessage.contains("at most one"))
    val e2 = intercept[IllegalArgumentException](
      fmt.option("asOfTimestamp", "not-a-time").load(dir))
    assert(e2.getMessage.contains("ISO-8601"))
    val e3 = intercept[IllegalArgumentException](fmt.load())
    assert(e3.getMessage.contains("path"))
  }

  test("batch WRITE through the format: create with declarations, " +
    "append through the constraint gate, overwrite refuses to drop " +
    "versioned history") {
    val dir = newDir("write")
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    chunk(0L, 10).write.format("graft-snapshot")
      .option("partCol", "p").option("statsCols", "k,v")
      .option("sortCols", "k").save(dir)
    assert(SnapshotStore.headVersion(spark, dir).contains(1))
    assert(SnapshotStore.statsColsOf(spark, dir) == Seq("k", "v"),
      "create must publish the declarations")
    // append inherits the recorded partCol and the skipping discipline
    chunk(100L, 10).write.format("graft-snapshot").mode("append").save(dir)
    assert(SnapshotStore.read(spark, dir).count() == 20)
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("k") >= 100L).inputFiles).size == 1,
      "the appended gen must carry blobs like any append")
    // the CHECK gate runs on format appends too
    SnapshotStore.addConstraint(spark, dir, "v_pos", "v >= 0")
    val e = intercept[Exception](
      Seq((999L, "p0", -1.0)).toDF("k", "p", "v")
        .write.format("graft-snapshot").mode("append").save(dir))
    assert(e.getMessage.contains("v_pos"))
    // overwrite NEVER drops a store: loud, history intact
    val e2 = intercept[Exception](
      chunk(0L, 5).write.format("graft-snapshot").mode("overwrite")
        .option("partCol", "p").save(dir))
    assert(e2.getMessage.contains("versioned history"))
    assert(SnapshotStore.read(spark, dir).count() == 20)
    // idempotency-keyed append through the format no-ops on redelivery
    chunk(500L, 4).write.format("graft-snapshot").mode("append")
      .option("idempotencyKey", "batch-7").save(dir)
    chunk(500L, 4).write.format("graft-snapshot").mode("append")
      .option("idempotencyKey", "batch-7").save(dir)
    assert(SnapshotStore.read(spark, dir)
      .filter(col("k") >= 500L).count() == 4,
      "redelivered keyed append must not duplicate")
  }

  test("one Filter translator for the relation and the catalog scan: " +
    "every shape the relation pushes converts, and a NOT over a " +
    "half-convertible AND converts to nothing") {
    import org.apache.spark.sql.sources
    import graft.catalog.V1FilterConv
    def conv(f: sources.Filter): Option[String] =
      V1FilterConv.toColumn(f).map(_.toString)
    Seq[(sources.Filter, org.apache.spark.sql.Column)](
      sources.EqualTo("k", 5L) -> (col("k") === 5L),
      sources.EqualNullSafe("k", 5L) -> (col("k") <=> 5L),
      sources.GreaterThan("k", 5L) -> (col("k") > 5L),
      sources.GreaterThanOrEqual("k", 5L) -> (col("k") >= 5L),
      sources.LessThan("k", 5L) -> (col("k") < 5L),
      sources.LessThanOrEqual("k", 5L) -> (col("k") <= 5L),
      sources.In("k", Array(5L, 105L)) -> col("k").isin(5L, 105L),
      sources.IsNull("v") -> col("v").isNull,
      sources.IsNotNull("v") -> col("v").isNotNull,
      sources.StringStartsWith("p", "p1") -> col("p").startsWith("p1"),
      sources.Or(sources.EqualTo("k", 5L), sources.EqualTo("k", 205L)) ->
        (col("k") === 5L || col("k") === 205L)
    ).foreach { case (f, want) =>
      assert(conv(f).contains(want.toString), s"$f converted to ${conv(f)}")
    }
    // NOT(k >= 100 AND false) keeps every row; converted as NOT(k >= 100)
    // it would prune the gens holding k >= 100
    val half = sources.And(sources.GreaterThanOrEqual("k", 100L),
      sources.AlwaysFalse())
    assert(conv(half).isEmpty)
    assert(conv(sources.Not(half)).isEmpty)
    // end to end: a negated conjunction stays exact through the format
    val dir = newDir("not"); ranged(dir)
    val f = spark.read.format("graft-snapshot").load(dir)
    assert(f.filter(!(col("k") >= 100L && col("p").endsWith("1")))
      .count() == 20)
  }
}
