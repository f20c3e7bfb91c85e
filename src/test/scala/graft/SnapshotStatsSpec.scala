package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.SnapshotStore

/** Gen-level column statistics + manifest data skipping
  * ([[SnapshotStore.readWhere]]): bounds recorded per (partition, gen) in
  * the manifest entry text, predicates evaluated against them BEFORE any
  * file is listed. Pins pruning exactness (inputFiles ⊆ surviving gens),
  * conservative fallbacks (nulls, unsupported shapes, stats-less dirs),
  * and composition with copy-forward, compaction, rename, the segmented
  * tier, and the changes feed.
  */
class SnapshotStatsSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(s"graft_stats_$tag").toString + "/st"

  private def gens(files: Array[String]): Set[String] =
    files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet

  /** 3 gens with disjoint ts/v ranges in one partition + one second
    * partition slice per gen.
    */
  private def rangedStore(dir: String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    SnapshotStore.append(chunk(200L, 10), dir, "p")
  }

  test("readWhere prunes gens by range and equals the unpruned filter") {
    val dir = newDir("range"); rangedStore(dir)
    val pred = col("k") >= 100L && col("k") < 110L
    val pruned = SnapshotStore.readWhere(spark, dir, pred)
    val full = SnapshotStore.read(spark, dir).filter(pred)
    assert(pruned.select("k", "p", "v").collect().toSet ==
      full.select("k", "p", "v").collect().toSet)
    assert(gens(pruned.inputFiles).size == 1 &&
      gens(SnapshotStore.read(spark, dir).inputFiles).size == 3,
      "mid-range predicate must open exactly the middle gen")
  }

  test("comparison shapes: equality, literal-on-left, Or, double column; " +
    "unsupported shapes fall back to reading everything — still correct") {
    val dir = newDir("shapes"); rangedStore(dir)
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("k") === 205L).inputFiles).size == 1)
    assert(gens(SnapshotStore.readWhere(spark, dir,
      lit(5L) >= col("k")).inputFiles).size == 1, "literal-on-left flips")
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("k") < 10L || col("v") >= 200.0).inputFiles).size == 2,
      "Or prunes only dirs BOTH arms rule out")
    val hard = SnapshotStore.readWhere(spark, dir, col("k") % 7 === 1L)
    assert(gens(hard.inputFiles).size == 3, "arithmetic shape: no pruning")
    assert(hard.count() ==
      SnapshotStore.read(spark, dir).filter(col("k") % 7 === 1L).count())
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("k") >= 0L && col("k") < 5L && col("p") === "p0")
      .inputFiles).size == 1,
      "a conjunct on a stats-less column stays MightMatch, the ranged " +
        "conjunct still prunes")
  }

  test("NULL-count stats (r15): IS NULL prunes null-free gens, " +
    "IS NOT NULL prunes all-NULL gens, comparisons prune all-NULL gens " +
    "outright, and <=> NULL rides the same counts") {
    val dir = newDir("nulls")
    SnapshotStore.write(
      Seq((1L, "p0", Some(1.0)), (2L, "p0", Some(2.0)))
        .toDF("k", "p", "v"), dir, "p", statsCols = Seq("v"))
    SnapshotStore.append(
      Seq((10L, "p0", Option.empty[Double])).toDF("k", "p", "v"), dir, "p")
    val got = SnapshotStore.readWhere(spark, dir, col("v").isNull)
    assert(got.select("k").as[Long].collect().toSeq == Seq(10L))
    assert(gens(got.inputFiles).size == 1,
      "the null-free gen records nulls=0 and is pruned under IS NULL")
    val notNull = SnapshotStore.readWhere(spark, dir, col("v").isNotNull)
    assert(notNull.select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(gens(notNull.inputFiles).size == 1,
      "the all-NULL gen records nulls=rows and is pruned under IS NOT NULL")
    // a comparison cannot hold on an all-NULL slice: its gen prunes even
    // though it records no v-bound (NULL comparisons are filtered)
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("v") >= 100.0).inputFiles).isEmpty,
      "range above both gens: bounded gen pruned by bounds, all-NULL " +
        "gen pruned by counts")
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("v") >= 1.5).inputFiles).size == 1,
      "in-range predicate keeps the bounded gen only")
    // null-safe equality: <=> NULL holds only for NULL rows
    val nsafe = SnapshotStore.readWhere(spark, dir, col("v") <=> lit(null))
    assert(nsafe.select("k").as[Long].collect().toSeq == Seq(10L) &&
      gens(nsafe.inputFiles).size == 1,
      "<=> NULL prunes the null-free gen")
    // negated forms resolve to the same counts
    assert(gens(SnapshotStore.readWhere(spark, dir,
      !col("v").isNull).inputFiles).size == 1)
    // a query mixing both: parity with the unpruned filter
    val mixed = col("v").isNull || col("v") < 1.5
    assert(SnapshotStore.readWhere(spark, dir, mixed)
      .select("k").as[Long].collect().sorted.toSeq ==
      SnapshotStore.read(spark, dir).filter(mixed)
        .select("k").as[Long].collect().sorted.toSeq)
  }

  test("partition-KEY pruning (r15): an equality/IN conjunct on the " +
    "partition column restricts the resolution to those manifest keys — " +
    "no stats needed — and composes with stats pruning; unprovable " +
    "shapes stay unrestricted but correct") {
    // deliberately NO statsCols: the restriction rides the manifest KEY
    val dir = newDir("pkey")
    def chunk(lo: Long) = (0 until 12)
      .map(i => (lo + i, s"p${i % 4}", (lo + i) * 1.0)).toDF("k", "p", "v")
    SnapshotStore.write(chunk(0L), dir, "p")
    SnapshotStore.append(chunk(100L), dir, "p")
    def parts(files: Array[String]) =
      files.flatMap(_.split("/_p=").lift(1)).map(_.split("/").head).toSet
    val eq = SnapshotStore.readWhere(spark, dir, col("p") === "p1")
    assert(parts(eq.inputFiles) == Set("p1"),
      s"equality must open only p1's dirs, got ${parts(eq.inputFiles)}")
    assert(eq.count() ==
      SnapshotStore.read(spark, dir).filter(col("p") === "p1").count())
    val in = SnapshotStore.readWhere(spark, dir,
      col("p").isin("p0", "p2") && col("k") >= 100L)
    assert(parts(in.inputFiles) == Set("p0", "p2"))
    assert(in.count() == 6, "IN restriction + the residual filter")
    // literal-on-left and <=> forms restrict too
    assert(parts(SnapshotStore.readWhere(spark, dir,
      lit("p3") === col("p")).inputFiles) == Set("p3"))
    assert(parts(SnapshotStore.readWhere(spark, dir,
      col("p") <=> "p3").inputFiles) == Set("p3"))
    // contradictory conjuncts: empty restriction, empty frame, no scan
    val none = SnapshotStore.readWhere(spark, dir,
      col("p") === "p0" && col("p") === "p1")
    assert(none.count() == 0 && none.inputFiles.isEmpty)
    // an OR at the top is NOT a restriction — everything read, correct
    val or = SnapshotStore.readWhere(spark, dir,
      col("p") === "p0" || col("k") === 101L)
    assert(parts(or.inputFiles).size == 4)
    assert(or.count() ==
      SnapshotStore.read(spark, dir)
        .filter(col("p") === "p0" || col("k") === 101L).count())
    // a NULL element in the IN-list is ignorable; a missing value is
    // simply an empty slice, not an error
    assert(SnapshotStore.readWhere(spark, dir,
      col("p").isin("p1", null)).count() ==
      SnapshotStore.read(spark, dir).filter(col("p") === "p1").count())
    assert(SnapshotStore.readWhere(spark, dir,
      col("p") === "nope").count() == 0)
    // countWhere rides the same restriction (no stats: residual scans
    // only the restricted dirs)
    assert(SnapshotStore.countWhereDetailed(spark, dir,
      col("p") === "p1") == ((6L, 2)),
      "count must scan only p1's two gen dirs")
    // type-coerced shapes must fall back UNRESTRICTED, never misprune:
    // non-string literals against the string partition column make the
    // analyzer cast the COLUMN side, which the extractor does not match
    val coerced = SnapshotStore.readWhere(spark, dir, col("p").isin(1, 2))
    assert(coerced.count() ==
      SnapshotStore.read(spark, dir).filter(col("p").isin(1, 2)).count(),
      "coerced IN must stay correct (unrestricted fallback)")
    assert(SnapshotStore.readWhere(spark, dir, col("p") === lit(7)).count()
      == 0)
    // composes with rename of the partition column
    SnapshotStore.renameColumn(spark, dir, "p", "part")
    val ren = SnapshotStore.readWhere(spark, dir, col("part") === "p2")
    assert(parts(ren.inputFiles) == Set("p2") && ren.count() == 6)
  }

  test("metadata-only COUNT (countWhere): ALL-MATCH gens contribute " +
    "recorded rows with no file listed, NO-MATCH gens zero, ambiguous " +
    "gens scanned — full and gen-aligned counts are pure metadata, " +
    "every shape agrees with the scan") {
    val dir = newDir("count"); rangedStore(dir) // 3 gens x 2 partitions
    val (full, fullScan) = SnapshotStore.countWhereDetailed(
      spark, dir, lit(true))
    assert((full, fullScan) == ((30L, 0)),
      "count(*) over a fully-blobbed store must touch no data")
    val (g2, g2Scan) = SnapshotStore.countWhereDetailed(
      spark, dir, col("k") >= 100L && col("k") < 110L)
    assert((g2, g2Scan) == ((10L, 0)),
      "a gen-aligned range count must be pure metadata")
    val (amb, ambScan) = SnapshotStore.countWhereDetailed(
      spark, dir, col("k") >= 105L)
    assert(amb == 15L && ambScan == 2,
      s"only gen 2's two dirs are ambiguous (got $amb from $ambScan scans)")
    // parity sweep: the stats are an optimization, never the semantics
    Seq(col("k") % 7 === 1L, col("v") > 150.0, col("k").isNotNull,
      col("k") < 0L, lit(false)).foreach { p =>
      assert(SnapshotStore.countWhere(spark, dir, p) ==
        SnapshotStore.read(spark, dir).filter(p).count(),
        s"countWhere diverged from the scan under $p")
    }
    // composes with rename: the logical name resolves through the layer
    SnapshotStore.renameColumn(spark, dir, "k", "key")
    assert(SnapshotStore.countWhere(spark, dir,
      col("key") >= 100L && col("key") < 110L) == 10L)
    // NULL predicates count from the same blobs: null-free + all-NULL
    val d2 = newDir("countnull")
    SnapshotStore.write(
      Seq((1L, "p0", Some(1.0)), (2L, "p0", Some(2.0)))
        .toDF("k", "p", "v"), d2, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(
      Seq((10L, "p0", Option.empty[Double])).toDF("k", "p", "v"), d2, "p")
    assert(SnapshotStore.countWhereDetailed(spark, d2,
      col("v").isNotNull) == ((2L, 0)))
    assert(SnapshotStore.countWhereDetailed(spark, d2,
      col("v").isNull) == ((1L, 0)))
    // IN on a single-valued slice is ALL-MATCH provable (lo == hi == 10)
    assert(SnapshotStore.countWhereDetailed(spark, d2,
      col("k").isin(10L, 99L)) == ((1L, 0)))
    // the SQL rung: scanned_dirs makes metadata-only-ness observable
    plans.AsOf.register(spark)
    val row = spark.sql(
      s"SELECT * FROM graft_count('$d2', 'v IS NULL')").collect()(0)
    assert(row.getLong(1) == 1L && row.getLong(2) == 0L,
      "graft_count must report the count and zero scanned dirs")
    assert(spark.sql(s"SELECT * FROM graft_count('$d2')")
      .collect()(0).getLong(1) == 3L)
  }

  test("metadata-only MIN/MAX (minMaxWhere): exact-domain bounds of " +
    "ALL-MATCH gens serve without a scan; ambiguous gens and string " +
    "columns scan; all-NULL slices contribute typed NULLs; every shape " +
    "agrees with the scan aggregate") {
    val dir = newDir("minmax"); rangedStore(dir) // k 0..209, v = k * 1.0
    val (full, fullScan) = SnapshotStore.minMaxWhereDetailed(
      spark, dir, Seq("k", "v"), lit(true))
    val fr = full.collect()(0)
    assert(fullScan == 0 &&
      fr.getLong(0) == 0L && fr.getLong(1) == 209L &&
      fr.getDouble(2) == 0.0 && fr.getDouble(3) == 209.0,
      s"whole-store min/max must be pure metadata, got $fr/$fullScan")
    val (mid, midScan) = SnapshotStore.minMaxWhereDetailed(
      spark, dir, Seq("k"), col("k") >= 100L && col("k") < 110L)
    val mr = mid.collect()(0)
    assert(midScan == 0 && mr.getLong(0) == 100L && mr.getLong(1) == 109L)
    val (amb, ambScan) = SnapshotStore.minMaxWhereDetailed(
      spark, dir, Seq("k"), col("k") >= 105L)
    val ar = amb.collect()(0)
    assert(ambScan == 2 && ar.getLong(0) == 105L && ar.getLong(1) == 209L,
      "the boundary gen scans, the provable gens stay metadata")
    // a string column with NO declared stats goes to the scan (and with
    // stats, only v3-exact bounds serve — see the grammar-v3 test)
    val (ps, pScan) = SnapshotStore.minMaxWhereDetailed(
      spark, dir, Seq("p"), lit(true))
    val pr = ps.collect()(0)
    assert(pScan > 0 && pr.getString(0) == "p0" && pr.getString(1) == "p1")
    // all-NULL slice: contributes typed NULLs (min/max ignore them)
    val d2 = newDir("mmnull")
    SnapshotStore.write(
      Seq((1L, "p0", Some(1.0)), (2L, "p0", Some(2.0)))
        .toDF("k", "p", "v"), d2, "p", statsCols = Seq("k", "v"))
    SnapshotStore.append(
      Seq((10L, "p0", Option.empty[Double])).toDF("k", "p", "v"), d2, "p")
    val (nm, nmScan) = SnapshotStore.minMaxWhereDetailed(
      spark, d2, Seq("v", "k"), lit(true))
    val nr = nm.collect()(0)
    assert(nmScan == 0 && nr.getDouble(0) == 1.0 && nr.getDouble(1) == 2.0 &&
      nr.getLong(2) == 1L && nr.getLong(3) == 10L)
    // DATE and TIMESTAMP bounds render back exactly (epoch-days / micros)
    val d3 = newDir("mmdate")
    val rows = Seq(
      (1L, "p0", java.sql.Date.valueOf("2024-01-05"),
        java.sql.Timestamp.valueOf("2024-01-05 01:02:03.004005")),
      (2L, "p0", java.sql.Date.valueOf("2024-03-09"),
        java.sql.Timestamp.valueOf("2024-03-09 23:59:59.999999")))
      .toDF("k", "p", "dt", "ts")
    SnapshotStore.write(rows, d3, "p", statsCols = Seq("dt", "ts"))
    val (dm, dmScan) = SnapshotStore.minMaxWhereDetailed(
      spark, d3, Seq("dt", "ts"), lit(true))
    val dr = dm.collect()(0)
    assert(dmScan == 0 &&
      dr.getDate(0) == java.sql.Date.valueOf("2024-01-05") &&
      dr.getDate(1) == java.sql.Date.valueOf("2024-03-09") &&
      dr.getTimestamp(2) ==
        java.sql.Timestamp.valueOf("2024-01-05 01:02:03.004005") &&
      dr.getTimestamp(3) ==
        java.sql.Timestamp.valueOf("2024-03-09 23:59:59.999999"),
      s"date/timestamp bounds must render back exactly, got $dr")
    // parity sweep against the scan aggregate
    Seq(lit(true), col("k") >= 105L, col("v") < 5.0).foreach { p =>
      val got = SnapshotStore.minMaxWhere(spark, dir, Seq("k", "v"), p)
        .collect()(0)
      val want = SnapshotStore.read(spark, dir).filter(p)
        .agg(min(col("k")), max(col("k")), min(col("v")), max(col("v")))
        .collect()(0)
      assert(got == want, s"minMaxWhere diverged under $p: $got vs $want")
    }
    // the SQL rung, metadata-only-ness observable
    plans.AsOf.register(spark)
    val sql = spark.sql(s"SELECT * FROM graft_minmax('$d2', 'k,v')")
      .collect()(0)
    assert(sql.getLong(0) == 1L && sql.getLong(1) == 10L &&
      sql.getDouble(2) == 1.0 && sql.getDouble(3) == 2.0 &&
      sql.getLong(4) == 0L)
  }

  test("EXACT string bounds (grammar v3): untruncated bounds serve " +
    "min/max from metadata, truncated bounds stay scan-only, mixed " +
    "gens split per-gen, and pruning semantics are unchanged") {
    val dir = newDir("strmm")
    val longUrl = (i: Int) => s"https://example.com/path/segment/$i"
    SnapshotStore.write(
      Seq((1L, "p0", "GET", longUrl(1)), (2L, "p0", "POST", longUrl(2)))
        .toDF("k", "p", "verb", "url"),
      dir, "p", statsCols = Seq("verb", "url"))
    SnapshotStore.append(
      Seq((3L, "p0", "DELETE", longUrl(3)), (4L, "p0", "HEAD", longUrl(4)))
        .toDF("k", "p", "verb", "url"), dir, "p")
    // short strings (≤16 code points): both gens' bounds are EXACT —
    // min/max answered with ZERO files opened
    val (vr, vScan) = SnapshotStore.minMaxWhereDetailed(
      spark, dir, Seq("verb"), lit(true))
    val v = vr.collect()(0)
    assert(vScan == 0 && v.getString(0) == "DELETE" &&
      v.getString(1) == "POST",
      s"exact string bounds must serve from metadata, got $v/$vScan")
    // long strings truncate → containing bounds → the scan answers
    val (ur, uScan) = SnapshotStore.minMaxWhereDetailed(
      spark, dir, Seq("url"), lit(true))
    val u = ur.collect()(0)
    assert(uScan == 2 && u.getString(0) == longUrl(1) &&
      u.getString(1) == longUrl(4),
      s"truncated bounds must scan, got $u/$uScan")
    // a request mixing served and unserved columns sends the gen to the
    // scan once and still agrees with the scan aggregate
    val both = SnapshotStore.minMaxWhere(
      spark, dir, Seq("verb", "url"), lit(true)).collect()(0)
    assert(both.getString(0) == "DELETE" && both.getString(1) == "POST" &&
      both.getString(2) == longUrl(1) && both.getString(3) == longUrl(4))
    // MIXED exactness across gens: a gen whose max truncates scans, the
    // exact gen stays metadata — and the combined answer is right even
    // though the truncated gen's real max sorts ABOVE the exact gen's
    val dir2 = newDir("strmix")
    SnapshotStore.write(
      Seq((1L, "p0", "alpha"), (2L, "p0", "mike")).toDF("k", "p", "s"),
      dir2, "p", statsCols = Seq("s"))
    SnapshotStore.append(
      Seq((3L, "p0", "zulu-" + ("z" * 20))).toDF("k", "p", "s"), dir2, "p")
    val (mr2, mScan2) = SnapshotStore.minMaxWhereDetailed(
      spark, dir2, Seq("s"), lit(true))
    val m2 = mr2.collect()(0)
    assert(mScan2 == 1 && m2.getString(0) == "alpha" &&
      m2.getString(1) == "zulu-" + ("z" * 20),
      s"mixed exactness must split per-gen, got $m2/$mScan2")
    // predicate + string metadata compose (parity with the scan)
    Seq(lit(true), col("k") >= 2L).foreach { p =>
      val got = SnapshotStore.minMaxWhere(spark, dir, Seq("verb"), p)
        .collect()(0)
      val want = SnapshotStore.read(spark, dir).filter(p)
        .agg(min(col("verb")), max(col("verb"))).collect()(0)
      assert(got == want, s"string minMaxWhere diverged under $p")
    }
  }

  test("NULL counts compose with schema evolution: a declared stats " +
    "column ABSENT from a gen's files records an all-NULL field, so " +
    "IS NOT NULL skips pre-evolution gens entirely") {
    val dir = newDir("absent")
    SnapshotStore.write(
      Seq((1L, "p0"), (2L, "p0")).toDF("k", "p"), dir, "p",
      statsCols = Seq("k", "note"))
    SnapshotStore.append(
      Seq((10L, "p0", "x"), (11L, "p0", null)).toDF("k", "p", "note"),
      dir, "p")
    val tagged = SnapshotStore.readWhere(spark, dir, col("note").isNotNull)
    assert(tagged.select("k").as[Long].collect().toSeq == Seq(10L))
    assert(gens(tagged.inputFiles).size == 1,
      "the pre-evolution gen (note absent => all-NULL on read) is pruned")
    // IS NULL must still read BOTH (the evolved gen has one null too)
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("note").isNull).inputFiles).size == 2)
  }

  test("stats copy forward verbatim with untouched entries; a merge's " +
    "rewritten partition gets fresh bounds; compaction re-derives them") {
    val dir = newDir("fwd"); rangedStore(dir)
    SnapshotStore.merge(spark, dir,
      Seq((500L, "p0", 500.0)).toDF("k", "p", "v"), "p", Seq("k"))
    // p0 rewritten (one gen, k spans 0..500), p1 untouched (3 gens)
    val wide = SnapshotStore.readWhere(spark, dir, col("k") >= 490L)
    assert(wide.select("k").as[Long].collect().toSeq == Seq(500L))
    assert(gens(wide.inputFiles).size == 1,
      "p1's three carried-forward gens must still prune by their old stats")
    val n = SnapshotStore.compactPartitions(spark, dir, "p")
    assert(n == 1, "only p1 still has multiple dirs")
    assert(gens(SnapshotStore.readWhere(spark, dir,
      col("k") >= 490L).inputFiles).size == 1,
      "post-compaction reads still prune: p1's compacted gen spans " +
        "0..209 and is ruled out, p0's merged gen survives")
  }

  test("composes with rename (predicate under the logical name) and with " +
    "the segmented manifest tier") {
    val dir = newDir("ren"); rangedStore(dir)
    SnapshotStore.renameColumn(spark, dir, "k", "key")
    val got = SnapshotStore.readWhere(spark, dir,
      col("key") >= 100L && col("key") < 110L)
    assert(got.count() == 10 && gens(got.inputFiles).size == 1,
      "stats live under the stable physical name; the logical predicate " +
        "must map through the rename")
    val Thresh = "graft.snapshot.segmentThreshold"
    val prior = sys.props.get(Thresh)
    sys.props(Thresh) = "2"
    try {
      val dir2 = newDir("seg"); rangedStore(dir2)
      assert(SnapshotStore.readHead(spark, dir2, 3)
        .isInstanceOf[SnapshotStore.SegHead], "fixture must be segmented")
      val g = SnapshotStore.readWhere(spark, dir2,
        col("k") >= 200L)
      assert(g.count() == 10 && gens(g.inputFiles).size == 1)
    } finally prior match {
      case Some(v) => sys.props(Thresh) = v
      case None => sys.props -= Thresh
    }
  }

  test("changes feed and expire are stats-transparent; a stats-less store " +
    "reads everything (back-compat)") {
    val dir = newDir("cdc"); rangedStore(dir)
    val feed = SnapshotStore.changes(spark, dir, 1, 3, Seq("k"))
    assert(feed.filter(col("_change_type") === "insert").count() == 20,
      "the two appends' rows are the feed, stats suffix notwithstanding")
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    assert(SnapshotStore.read(spark, dir).count() == 30,
      "expire must not sweep gens whose manifest fields carry stats")
    val plain = newDir("plain")
    SnapshotStore.write(Seq((1L, "p0", 1.0)).toDF("k", "p", "v"), plain, "p")
    SnapshotStore.append(Seq((2L, "p0", 2.0)).toDF("k", "p", "v"), plain, "p")
    val got = SnapshotStore.readWhere(spark, plain, col("k") === 1L)
    assert(got.count() == 1 && gens(got.inputFiles).size == 2,
      "no declared stats: nothing prunes, everything still reads")
  }

  test("SORTED compaction (OPTIMIZE shape): content is pure layout, rows " +
    "within each partition file are ordered by the sort column, and the " +
    "rename-mapped SQL rung agrees") {
    plans.AsOf.register(spark)
    val dir = newDir("sorted")
    // interleaved appends: within each partition the tail's arrival order
    // is NOT k-order, so unsorted compaction would preserve the shuffle
    def chunk(ks: Seq[Long]) =
      ks.map(k => (k, s"p${k % 2}", k * 1.0)).toDF("k", "p", "v")
    SnapshotStore.write(chunk(Seq(50L, 51L)), dir, "p",
      statsCols = Seq("k"))
    SnapshotStore.append(chunk(Seq(10L, 11L)), dir, "p")
    SnapshotStore.append(chunk(Seq(90L, 91L, 30L, 31L)), dir, "p")
    val before = SnapshotStore.read(spark, dir)
      .select("k", "p", "v").collect().toSet
    val n = SnapshotStore.compactPartitions(spark, dir, "p",
      sortBy = Seq("k"))
    assert(n == 2)
    assert(SnapshotStore.read(spark, dir).select("k", "p", "v")
      .collect().toSet == before, "sorted compaction is pure layout")
    // per-file sortedness, read straight from the files (the property
    // parquet row-group pruning inherits at real file sizes)
    val byFile = SnapshotStore.read(spark, dir)
      .select(input_file_name().as("f"), col("k"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSeq }
    assert(byFile.nonEmpty && byFile.forall { case (_, ks) =>
      ks == ks.sorted },
      s"rows not sorted within files: $byFile")
    // rename composition: sortBy arrives in LOGICAL names — through SQL
    SnapshotStore.renameColumn(spark, dir, "k", "key")
    SnapshotStore.append(
      Seq((70L, "p0", 70.0), (20L, "p0", 20.0)).toDF("key", "p", "v"),
      dir, "p")
    val receipt = spark.sql(
      s"SELECT * FROM graft_compact('$dir', 'p', '2', 'key')").collect()
    assert(receipt(0).getString(0) == "compact" &&
      receipt(0).getLong(2) == 1L)
    val p0 = SnapshotStore.read(spark, dir)
      .filter(col("p") === "p0")
      .select(input_file_name().as("f"), col("key"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSeq }
    assert(p0.forall { case (_, ks) => ks == ks.sorted },
      s"post-rename sorted compaction not ordered: $p0")
  }

  test("DECLARED clustering (_sortcols, r16): write/append sort " +
    "automatically, multi-file slices carry DISJOINT per-file key " +
    "ranges, and declare-later + compaction re-clusters an unsorted " +
    "store") {
    def scramble(lo: Long, n: Int) = (0 until n)
      .map(i => (lo + (i * 37) % n, "p0", (lo + i) * 1.0))
      .toDF("k", "p", "v")
    def perFileRanges(dir: String): Seq[(Long, Long)] =
      SnapshotStore.read(spark, dir)
        .select(input_file_name().as("f"), col("k"))
        .collect().groupBy(_.getString(0)).toSeq
        .map { case (_, rows) =>
          val ks = rows.map(_.getLong(1))
          (ks.min, ks.max)
        }.sortBy(_._1)
    val dir = newDir("declared")
    SnapshotStore.write(scramble(0L, 50), dir, "p",
      statsCols = Seq("k"), sortCols = Seq("k"))
    // the APPEND sorts too — the declaration, not the call site, owns
    // the layout
    SnapshotStore.append(scramble(1000L, 50), dir, "p")
    val byFile = SnapshotStore.read(spark, dir)
      .select(input_file_name().as("f"), col("k"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSeq }
    assert(byFile.size >= 2 && byFile.forall { case (_, ks) =>
      ks == ks.sorted }, s"writer paths must sort by declaration: $byFile")
    // multi-file slice: with a file-size cap the sorted stream splits
    // into files with DISJOINT ranges — the property parquet row-group
    // skipping and the per-file DML verdict both stand on
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "20")
    try {
      val dir2 = newDir("multifile")
      SnapshotStore.write(scramble(0L, 100), dir2, "p",
        statsCols = Seq("k"), sortCols = Seq("k"))
      val ranges = perFileRanges(dir2)
      assert(ranges.size >= 5, s"expected >=5 files, got $ranges")
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(hi < lo2, s"per-file ranges must be disjoint: $ranges")
        case _ =>
      }
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    // declare-later: an unsorted store re-clusters through compaction
    // (writeGen's default sort IS the declaration)
    val dir3 = newDir("later")
    SnapshotStore.write(scramble(0L, 30), dir3, "p", statsCols = Seq("k"))
    SnapshotStore.append(scramble(500L, 30), dir3, "p")
    SnapshotStore.declareSortCols(spark, dir3, Seq("k"))
    assert(SnapshotStore.compactPartitions(spark, dir3, "p") == 1)
    val byFile3 = SnapshotStore.read(spark, dir3)
      .select(input_file_name().as("f"), col("k"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSeq }
    assert(byFile3.forall { case (_, ks) => ks == ks.sorted },
      s"compaction must re-cluster by the declaration: $byFile3")
    // loud on unknown columns
    val e = intercept[IllegalArgumentException](
      SnapshotStore.declareSortCols(spark, dir3, Seq("nope")))
    assert(e.getMessage.contains("nope"))
  }

  test("z-order declared clustering: per-file bounds stay tight on BOTH " +
    "dims — a second-dim probe touches a fraction of the files a " +
    "lexicographic sort leaves it") {
    // 64x64 grid, one partition; 16 files of 256 rows each. A
    // lexicographic sort by x makes each file an x-stripe spanning the
    // FULL y range: a y-box probe can prune nothing at file grain. The
    // Morton interleave keeps each file a ~square cell: the same probe
    // touches a fraction.
    def grid = (0 until 4096).map { i =>
      (i % 64L, i / 64L, "p0", i.toLong) }.toDF("x", "y", "p", "id")
    def filesTouchedByY(dir: String, loY: Long, hiY: Long): (Int, Int) = {
      val byFile = SnapshotStore.read(spark, dir)
        .select(input_file_name().as("f"), col("y"))
        .collect().groupBy(_.getString(0)).toSeq
        .map { case (_, rows) =>
          val ys = rows.map(_.getLong(1)); (ys.min, ys.max) }
      (byFile.count { case (lo, hi) => hi >= loY && lo <= hiY },
        byFile.size)
    }
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "256")
    try {
      val lex = newDir("zlex")
      SnapshotStore.write(grid, lex, "p", statsCols = Seq("x", "y"),
        sortCols = Seq("x"))
      // declare-later shape: the store exists, z-order is declared, and
      // the next APPEND lays its gen out by the declaration (the same
      // writer-owns-the-layout contract as lexicographic clustering)
      val zed2 = newDir("zdecl")
      SnapshotStore.write(grid.limit(1), zed2, "p",
        statsCols = Seq("x", "y"))
      SnapshotStore.declareSortCols(spark, zed2, Seq("x", "y"),
        zorder = true)
      SnapshotStore.deleteWhere(spark, zed2, lit(true)) // empty the seed
      SnapshotStore.append(grid, zed2, "p")
      val (lexTouched, lexTotal) = filesTouchedByY(lex, 0L, 7L)
      val (zTouched, zTotal) = filesTouchedByY(zed2, 0L, 7L)
      assert(lexTotal >= 8 && zTotal >= 8,
        s"file split must engage: $lexTotal/$zTotal")
      assert(lexTouched == lexTotal,
        "the lexicographic twin cannot prune a second-dim probe at " +
          s"file grain ($lexTouched of $lexTotal)")
      assert(zTouched * 2 <= zTotal,
        s"z-order must confine the y-box to a fraction of the files: " +
          s"$zTouched of $zTotal")
      // rows identical either way (layout, not semantics)
      assert(SnapshotStore.read(spark, zed2).count() == 4096)
      // refusals: wrong arity, non-numeric dim
      val e1 = intercept[IllegalArgumentException](
        SnapshotStore.declareSortCols(spark, zed2, Seq("x"),
          zorder = true))
      assert(e1.getMessage.contains("TWO"))
      val e2 = intercept[IllegalArgumentException](
        SnapshotStore.declareSortCols(spark, zed2, Seq("x", "p"),
          zorder = true))
      assert(e2.getMessage.contains("numeric"))
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("FLOAT bounds live in the widened-double domain: a fractional " +
    "double-literal boundary predicate must not prune rows the full " +
    "filter returns (0.1f prints \"0.1\" but widens ABOVE 0.1)") {
    val dir = newDir("float")
    SnapshotStore.write(
      Seq((1L, "p0", 0.1f), (2L, "p0", 0.05f)).toDF("k", "p", "f"),
      dir, "p", statsCols = Seq("f"))
    SnapshotStore.append(
      Seq((3L, "p0", 0.01f)).toDF("k", "p", "f"), dir, "p")
    val pred = col("f") > 0.1 // double literal below 0.1f's widened value
    val pruned = SnapshotStore.readWhere(spark, dir, pred)
    val full = SnapshotStore.read(spark, dir).filter(pred)
    assert(pruned.select("k").as[Long].collect().toSet ==
      full.select("k").as[Long].collect().toSet)
    assert(pruned.select("k").as[Long].collect().toSeq == Seq(1L),
      "the 0.1f row satisfies f > 0.1 under double widening")
    assert(gens(pruned.inputFiles).size == 1,
      "the gen whose widened max (0.0099999…) is below 0.1 still prunes")
  }

  test("partition values the escaping layers touch (':' and a literal " +
    "'%3A') keep their stats attached and keyed to the RIGHT partition") {
    val dir = newDir("colon")
    // "a%3Ab" unescapes to "a:b" — under a double-decode bug the two
    // partitions' bounds would cross-attach
    SnapshotStore.write(
      Seq((0L, "a:b", 0.0), (1000L, "a%3Ab", 0.0)).toDF("k", "p", "v"),
      dir, "p", statsCols = Seq("k"))
    SnapshotStore.append(
      Seq((100L, "a:b", 0.0), (1100L, "a%3Ab", 0.0)).toDF("k", "p", "v"),
      dir, "p")
    val g1 = SnapshotStore.readWhere(spark, dir, col("k") === 0L)
    assert(g1.select("p").as[String].collect().toSeq == Seq("a:b"))
    assert(gens(g1.inputFiles).size == 1,
      "the ':'-escaped dir's bounds must attach and prune gen 2")
    val g2 = SnapshotStore.readWhere(spark, dir, col("k") === 1100L)
    assert(g2.select("p").as[String].collect().toSeq == Seq("a%3Ab"))
    assert(gens(g2.inputFiles).size == 1,
      "the literal-'%3A' dir's bounds must attach and prune gen 1")
    assert(SnapshotStore.read(spark, dir).select("p").distinct()
      .as[String].collect().toSet == Set("a:b", "a%3Ab"),
      "values round-trip exactly once through the escape")
  }

  test("everything-pruned readWhere returns the empty frame WITHOUT " +
    "planning a scan over the store's gen dirs") {
    val dir = newDir("allpruned"); rangedStore(dir)
    val got = SnapshotStore.readWhere(spark, dir, col("k") >= 10000L)
    assert(got.count() == 0)
    assert(got.inputFiles.isEmpty,
      "best-case pruning must not pay a full file listing via limit(0)")
    assert(got.columns.toSeq ==
      SnapshotStore.read(spark, dir).columns.toSeq)
  }

  test("IN-list predicates prune: NoMatch only when every non-null " +
    "element lies outside the bounds; numeric and string domains") {
    val dir = newDir("inlist"); rangedStore(dir)
    def check(pred: org.apache.spark.sql.Column, nGens: Int): Unit = {
      val pruned = SnapshotStore.readWhere(spark, dir, pred)
      val full = SnapshotStore.read(spark, dir).filter(pred)
      assert(pruned.select("k").as[Long].collect().toSet ==
        full.select("k").as[Long].collect().toSet, s"content for $pred")
      assert(gens(pruned.inputFiles).size == nGens, s"gens for $pred")
    }
    check(col("k").isin(105L, 107L), 1)
    check(col("k").isin(5L, 205L), 2) // spans gens 1 and 3, gen 2 prunes
    check(col("k").isin(5000L, 6000L), 0) // everything pruned
    check(col("k").isin(5L, lit(null)), 1,
    ) // the NULL element is ignorable
    val dirS = newDir("instr")
    SnapshotStore.write(
      Seq(("aa1", "p0", 1L), ("aa2", "p0", 2L)).toDF("sk", "p", "k"),
      dirS, "p", statsCols = Seq("sk"))
    SnapshotStore.append(
      Seq(("zz1", "p0", 3L)).toDF("sk", "p", "k"), dirS, "p")
    val g = SnapshotStore.readWhere(spark, dirS,
      col("sk").isin("zz1", "zz9"))
    assert(g.select("k").as[Long].collect().toSeq == Seq(3L))
    assert(gens(g.inputFiles).size == 1, "string IN prunes the aa gen")
  }

  test("TIMESTAMP_NTZ stats bounds record and prune (the type a " +
    "date->timestamp_ntz retype produces)") {
    val dir = newDir("ntz")
    def ts(s: String) = java.time.LocalDateTime.parse(s)
    SnapshotStore.write(
      Seq((ts("2024-01-01T00:00:00"), "p0", 1L),
        (ts("2024-01-31T23:59:59"), "p0", 2L)).toDF("t", "p", "k"),
      dir, "p", statsCols = Seq("t"))
    SnapshotStore.append(
      Seq((ts("2024-06-15T12:00:00"), "p0", 3L)).toDF("t", "p", "k"),
      dir, "p")
    val pred = col("t") >= "2024-06-01T00:00:00"
    val got = SnapshotStore.readWhere(spark, dir, pred)
    assert(got.select("k").as[Long].collect().toSeq == Seq(3L))
    assert(gens(got.inputFiles).size == 1,
      "the January gen's naive-micros bounds must prune")
  }

  test("fail-fast set: unsupported stats type, reserved characters in a " +
    "stats column name") {
    val dir = newDir("ff")
    intercept[IllegalArgumentException] {
      SnapshotStore.write(Seq((1L, "p0", true)).toDF("k", "p", "flag"),
        dir, "p", statsCols = Seq("flag"))
    }
    intercept[IllegalArgumentException] {
      SnapshotStore.write(Seq((1L, "p0", 1.0)).toDF("k", "p", "v"),
        dir, "p", statsCols = Seq("v;w"))
    }
  }

  /** 3 gens with range-disjoint STRING keys in one partition. */
  private def stringStore(dir: String, mk: Long => String): Unit = {
    def chunk(lo: Long, n: Int) =
      (0 until n).map(i => (mk(lo + i), s"p${i % 2}", lo + i))
        .toDF("sk", "p", "k")
    SnapshotStore.write(chunk(0L, 10), dir, "p", statsCols = Seq("sk"))
    SnapshotStore.append(chunk(100L, 10), dir, "p")
    SnapshotStore.append(chunk(200L, 10), dir, "p")
  }

  test("STRING bounds prune range, equality, startsWith and pure-prefix " +
    "LIKE; non-prefix LIKE falls back to reading everything") {
    val dir = newDir("str")
    stringStore(dir, n => f"key$n%05d") // 8 chars: exact bounds
    def check(pred: org.apache.spark.sql.Column, nGens: Int): Unit = {
      val pruned = SnapshotStore.readWhere(spark, dir, pred)
      val full = SnapshotStore.read(spark, dir).filter(pred)
      assert(pruned.select("k").as[Long].collect().toSet ==
        full.select("k").as[Long].collect().toSet, s"content for $pred")
      assert(gens(pruned.inputFiles).size == nGens, s"gens for $pred")
    }
    check(col("sk") >= "key00100" && col("sk") < "key00110", 1)
    check(col("sk") === "key00205", 1)
    check(lit("key00009") >= col("sk"), 1, // literal-on-left flips
    )
    check(col("sk").startsWith("key001"), 1)
    check(col("sk").like("key002%"), 1)
    check(col("sk").like("key%"), 3) // prefix shared by every gen
    check(col("sk").like("%205"), 3) // not a pure prefix: no pruning
    check(col("sk").like("key00_05"), 3) // '_' wildcard: no pruning
  }

  test("STRING truncation discipline: bounds cap at 16 code points, the " +
    "upper bound increments, and values differing only PAST the cap " +
    "never mis-prune") {
    val dir = newDir("trunc")
    // 28-char keys: 10-char pad + 6 digits + constant 12-char tail — the
    // 16-code-point cap keeps exactly pad+digits (gens still separate)
    // and truncates the tail (the upper bound must increment)
    stringStore(dir, n => f"padpadpad-$n%06dsuffixsuffix")
    val pred = col("sk") >= "padpadpad-000100suffixsuffix" &&
      col("sk") <= "padpadpad-000109suffixsuffix"
    val pruned = SnapshotStore.readWhere(spark, dir, pred)
    assert(pruned.count() == 10)
    assert(gens(pruned.inputFiles).size == 1,
      "truncated-at-16 bounds still separate these gens")
    // a predicate whose decision point lies BEYOND the truncation cap:
    // conservative (the boundary gen kept), never wrong
    val edge = col("sk") > "padpadpad-000004suffixsuffix"
    val got = SnapshotStore.readWhere(spark, dir, edge)
    assert(got.count() ==
      SnapshotStore.read(spark, dir).filter(edge).count(),
      "truncation must stay conservative at sub-cap-invisible boundaries")
    // all-maxed prefix: no sound upper bound exists — no bounds recorded,
    // gen conservatively read
    val dir2 = newDir("maxcp")
    val maxed = new String(Character.toChars(0x10FFFF)) * 17
    SnapshotStore.write(Seq((maxed, "p0", 1L)).toDF("sk", "p", "k"),
      dir2, "p", statsCols = Seq("sk"))
    SnapshotStore.append(Seq(("aaa", "p0", 2L)).toDF("sk", "p", "k"),
      dir2, "p")
    val g = SnapshotStore.readWhere(spark, dir2, col("sk") > "zzz")
    assert(g.select("k").as[Long].collect().toSeq == Seq(1L))
    assert(gens(g.inputFiles).size == 1,
      "the unboundable (all-U+10FFFF) gen is kept conservatively; the " +
        "bounded 'aaa' gen prunes")
  }

  test("STRING bounds survive non-ASCII (multi-byte and supplementary " +
    "code points compare in UTF8 byte order, not Java char order) and " +
    "blob-reserved characters in values") {
    val dir = newDir("utf8")
    // gen 1: ASCII high-end; gen 2: supplementary-plane values. In Java
    // char order the surrogate pair (😀) sorts BELOW �;
    // in UTF-8 byte order it sorts ABOVE — the domain Spark filters in.
    SnapshotStore.write(
      Seq(("zebra", "p0", 1L), ("zulu", "p0", 2L)).toDF("sk", "p", "k"),
      dir, "p", statsCols = Seq("sk"))
    SnapshotStore.append(
      Seq(("😀grin", "p0", 3L), ("�repl", "p0", 4L))
        .toDF("sk", "p", "k"), dir, "p")
    val pred = col("sk") > "￿"
    val got = SnapshotStore.readWhere(spark, dir, pred)
    val full = SnapshotStore.read(spark, dir).filter(pred)
    assert(got.select("k").as[Long].collect().toSet ==
      full.select("k").as[Long].collect().toSet,
      "supplementary-plane rows must survive the bounds check")
    assert(got.select("k").as[Long].collect().toSet == Set(3L),
      "only the emoji row sorts above U+FFFF in UTF-8 byte order")
    assert(gens(got.inputFiles).size == 1, "the ASCII gen prunes")
    // blob-grammar characters in values round-trip the escape
    val dir2 = newDir("resv")
    SnapshotStore.write(
      Seq(("a:b;c=d", "p0", 1L), ("a:b;c=e", "p0", 2L))
        .toDF("sk", "p", "k"), dir2, "p", statsCols = Seq("sk"))
    SnapshotStore.append(
      Seq(("zz", "p0", 3L)).toDF("sk", "p", "k"), dir2, "p")
    val g2 = SnapshotStore.readWhere(spark, dir2, col("sk") === "a:b;c=d")
    assert(g2.select("k").as[Long].collect().toSeq == Seq(1L))
    assert(gens(g2.inputFiles).size == 1,
      "reserved-char bounds must parse back and prune the zz gen")
  }

  test("a sorted store's range-partitioned writes compute their input " +
    "once: append and a copy-on-write update evaluate a counting UDF " +
    "once per row, compaction reads each stored row once") {
    val dir = newDir("sortedonce")
    def rows(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p${i % 2}", (lo + i) * 1.0))
        .toDF("k", "p", "v")
    SnapshotStore.write(rows(0L, 40), dir, "p", statsCols = Seq("k"))
    SnapshotStore.declareSortCols(spark, dir, Seq("k"))
    val calls = spark.sparkContext.longAccumulator("udf-calls")
    val tick = udf { (v: Double) => calls.add(1L); v }
    def evals(body: => Unit): Long = { calls.reset(); body; calls.sum }
    // a generated input: over a local Seq the optimizer would evaluate
    // the UDF once on the driver, whatever the plan does
    val appended = spark.range(100L, 120L).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 2).cast("string")).as("p"),
      tick(col("id").cast("double")).as("v"))
    assert(evals(SnapshotStore.append(appended, dir, "p")) == 20L)
    assert(evals(SnapshotStore.updateWhere(spark, dir,
      Seq("v" -> tick(col("v"))), col("k") < 10L)) == 10L)
    // compaction's input is the store's own files: count the rows its
    // file scans read (a cached re-read counts one record per batch)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          read.addAndGet(m.inputMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(SnapshotStore.compactPartitions(spark, dir, "p") == 2)
      jobsLaunchedBy(()) // drains the listener bus
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get >= 60L && read.get < 2 * 60L,
      s"compaction read ${read.get} records for 60 stored rows")
    assert(SnapshotStore.read(spark, dir).count() == 60L)
  }
}
