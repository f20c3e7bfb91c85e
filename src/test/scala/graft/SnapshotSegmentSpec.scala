package graft

import org.apache.spark.sql.functions._

import graft.storage.SnapshotStore

/** The segmented-manifest tier: above `graft.snapshot.segmentThreshold`
  * live partitions the `_manifest-<v>` head lists content-addressed
  * hash-bucket segment files instead of carrying every entry inline. The
  * tier must be TRANSPARENT (every store operation behaves identically on
  * either format, and a store crosses formats in both directions as it
  * grows/shrinks) while changing the COST shape: commits rewrite only
  * touched buckets, rollback copies head text verbatim, `changes` diffs
  * segment refs before parsing anything, and pruned reads parse only the
  * requested values' buckets. The threshold is forced tiny here so a
  * 6-partition store exercises the entire segment code path.
  */
class SnapshotSegmentSpec extends SparkSpec {
  import spark.implicits._

  private val Thresh = "graft.snapshot.segmentThreshold"

  private def withTinyThreshold[T](n: Int)(body: => T): T = {
    val prior = sys.props.get(Thresh)
    sys.props(Thresh) = n.toString
    try body
    finally prior match {
      case Some(v) => sys.props(Thresh) = v
      case None => sys.props -= Thresh
    }
  }

  private def newDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_seg_$tag").toString + "/st"

  private def headText(dir: String, v: Int): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, s"_manifest-$v")), "UTF-8")

  private def isSegmented(dir: String, v: Int): Boolean =
    headText(dir, v).startsWith("\u0001graft-segments\t")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
    df.select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def segFiles(dir: String): Set[String] = {
    val d = new java.io.File(dir, "segs")
    if (!d.isDirectory) Set.empty
    else d.listFiles().map(_.getName).filter(_.startsWith("seg-")).toSet
  }

  private val base = (0 until 6).map(i => (i.toLong, s"p$i", i * 1.0))

  test("a store past the threshold writes a segmented head and every " +
    "operation behaves identically: read, readPartitions, merge, append, " +
    "compact, history, idempotent re-append") {
    withTinyThreshold(4) {
      val dir = newDir("ops")
      SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")
      assert(isSegmented(dir, 1), "6 partitions over threshold 4 must segment")
      assert(rows(SnapshotStore.read(spark, dir)) == base.toSet)
      assert(rows(SnapshotStore.readPartitions(spark, dir, Seq("p2", "p4")))
        == base.filter(r => r._2 == "p2" || r._2 == "p4").toSet)
      // merge: upsert k=1, delete nothing, insert k=10 into p1
      SnapshotStore.merge(spark, dir,
        Seq((1L, "p1", 99.0), (10L, "p1", 10.0)).toDF("k", "p", "v"),
        "p", Seq("k"))
      val afterMerge = base.filterNot(_._1 == 1L).toSet +
        ((1L, "p1", 99.0)) + ((10L, "p1", 10.0))
      assert(rows(SnapshotStore.read(spark, dir)) == afterMerge)
      // append twice (idempotency-keyed), then the SAME key again: no-op
      SnapshotStore.append(Seq((20L, "p3", 20.0)).toDF("k", "p", "v"),
        dir, "p", idempotencyKey = Some("b1"))
      SnapshotStore.append(Seq((21L, "p3", 21.0)).toDF("k", "p", "v"),
        dir, "p", idempotencyKey = Some("b2"))
      SnapshotStore.append(Seq((20L, "p3", 20.0)).toDF("k", "p", "v"),
        dir, "p", idempotencyKey = Some("b1"))
      val afterAppend = afterMerge + ((20L, "p3", 20.0)) + ((21L, "p3", 21.0))
      assert(rows(SnapshotStore.read(spark, dir)) == afterAppend,
        "duplicate idempotency key must not re-append on a segmented store")
      assert(SnapshotStore.readManifest(spark, dir,
        SnapshotStore.headVersion(spark, dir).get)("p3").size == 3,
        "p3 accumulated base + two append dirs")
      // compact collapses p3's dir list; content is untouched
      assert(SnapshotStore.compactPartitions(spark, dir, "p") == 1)
      assert(rows(SnapshotStore.read(spark, dir)) == afterAppend)
      assert(SnapshotStore.readManifest(spark, dir,
        SnapshotStore.headVersion(spark, dir).get)("p3").size == 1)
      // history: every version's n_partitions straight from the head file
      val hist = SnapshotStore.history(spark, dir)
        .orderBy("version").collect()
        .map(r => (r.getInt(0), r.getAs[Int]("n_partitions")))
      assert(hist.map(_._1).toSeq == (1 to 5),
        s"expected versions 1..5, got ${hist.toSeq}")
      assert(hist.forall(_._2 == 6), s"all versions hold 6 partitions: ${hist.toSeq}")
    }
  }

  test("commits are touched-bucket-only: an untouched bucket's segment " +
    "file is re-referenced byte-for-byte, never rewritten") {
    withTinyThreshold(4) {
      val dir = newDir("share")
      SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")
      val segsV1 = segFiles(dir)
      assert(segsV1.nonEmpty)
      val refsBefore = headText(dir, 1).split("\n").drop(1).toSet
      SnapshotStore.merge(spark, dir,
        Seq((0L, "p0", 42.0)).toDF("k", "p", "v"), "p", Seq("k"))
      val refsAfter = headText(dir, 2).split("\n").drop(1).toSet
      // exactly ONE bucket ref changed (p0's); every other line identical
      assert((refsBefore -- refsAfter).size == 1 &&
        (refsAfter -- refsBefore).size == 1,
        s"one-bucket merge must change one ref:\n$refsBefore\nvs\n$refsAfter")
      // and at most one new segment file appeared on disk
      assert((segFiles(dir) -- segsV1).size == 1,
        "a one-partition merge writes exactly one new segment")
    }
  }

  test("readPartitions parses ONLY the requested values' buckets (a " +
    "foreign bucket's segment can be missing and the pruned read still " +
    "works, while the full read fails loudly)") {
    withTinyThreshold(4) {
      val dir = newDir("prune")
      SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")
      // reimplement the store's bucket routing (String.hashCode is
      // spec-fixed) to find two values in different buckets
      val nb = headText(dir, 1).split("\n").head.split("\t")(1).toInt
      def bucket(v: String): Int = math.floorMod(v.hashCode, nb)
      val target = "p2"
      val other = base.map(_._2).find(v => bucket(v) != bucket(target)).get
      // delete the OTHER value's segment file
      val refs = headText(dir, 1).split("\n").drop(1)
        .map { l => val f = l.split("\t"); f(0).toInt -> f(2) }.toMap
      val victimSeg = refs(bucket(other))
      assert(victimSeg != refs(bucket(target)),
        "test needs the two values in different segments")
      assert(new java.io.File(dir, victimSeg).delete())
      // pruned read never opens the victim bucket
      assert(rows(SnapshotStore.readPartitions(spark, dir, Seq(target)))
        == base.filter(_._2 == target).toSet)
      // the full read must fail LOUDLY, not silently drop the partition
      intercept[Exception](SnapshotStore.read(spark, dir).collect())
    }
  }

  test("rollback copies the target's head text verbatim — no segment is " +
    "parsed or rewritten") {
    withTinyThreshold(4) {
      val dir = newDir("rb")
      SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")
      SnapshotStore.merge(spark, dir,
        Seq((0L, "p0", 42.0)).toDF("k", "p", "v"), "p", Seq("k"))
      val segsBefore = segFiles(dir)
      SnapshotStore.rollback(spark, dir, 1)
      assert(headText(dir, 3) == headText(dir, 1),
        "rollback head must be a verbatim copy of the target's")
      assert(segFiles(dir) == segsBefore, "rollback wrote a segment")
      assert(rows(SnapshotStore.read(spark, dir)) == base.toSet)
    }
  }

  test("changes diffs segment refs before parsing: the feed matches the " +
    "flat tier's exactly across merge+append, and the inverse direction " +
    "still inverts") {
    def feed(dir: String): Set[(String, Long, String, Double)] =
      SnapshotStore.changes(spark, dir, 1, 3, Seq("k")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSet
    def build(dir: String): Unit = {
      SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")
      SnapshotStore.merge(spark, dir,
        Seq((1L, "p1", 99.0), (10L, "p1", 10.0)).toDF("k", "p", "v"),
        "p", Seq("k"))
      SnapshotStore.append(Seq((20L, "p3", 20.0)).toDF("k", "p", "v"),
        dir, "p")
    }
    val segDir = newDir("chs")
    withTinyThreshold(4)(build(segDir))
    val flatDir = newDir("chf")
    build(flatDir) // default threshold: flat
    assert(isSegmented(segDir, 1) && !isSegmented(flatDir, 1))
    val seg = feed(segDir)
    assert(seg == feed(flatDir), "segmented CDF diverges from flat CDF")
    assert(seg == Set(("update_preimage", 1L, "p1", 1.0),
      ("update_postimage", 1L, "p1", 99.0), ("insert", 10L, "p1", 10.0),
      ("insert", 20L, "p3", 20.0)))
    // inverse direction on the segmented store
    withTinyThreshold(4) {
      val inv = SnapshotStore.changes(spark, segDir, 3, 1, Seq("k"))
        .collect().map(_.getString(0)).groupBy(identity)
        .view.mapValues(_.length).toMap
      assert(inv == Map("update_preimage" -> 1, "update_postimage" -> 1,
        "delete" -> 2))
    }
  }

  test("format transitions: a flat store outgrowing the threshold " +
    "upgrades at the crossing commit, and shrinks back to flat on mass " +
    "delete — content identical throughout") {
    withTinyThreshold(5) {
      val dir = newDir("cross")
      val small = base.take(3)
      SnapshotStore.write(small.toDF("k", "p", "v"), dir, "p")
      assert(!isSegmented(dir, 1), "3 partitions under threshold 5 stay flat")
      // grow to 6 partitions: crossing commit re-segments whole
      SnapshotStore.merge(spark, dir,
        base.drop(3).toDF("k", "p", "v"), "p", Seq("k"))
      assert(isSegmented(dir, 2), "6 partitions over threshold 5 must segment")
      assert(rows(SnapshotStore.read(spark, dir)) == base.toSet)
      // delete 4 partitions' rows: back under the threshold, flat again
      SnapshotStore.merge(spark, dir,
        base.drop(2).map(r => (r._1, r._2, r._3, true))
          .toDF("k", "p", "v", "del"),
        "p", Seq("k"), deleteCol = Some("del"))
      assert(!isSegmented(dir, 3), "2 partitions under threshold 5 downgrade")
      assert(rows(SnapshotStore.read(spark, dir)) == base.take(2).toSet)
      // every version stays readable across both transitions
      assert(rows(SnapshotStore.read(spark, dir, Some(1))) == small.toSet)
      assert(rows(SnapshotStore.read(spark, dir, Some(2))) == base.toSet)
    }
  }

  test("expire GCs segment files no retained head references — and never " +
    "a referenced one") {
    withTinyThreshold(4) {
      val dir = newDir("gc")
      SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")
      (1 to 3).foreach { i =>
        SnapshotStore.merge(spark, dir,
          Seq((0L, "p0", i * 1.0)).toDF("k", "p", "v"), "p", Seq("k"))
      }
      val before = segFiles(dir)
      assert(before.size >= 4, s"expected >=4 distinct p0 segments: $before")
      SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
      val after = segFiles(dir)
      val liveRefs = headText(dir, 4).split("\n").drop(1)
        .map(_.split("\t")(2).stripPrefix("segs/")).toSet
      assert(after == liveRefs,
        s"post-expire segs must be exactly the head's refs: $after vs $liveRefs")
      assert(rows(SnapshotStore.read(spark, dir)) ==
        base.filterNot(_._1 == 0L).toSet + ((0L, "p0", 3.0)))
      // age floor: a fresh unreferenced segment survives a floored sweep
      val stray = new java.io.File(dir, "segs/seg-deadbeef")
      java.nio.file.Files.writeString(stray.toPath, "x\tdata/gen-x/_p=x")
      SnapshotStore.expire(spark, dir, keep = 1) // default 1h floor
      assert(stray.isFile, "young orphan segment swept despite the age floor")
    }
  }

  test("the segment marker cannot be forged by a partition value: the " +
    "single-column key reservation refuses the control-char value " +
    "outright, and a composite COMPONENT carrying it %-encodes — the " +
    "head stays flat and the rows round-trip") {
    val dir = newDir("marker")
    val odd = Seq((1L, "\u0001graft-segments", 1.0), (2L, "plain", 2.0))
    // U+0001 is reserved in single-column keys (it is the composite
    // separator AND the marker's first byte): the write refuses LOUDLY
    // instead of relying on escaping alone
    val e = intercept[Exception](
      SnapshotStore.write(odd.toDF("k", "p", "v"), dir, "p"))
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => Option(c.getMessage)
      .exists(_.contains("reserved"))), s"got $e")
    // a composite component may carry it: %-encoded into the key, so the
    // manifest line cannot start with the marker either
    val dir2 = newDir("marker2")
    val comp = Seq((1L, "\u0001graft-segments", "t0", 1.0),
      (2L, "plain", "t0", 2.0))
    SnapshotStore.write(comp.toDF("k", "p", "t", "v"), dir2, "p,t")
    assert(!isSegmented(dir2, 1), "the 2-partition head must stay flat")
    assert(rows(SnapshotStore.read(spark, dir2)) ==
      comp.map(r => (r._1, r._2, r._4)).toSet)
    assert(rows(SnapshotStore.readPartitions(spark, dir2,
      Seq(SnapshotStore.partitionKeyOf(Seq("\u0001graft-segments", "t0")))))
      == comp.take(1).map(r => (r._1, r._2, r._4)).toSet)
  }

  test("multi-writer soak over the segmented tier: the full concurrency " +
    "net (CAS, idempotent append, compaction, retention) holds when every " +
    "commit goes through segment publish") {
    withTinyThreshold(2) {
      val dir = newDir("soak")
      val b = Seq((0L, "p0", 0.0), (1L, "p1", 0.0), (2L, "p2", 0.0),
        (3L, "p3", 0.0))
      SnapshotStore.write(b.toDF("k", "p", "v"), dir, "p")
      assert(isSegmented(dir, 1))
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val lastMerged = new Array[Option[Double]](3)
      (0 until 3).foreach(lastMerged(_) = None)
      val appended =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]
      val threads = (0 until 3).map { w =>
        new Thread(() => {
          val r = new scala.util.Random(20260817 + w)
          try (0 until 6).foreach { i =>
            r.nextInt(4) match {
              case 0 =>
                val row = ((w + 1) * 1000L + i, s"p${r.nextInt(4)}", i * 1.0)
                SnapshotStore.append(Seq(row).toDF("k", "p", "v"), dir, "p",
                  idempotencyKey = Some(s"w$w-b$i"), maxRetries = 50)
                appended.add(row)
              case 1 =>
                val v = i * 10.0 + w
                SnapshotStore.withCasRetry(50)(SnapshotStore.merge(spark, dir,
                  Seq((w.toLong, s"p$w", v)).toDF("k", "p", "v"),
                  "p", Seq("k")))
                lastMerged(w) = Some(v)
              case 2 =>
                try SnapshotStore.compactPartitions(spark, dir, "p")
                catch { case _: java.util.ConcurrentModificationException => }
              case 3 =>
                SnapshotStore.expire(spark, dir, keep = 8)
            }
          } catch { case t: Throwable => errors.add(t) }
        }, s"seg-soak-$w")
      }
      threads.foreach(_.start())
      threads.foreach(_.join(600000))
      assert(errors.isEmpty, {
        val sw = new java.io.StringWriter
        errors.forEach(_.printStackTrace(new java.io.PrintWriter(sw)))
        s"segmented soak writers threw:\n$sw"
      })
      val expected = b.map(r => r._1 -> (r._2, r._3)).toMap ++
        (0 until 3).flatMap(w =>
          lastMerged(w).map(v => w.toLong -> (s"p$w", v))).toMap ++ {
          val m = Map.newBuilder[Long, (String, Double)]
          appended.forEach(r => m += (r._1 -> (r._2, r._3)))
          m.result()
        }
      val got = SnapshotStore.read(spark, dir).select("k", "p", "v")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
        .toMap
      assert(got == expected, "segmented soak head diverged")
      // quiescent zero-floor sweep: exactly the head's gens AND segs remain
      SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
      val head = SnapshotStore.headVersion(spark, dir).get
      val headGens = SnapshotStore.readManifest(spark, dir, head)
        .values.flatten.map(_.split("/").take(2).mkString("/")).toSet
      val onDisk = new java.io.File(s"$dir/data").listFiles()
        .map("data/" + _.getName).toSet
      assert(onDisk == headGens, s"leaked gens: ${onDisk -- headGens}")
      val liveRefs = headText(dir, head).split("\n").drop(1)
        .map(_.split("\t")(2).stripPrefix("segs/")).toSet
      assert(segFiles(dir) == liveRefs,
        s"leaked segs: ${segFiles(dir) -- liveRefs}")
    }
  }

  test("the per-component partial-probe index: a composite store past " +
    "the threshold writes cindex sections, partial probes resolve " +
    "through them at bucket grain, and commitDelta maintains them") {
    withTinyThreshold(4) {
      val dir = newDir("cindex")
      val comp = for (d <- Seq("d0", "d1", "d2"); t <- Seq("t0", "t1", "t2"))
        yield (s"$d-$t".length.toLong, d, t, 1.0)
      SnapshotStore.write(comp.toDF("k", "d", "t", "v"), dir, "d,t")
      assert(isSegmented(dir, 1))
      assert(headText(dir, 1).contains("graft-cindex\t0\t"),
        "component 0 index section present")
      assert(headText(dir, 1).contains("graft-cindex\t1\t"),
        "component 1 index section present")
      // partial probes on EITHER component are exact
      assert(SnapshotStore.readWhere(spark, dir,
        col("d") === "d1").count() == 3)
      assert(SnapshotStore.readWhere(spark, dir,
        col("t") === "t2").count() == 3)
      // commitDelta maintains the index: a merge touching one (d, t)
      // keeps the sections and the probe exact
      SnapshotStore.merge(spark, dir,
        Seq((100L, "d1", "t1", 9.0)).toDF("k", "d", "t", "v"),
        "d,t", Seq("k"))
      assert(headText(dir, 2).contains("graft-cindex\t0\t"),
        "cindex survives the delta commit")
      assert(SnapshotStore.readWhere(spark, dir,
        col("d") === "d1").count() == 4)
      assert(SnapshotStore.readWhere(spark, dir,
        col("t") === "t1").count() == 4)
      // BUCKET-grain access pin (destructive — last): deleting a cindex
      // segment that serves ONLY another day's bucket must not disturb
      // a d0 probe (the main tier and d0's bucket stay intact)
      val lines = headText(dir, 2).split("\n").toSeq
      val c0 = lines.dropWhile(!_.startsWith("graft-cindex\t0"))
        .drop(1).takeWhile(!_.startsWith("graft-cindex"))
      val bucketSegs = c0.map { l =>
        val f = l.split("\t"); f(0).toInt -> f(2) }.toMap
      val nb = lines.head.split("\t")(1).toInt
      def bucketOf(v: String) = math.floorMod(v.hashCode, nb)
      val mainSegs = lines.drop(1)
        .takeWhile(!_.startsWith("graft-cindex"))
        .map(_.split("\t")(2)).toSet
      val c1Segs = lines.dropWhile(!_.startsWith("graft-cindex\t1"))
        .drop(1).map(_.split("\t")(2)).toSet
      val sacrifice = Seq("d1", "d2").filter(v =>
        bucketOf(v) != bucketOf("d0"))
        .flatMap(v => bucketSegs.get(bucketOf(v)))
        .filterNot(mainSegs).filterNot(c1Segs)
        .filterNot(sg => bucketSegs.get(bucketOf("d0")).contains(sg))
        .headOption
      sacrifice.foreach { sg =>
        assert(new java.io.File(dir, sg).delete(), s"delete $sg")
        assert(SnapshotStore.readWhere(spark, dir,
          col("d") === "d0").count() == 3,
          "a d0 probe must not parse another day's cindex bucket")
        // the main tier still serves everything
        assert(SnapshotStore.read(spark, dir).count() == 10)
      }
    }
  }

  test("the partial-probe index across EVOLUTION: a full commit after " +
    "evolving to a composite spec builds the index with old-era keys " +
    "in the residue bucket; probes stay exact; a further evolution " +
    "drops the index instead of carrying wrong positions") {
    withTinyThreshold(2) {
      val dir = newDir("cindexevo")
      SnapshotStore.write((0 until 12).map(i =>
        (i.toLong, s"d${i % 3}", s"t${i % 2}", i * 1.0))
        .toDF("k", "d", "t", "v"), dir, "d")
      SnapshotStore.evolvePartitionSpec(spark, dir, "d,t")
      SnapshotStore.append((100 until 112).map(i =>
        (i.toLong, s"d${i % 3}", s"t${i % 2}", i * 1.0))
        .toDF("k", "d", "t", "v"), dir, "d,t")
      // backfillStats is a FULL commit — it builds the index (delta
      // commits never pay the O(N) rebuild)
      SnapshotStore.backfillStats(spark, dir, statsCols = Seq("k"))
      val head = SnapshotStore.headVersion(spark, dir).get
      assert(headText(dir, head).contains("graft-cindex\t0\t"),
        "the evolved store's full commit builds the index")
      // the partial probe unions the indexed new era and the residue's
      // old era — exact across both
      assert(SnapshotStore.readWhere(spark, dir,
        col("d") === "d1").count() == 8)
      assert(SnapshotStore.readWhere(spark, dir,
        col("t") === "t1").count() == 12,
        "t probes resolve new-era buckets plus the old-era residue")
      // deleteWhere on the partial constraint stays exact
      SnapshotStore.deleteWhere(spark, dir, col("d") === "d2")
      assert(SnapshotStore.read(spark, dir).count() == 16)
      // a THIRD spec with a new arity: the next delta commit DROPS the
      // index (stale positions would misroute); probes fall back, exact
      SnapshotStore.evolvePartitionSpec(spark, dir, "t")
      SnapshotStore.append(Seq((500L, "d0", "t9", 0.0))
        .toDF("k", "d", "t", "v"), dir, "t")
      val h2 = SnapshotStore.headVersion(spark, dir).get
      if (headText(dir, h2).startsWith("graft-segments"))
        assert(!headText(dir, h2).contains("graft-cindex"),
          "a changed newest arity must drop the index")
      assert(SnapshotStore.readWhere(spark, dir,
        col("t") === "t9").count() == 1)
    }
  }
}
