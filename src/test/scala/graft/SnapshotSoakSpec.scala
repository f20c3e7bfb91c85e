package graft

import org.apache.spark.sql.functions._
import graft.storage.{Dml, SnapshotStore}

/** Randomized multi-writer soak over [[SnapshotStore]] — the composition
  * proof on top of the pairwise `beforeCommit` race seams: N concurrent
  * writers interleave appends (idempotency-keyed), merges (retried),
  * compactions, and retention sweeps against ONE store, under a seeded
  * schedule, and every lakehouse invariant must hold at the end. Races
  * that only emerge from composition (append landing mid-merge-retry,
  * expire sweeping under a compaction, two expires racing each other's
  * dir deletes, dir lists growing while a merge rewrites the partition)
  * are the classic multi-writer failure mode the pairwise specs cannot
  * see — the r12 soak caught two (partially-written `_schema-<v>` read;
  * retention under an in-flight commit) on its first run.
  *
  * Determinism argument: writers own DISJOINT key spaces (writer w merges
  * only key w; appends use globally-unique keys at (w+1)*1000+i, disjoint
  * from the base keys 0-3 and every merge key), so the final head content
  * is schedule-independent — base ∪ appended rows ∪ each writer's last
  * merged value — even though the store's serialization order is not.
  * (An earlier scheme let writer 0's append keys collide with the merge
  * keys — that both violated append's documented new-keys-only contract
  * and made the head content depend on row-collection order, which
  * surfaced as a once-in-several-runs flake.)
  *
  * Four soaks:
  *   - two seeds × sizes of the append/merge/compact/expire mix (the r12
  *     shape, grown to 5 writers × 12 ops), with CONCURRENT SCHEMA
  *     EVOLUTION folded in: half of each writer's appends carry a
  *     writer-private extra column, so `_schema-<v>` files are written
  *     and unioned under full contention — plus the schema invariant
  *     (every retained schema parses; consecutive retained versions are
  *     field-supersets)
  *   - a STATS+RENAME mix (r13): the store declares stats columns, so
  *     every contended commit also records per-gen bounds (including
  *     adopted duplicate-delivery gens and compaction rewrites), checked
  *     by a final readWhere-vs-filter parity + blob-presence assert; a
  *     fifth op toggles a metadata-only rename of a column no writer
  *     writes (tag<->label), so rename CAS races interleave with every
  *     other verb
  *   - a ROLLBACK mix (the one verb the r12 soak never exercised:
  *     rollback commits an OLD manifest as a NEW head) — content becomes
  *     schedule-dependent once rollbacks interleave, so the invariants
  *     are structural, closed by a deterministic final rollback to v1
  *     which must restore the base exactly
  */
class SnapshotSoakSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq((0L, "p0", 0.0), (1L, "p1", 0.0),
    (2L, "p2", 0.0), (3L, "p3", 0.0))

  /** Parses a retained `_schema-<v>` file (the spec reads the raw file —
    * the store's reader is private, and the invariant is about what is ON
    * DISK, not what the store chooses to expose).
    */
  private def schemaFields(dir: String, v: Int): Option[Set[(String, String)]] = {
    val f = new java.io.File(dir, s"_schema-$v")
    if (!f.isFile) None
    else {
      val txt = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val st = org.apache.spark.sql.types.DataType.fromJson(txt)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      Some(st.fields.map(fd => fd.name -> fd.dataType.sql).toSet)
    }
  }

  private def retainedVersions(dir: String): Seq[Int] =
    new java.io.File(dir).listFiles().map(_.getName)
      .collect { case n if n.startsWith("_manifest-") =>
        n.stripPrefix("_manifest-").toInt }.sorted.toSeq

  private def headMap(dir: String): Map[Long, (String, Double)] =
    SnapshotStore.read(spark, dir).select("k", "p", "v").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  private def assertStructure(dir: String): Unit = {
    val retained = retainedVersions(dir)
    assert(retained.nonEmpty, "no retained manifests after the soak")
    retained.foreach { v =>
      SnapshotStore.readManifest(spark, dir, v).values.flatten.foreach(d =>
        assert(new java.io.File(s"$dir/${SnapshotStore.dirOf(d)}").isDirectory,
          s"retained manifest v$v references a dangling dir: $d"))
      SnapshotStore.read(spark, dir, Some(v)).count() // must not throw
    }
    // no partition's dir list holds duplicates at head
    SnapshotStore.readManifest(spark, dir, retained.max).foreach {
      case (p, ds) =>
        assert(ds.distinct == ds, s"partition $p lists a dir twice: $ds")
    }
  }

  private def quiescentSweep(dir: String): Unit = {
    SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
    val headGens = SnapshotStore
      .readManifest(spark, dir, SnapshotStore.headVersion(spark, dir).get)
      .values.flatten
      .flatMap(f => (SnapshotStore.dirOf(f) +:
        SnapshotStore.dvRefsOf(f)).map(_.split("/").take(2).mkString("/")))
      .toSet
    val onDisk = new java.io.File(s"$dir/data").listFiles()
      .map("data/" + _.getName).toSet
    assert(onDisk == headGens,
      s"quiescent sweep mismatch — leaked: ${onDisk -- headGens}, " +
        s"dangling: ${headGens -- onDisk}")
  }

  private def soak(nWriters: Int, opsPer: Int, seed: Int,
                   statsCols: Boolean = false,
                   renameMix: Boolean = false,
                   dmlMix: Boolean = false): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_soak")
      .toString + "/st"
    // the rename mix toggles a column NO writer ever writes (`tag`), so
    // every concurrent merge/append keeps using non-retired names
    val baseDf =
      if (renameMix) base.map(r => (r._1, r._2, r._3, s"t${r._1}"))
        .toDF("k", "p", "v", "tag")
      else base.toDF("k", "p", "v")
    SnapshotStore.write(baseDf, dir, "p",
      statsCols = if (statsCols) Seq("k", "v") else Nil)

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appendedRows =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]
    val lastMerged = new Array[Option[Double]](nWriters)
    (0 until nWriters).foreach(lastMerged(_) = None)

    val nOps = if (dmlMix) 11 else if (renameMix) 6 else 4
    val threads = (0 until nWriters).map { w =>
      new Thread(() => {
        val r = new scala.util.Random(seed + w)
        try {
          (0 until opsPer).foreach { i =>
            // deterministic mid-schedule evolution (dml mix, writer 0):
            // the store's spec changes WHILE every other writer is mid-op
            if (dmlMix && w == 0 && i == opsPer / 2)
              try SnapshotStore.evolvePartitionSpec(spark, dir, "p,k")
              catch {
                case e: IllegalArgumentException
                  if e.getMessage.contains("must change") => ()
                case _: java.util.ConcurrentModificationException => ()
              }
            r.nextInt(nOps) match {
              case 0 => // idempotency-keyed append of a globally-unique key;
                // every second append carries a writer-private EXTRA column,
                // so `_schema-<v>` union/record/read runs under contention
                val row = ((w + 1) * 1000L + i, s"p${r.nextInt(4)}", i * 1.0)
                val df =
                  if (i % 2 == 0) Seq(row).toDF("k", "p", "v")
                  else Seq((row._1, row._2, row._3, s"w$w"))
                    .toDF("k", "p", "v", s"c$w")
                SnapshotStore.append(df, dir, "p",
                  idempotencyKey = Some(s"w$w-b$i"), maxRetries = 50)
                appendedRows.add(row)
              case 1 => // retried upsert of the writer's OWN key
                val v = i * 10.0 + w
                SnapshotStore.withCasRetry(50)(SnapshotStore.merge(spark, dir,
                  Seq((w.toLong, s"p$w", v)).toDF("k", "p", "v"),
                  "p", Seq("k")))
                lastMerged(w) = Some(v)
              case 2 => // maintenance: CAS loss is a documented re-call
                try SnapshotStore.compactPartitions(spark, dir, "p")
                catch { case _: java.util.ConcurrentModificationException => }
              case 3 => // retention with the default orphan-age floor; keep
                // comfortably exceeds commits any in-flight op can overlap.
                // With 5 writers these overlap EACH OTHER — the
                // concurrent-expire seeds the r12 ADVICE asked for (a dir
                // vanishing under a racing sweep's newest() recursion).
                SnapshotStore.expire(spark, dir, keep = 8)
              case 4 => // metadata-only RENAME toggling under contention:
                // tag<->label; a lost CAS is a documented re-call, an
                // unknown-column IAE means the other name is current
                def tryRen(a: String, b: String): Boolean =
                  try { SnapshotStore.renameColumn(spark, dir, a, b); true }
                  catch {
                    case _: java.util.ConcurrentModificationException => true
                    case e: IllegalArgumentException
                      if e.getMessage.contains("unknown column") => false
                  }
                if (!tryRen("tag", "label")) tryRen("label", "tag")
              case 5 => // TAG lifecycle under contention: tag the head
                // (may race a sweep — the IAE retraction path — or a
                // duplicate name: both documented), drop an earlier one
                try SnapshotStore.tag(spark, dir, s"t$w-$i")
                catch { case _: IllegalArgumentException => }
                if (i > 0) SnapshotStore.deleteTag(spark, dir, s"t$w-${i - 1}")
              case 6 => // predicate DELETE under contention: append a
                // writer-private victim key, then delete it back out —
                // net zero against the expected head regardless of
                // schedule (no other writer touches the key space)
                val victim = (w + 1) * 1000000L + i
                SnapshotStore.append(
                  Seq((victim, s"p${r.nextInt(4)}", -1.0))
                    .toDF("k", "p", "v"),
                  dir, "p", idempotencyKey = Some(s"w$w-victim$i"),
                  maxRetries = 50)
                SnapshotStore.withCasRetry(50) {
                  SnapshotStore.dml(spark, dir, Dml.Delete,
                    col("k") === victim)
                }
              case 7 => // predicate UPDATE of the writer's OWN merged key
                // (per-writer sequential, so the final value is the
                // writer's last merge-or-update — schedule-independent)
                if (lastMerged(w).isDefined) {
                  val v = i * 100.0 + w
                  SnapshotStore.withCasRetry(50) {
                    SnapshotStore.dml(spark, dir,
                      Dml.Update(Seq("v" -> lit(v))),
                      col("k") === w.toLong)
                  }
                  lastMerged(w) = Some(v)
                }
              case 9 => // MERGE-ON-READ delete under contention: the
                // same victim discipline as case 6 — append a
                // writer-private key, DV it back out; the sidecar's
                // liveness and sweep join the soak's invariants
                val mv = (w + 1) * 2000000L + i
                SnapshotStore.append(
                  Seq((mv, s"p${r.nextInt(4)}", -2.0))
                    .toDF("k", "p", "v"),
                  dir, "p", idempotencyKey = Some(s"w$w-morv$i"),
                  maxRetries = 50)
                SnapshotStore.withCasRetry(50) {
                  SnapshotStore.dml(spark, dir, Dml.Delete,
                    col("k") === mv, mode = Dml.MoR)
                }
              case 10 => // MERGE-ON-READ update of the writer's OWN key
                if (lastMerged(w).isDefined) {
                  val v = i * 100.0 + w
                  SnapshotStore.withCasRetry(50) {
                    SnapshotStore.dml(spark, dir,
                      Dml.Update(Seq("v" -> lit(v))),
                      col("k") === w.toLong, mode = Dml.MoR)
                  }
                  lastMerged(w) = Some(v)
                }
              case 8 => // CHECK-constraint lifecycle under contention: a
                // tautology for every writer's rows (k is always set), so
                // enforcement runs on every concurrent write without ever
                // refusing one; duplicate adds are the documented
                // single-winner refusal
                try SnapshotStore.addConstraint(spark, dir, "k_set",
                  "k IS NOT NULL")
                catch { case _: IllegalArgumentException => }
                if (r.nextBoolean())
                  SnapshotStore.dropConstraint(spark, dir, "k_set")
            }
          }
        } catch { case t: Throwable => errors.add(t) }
      }, s"soak-writer-$w")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(600000))
    assert(errors.isEmpty, {
      val sw = new java.io.StringWriter
      errors.forEach(_.printStackTrace(new java.io.PrintWriter(sw)))
      s"soak writers threw:\n$sw"
    })

    // expected head content is schedule-independent (disjoint key spaces)
    val expected: Map[Long, (String, Double)] =
      base.map(r => r._1 -> (r._2, r._3)).toMap ++
        (0 until nWriters).flatMap(w =>
          lastMerged(w).map(v => w.toLong -> (s"p$w", v))).toMap ++
        {
          val b = Map.newBuilder[Long, (String, Double)]
          appendedRows.forEach(r => b += (r._1 -> (r._2, r._3)))
          b.result()
        }
    assert(headMap(dir) == expected,
      s"head diverged from the serialized expectation")

    // every retained version readable, no dangling/duplicated dirs
    // (no bound on retained.size here: how many commits land AFTER a
    // writer's last expire is schedule-dependent; retention efficacy is
    // proven by the quiescent sweep below)
    assertStructure(dir)

    // schema invariant: every retained `_schema-<v>` parses (the r12 soak
    // caught a reader observing a partial one), and — evolution being
    // additive-only with every committer unioning against the head it
    // raced for — consecutive retained versions are field-SUPERSETS
    val retained = retainedVersions(dir)
    val schemas = retained.map(v => v -> schemaFields(dir, v))
    schemas.foreach { case (v, s) =>
      assert(s.isDefined, s"retained v$v has no parseable _schema file") }
    schemas.sliding(2).foreach {
      case Seq((v1, Some(s1)), (v2, Some(s2))) =>
        assert(s1.subsetOf(s2),
          s"schema shrank v$v1 -> v$v2: lost ${s1 -- s2}")
      case _ => ()
    }

    // stats invariant under contention: every commit recorded bounds
    // (merge rewrites, adopted duplicate-delivery gens, compaction
    // rewrites), readWhere must agree with the unpruned filter, and at
    // least one head entry actually carries a blob (the feature ran)
    if (statsCols) {
      val pred = col("k") >= 1000L && col("v") < 4.0
      val a = SnapshotStore.readWhere(spark, dir, pred)
        .select("k", "p", "v").collect().toSet
      val b = SnapshotStore.read(spark, dir).filter(pred)
        .select("k", "p", "v").collect().toSet
      assert(a == b, "readWhere diverged from read().filter after the soak")
      val headV = SnapshotStore.headVersion(spark, dir).get
      assert(SnapshotStore.readManifest(spark, dir, headV).values.flatten
        .exists(_.contains("\u0002")), "no stats blob survived the soak")
      // the metadata aggregates must agree with the scan over the soak's
      // contention-built blobs (merge rewrites, adopted duplicate gens,
      // compaction) - under the same pred and unpredicated
      Seq(pred, lit(true)).foreach { p =>
        assert(SnapshotStore.countWhere(spark, dir, p) ==
          SnapshotStore.read(spark, dir).filter(p).count(),
          s"countWhere diverged after the soak under $p")
        val got = SnapshotStore.minMaxWhere(spark, dir, Seq("k", "v"), p)
          .collect()(0)
        val want = SnapshotStore.read(spark, dir).filter(p)
          .agg(min(col("k")), max(col("k")), min(col("v")), max(col("v")))
          .collect()(0)
        assert(got == want,
          s"minMaxWhere diverged after the soak under $p: $got vs $want")
      }
    }

    // tag invariant: every surviving tag points at a RETAINED manifest
    // (the tag-vs-expire retraction closed the dangling direction); then
    // release them so the quiescent sweep below measures pure head state
    SnapshotStore.tags(spark, dir).foreach { case (n, tv) =>
      assert(new java.io.File(dir, s"_manifest-$tv").isFile,
        s"dangling tag $n -> v$tv after the soak")
      SnapshotStore.deleteTag(spark, dir, n)
    }

    // final quiescent sweep: with no writer live, a zero-floor expire must
    // leave EXACTLY the head's referenced gens (no leaked stage dirs, no
    // unreferenced survivors) and the head content intact
    quiescentSweep(dir)
    assert(headMap(dir) == expected, "final sweep changed head content")
    // the dml mix's mid-schedule evolution must have landed (exactly
    // once) and survived every later op and the sweep
    if (dmlMix)
      assert(SnapshotStore.allPartSpecs(spark, dir) == Seq("p", "p,k"),
        s"evolution record after the soak: " +
          s"${SnapshotStore.allPartSpecs(spark, dir)}")
  }

  test("seeded 3-writer soak of append/merge/compact/expire: head content " +
    "exact, every retained version readable, no dangling or leaked dirs") {
    soak(nWriters = 3, opsPer = 6, seed = 20260814)
  }

  test("seeded 5-writer x 12-op soak (second seed): same invariants under " +
    "heavier interleaving and concurrent schema evolution") {
    soak(nWriters = 5, opsPer = 12, seed = 20260815)
  }

  test("seeded stats+rename soak: per-gen bounds recorded under full " +
    "contention (merge rewrites, adopted duplicate gens, compaction), " +
    "readWhere agrees with the unpruned filter, and metadata-only renames " +
    "toggle mid-mix without disturbing any other writer") {
    soak(nWriters = 4, opsPer = 10, seed = 20260817,
      statsCols = true, renameMix = true)
  }

  test("seeded DML soak: predicate delete/update and a CHECK-constraint " +
    "lifecycle join the full mix — victims delete back out exactly, the " +
    "writer's own key carries its last merge-or-update, enforcement " +
    "never refuses a conforming writer, and every prior invariant holds") {
    soak(nWriters = 4, opsPer = 10, seed = 20260816,
      statsCols = true, renameMix = true, dmlMix = true)
  }

  test("seeded BRANCH soak: a WAP branch stages while main writers append " +
    "and retention churns — staged rows stay exact under a zero-floor " +
    "sweep (the staged-refs-in-the-live-set net), publish refuses loudly " +
    "when main moved, and a quiet-window branch publishes cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_soak_br")
      .toString + "/st"
    SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appended =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val published = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stagedKeys = (0 until 5).map(i => 90000L + i)
    val mains = (0 until 2).map { w =>
      new Thread(() => {
        val r = new scala.util.Random(20260818 + w)
        try (0 until 8).foreach { i =>
          val k = (w + 1) * 1000L + i
          SnapshotStore.append(
            Seq((k, s"p${r.nextInt(4)}", i * 1.0)).toDF("k", "p", "v"),
            dir, "p", idempotencyKey = Some(s"br-w$w-b$i"), maxRetries = 50)
          appended.add(k)
          if (i % 3 == 2) SnapshotStore.expire(spark, dir, keep = 8)
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val brancher = new Thread(() => {
      try {
        SnapshotStore.branchCreate(spark, dir, "soak")
        stagedKeys.foreach { k =>
          SnapshotStore.append(
            Seq((k, "p0", k * 1.0)).toDF("k", "p", "v"), dir, "p",
            target = Dml.Branch("soak"))
          // audit mid-race: every staged key so far visible exactly once
          val seen = SnapshotStore.read(spark, dir, target = Dml.Branch("soak"))
            .filter(col("k") >= 90000L).select("k").as[Long]
            .collect().toSeq
          assert(seen.sorted == stagedKeys.takeWhile(_ <= k),
            s"mid-race audit drifted: $seen")
        }
        try {
          SnapshotStore.publishBranch(spark, dir, "soak")
          published.set(true)
        } catch {
          case e: IllegalStateException =>
            assert(e.getMessage.contains("main advanced"), e.getMessage)
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    (mains :+ brancher).foreach(_.start())
    (mains :+ brancher).foreach(_.join())
    assert(errors.isEmpty, s"soak errors: ${errors.toArray.toSeq}")
    // main-line content: every appended key exactly once
    import scala.jdk.CollectionConverters._
    val mainKeys = appended.iterator().asScala.toSet
    def headKeys() = SnapshotStore.read(spark, dir)
      .select("k").as[Long].collect().toSeq
    val hk = headKeys()
    assert(hk.size == hk.distinct.size, "duplicate rows on main")
    assert(mainKeys.subsetOf(hk.toSet), "main lost an appended key")
    if (published.get()) {
      assert(stagedKeys.toSet.subsetOf(hk.toSet),
        "published branch rows must be on the head")
    } else {
      // THE regression net for the staged-live-set fix: a zero-floor
      // keep=1 sweep with the branch still live must not touch its gens
      SnapshotStore.expire(spark, dir, keep = 1, minAgeMs = 0L)
      val audit = SnapshotStore.read(spark, dir, target = Dml.Branch("soak"))
        .filter(col("k") >= 90000L).select("k").as[Long].collect().toSeq
      assert(audit.sorted == stagedKeys,
        "staged rows must survive a zero-floor sweep while the branch lives")
      assert(SnapshotStore.dropBranch(spark, dir, "soak"))
    }
    // quiet-window WAP: re-branch from the settled head and publish
    val before = headKeys().toSet
    SnapshotStore.branchCreate(spark, dir, "quiet")
    SnapshotStore.append(
      Seq((99999L, "p0", 1.0)).toDF("k", "p", "v"), dir, "p",
      target = Dml.Branch("quiet"))
    SnapshotStore.publishBranch(spark, dir, "quiet")
    assert(headKeys().toSet == before + 99999L)
    quiescentSweep(dir)
  }

  test("seeded REBASE soak: the WAP loop survives a continuously-" +
    "ingesting main line with retention churn — the brancher stages a " +
    "disjoint-partition corpus, then loops publish-refused -> rebase -> " +
    "retry until it lands; fork manifests expire under it (the stored " +
    "fork snapshots carry the diffs); end state exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_soak_reb")
      .toString + "/st"
    SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appended = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val stagedKeys = (0 until 6).map(i => 95000L + i)
    val rebases = new java.util.concurrent.atomic.AtomicInteger(0)
    val mains = (0 until 2).map { w =>
      new Thread(() => {
        val r = new scala.util.Random(20260819 + w)
        try (0 until 8).foreach { i =>
          val k = (w + 1) * 1000L + i
          SnapshotStore.append(
            Seq((k, s"p${r.nextInt(4)}", i * 1.0)).toDF("k", "p", "v"),
            dir, "p", idempotencyKey = Some(s"reb-w$w-b$i"), maxRetries = 50)
          appended.add(k)
          // aggressive retention: fork manifests expire under the branch
          if (i % 2 == 1) SnapshotStore.expire(spark, dir, keep = 2)
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val brancher = new Thread(() => {
      try {
        SnapshotStore.branchCreate(spark, dir, "loop")
        stagedKeys.foreach { k =>
          // a partition DISJOINT from every main writer: rebase always
          // applies, publish races only on head movement
          SnapshotStore.append(
            Seq((k, "cand", k * 1.0)).toDF("k", "p", "v"),
            dir, "p", target = Dml.Branch("loop"))
        }
        // the WAP loop: publish; on "main advanced", rebase and retry
        var done = false
        var tries = 0
        while (!done && tries < 200) {
          tries += 1
          try { SnapshotStore.publishBranch(spark, dir, "loop"); done = true }
          catch {
            case e: IllegalStateException
              if e.getMessage.contains("main advanced") =>
              SnapshotStore.rebaseBranch(spark, dir, "loop")
              rebases.incrementAndGet()
          }
        }
        assert(done, s"publish never landed after $tries attempts")
      } catch { case t: Throwable => errors.add(t) }
    })
    (mains :+ brancher).foreach(_.start())
    (mains :+ brancher).foreach(_.join())
    assert(errors.isEmpty, s"soak errors: ${errors.toArray.toSeq}")
    import scala.jdk.CollectionConverters._
    val hk = SnapshotStore.read(spark, dir)
      .select("k").as[Long].collect().toSeq
    assert(hk.size == hk.distinct.size, "duplicate rows after the loop")
    assert(appended.iterator().asScala.toSet.subsetOf(hk.toSet),
      "main lost an appended key")
    assert(stagedKeys.toSet.subsetOf(hk.toSet),
      "the published corpus must be on the head, exactly once")
    assert(SnapshotStore.branches(spark, dir).isEmpty,
      "publish retires the branch")
    quiescentSweep(dir)
  }

  test("seeded rollback-mix soak: structural invariants hold under " +
    "concurrent rollbacks, and a final rollback to v1 restores the base") {
    val dir = java.nio.file.Files.createTempDirectory("graft_soak_rb")
      .toString + "/st"
    val nWriters = 3
    val opsPer = 8
    val seed = 20260816
    SnapshotStore.write(base.toDF("k", "p", "v"), dir, "p")

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until nWriters).map { w =>
      new Thread(() => {
        val r = new scala.util.Random(seed + w)
        try {
          (0 until opsPer).foreach { i =>
            r.nextInt(4) match {
              case 0 =>
                SnapshotStore.append(
                  Seq(((w + 1) * 1000L + i, s"p${r.nextInt(4)}", i * 1.0))
                    .toDF("k", "p", "v"),
                  dir, "p", idempotencyKey = Some(s"w$w-b$i"),
                  maxRetries = 50)
              case 1 =>
                SnapshotStore.withCasRetry(50)(SnapshotStore.merge(spark, dir,
                  Seq((w.toLong, s"p$w", i * 10.0 + w)).toDF("k", "p", "v"),
                  "p", Seq("k")))
              case 2 => // roll back to a RECENT version (within the head's
                // last 3) — concurrent commits only grow head, so the
                // target stays <= head; a lost CAS is a documented re-call
                val head = SnapshotStore.headVersion(spark, dir).get
                val to = math.max(1, head - r.nextInt(3))
                try SnapshotStore.rollback(spark, dir, to)
                catch { case _: java.util.ConcurrentModificationException => }
              case 3 =>
                try SnapshotStore.compactPartitions(spark, dir, "p")
                catch { case _: java.util.ConcurrentModificationException => }
            }
            // no expire in this mix: rollback past the retention window is
            // documented-unsupported (as in Iceberg), so the soak exercises
            // the supported composition
          }
        } catch { case t: Throwable => errors.add(t) }
      }, s"soak-rb-writer-$w")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(600000))
    assert(errors.isEmpty, {
      val sw = new java.io.StringWriter
      errors.forEach(_.printStackTrace(new java.io.PrintWriter(sw)))
      s"rollback soak writers threw:\n$sw"
    })

    // rollbacks interleaving with merges make head content schedule-
    // dependent; what must STILL hold is structural consistency...
    assertStructure(dir)
    retainedVersions(dir).foreach { v =>
      assert(schemaFields(dir, v).isDefined,
        s"retained v$v has no parseable _schema file")
    }
    // ...and the deterministic closer: v1 was never expired (no expire in
    // the mix), so rolling back to it must restore the base EXACTLY —
    // whatever the interleaving did in between
    SnapshotStore.rollback(spark, dir, 1)
    assert(headMap(dir) == base.map(r => r._1 -> (r._2, r._3)).toMap,
      "rollback to v1 did not restore the base")
    quiescentSweep(dir)
    assert(headMap(dir) == base.map(r => r._1 -> (r._2, r._3)).toMap,
      "final sweep changed rolled-back head content")
  }
}
