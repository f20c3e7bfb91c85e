package graft.storage

import org.apache.spark.sql.SparkSession

/** The [[SnapshotStore]]'s BRANCH layer — write-audit-publish (WAP), the
  * shape every training-data team runs: stage candidate commits on a
  * named branch, validate them (profile / filter report / dedup audit),
  * then FAST-FORWARD publish to the main head in one atomic commit — or
  * drop the branch and nothing ever happened. The Iceberg WAP/audit-
  * branch idea (a public concept), re-derived on the store's own
  * primitives.
  *
  * ==Verbs==
  * The store's data verbs — [[SnapshotStore.append]], `merge`, `dml`,
  * `read`, `readWhere`, `countWhere` — take a [[Dml.Branch]] target and
  * run their head bodies over the staged tip ([[Resolved]]), committing
  * through [[stageNext]]. This object keeps the staged representation
  * and the lifecycle verbs with no head twin: [[create]], [[rebase]],
  * [[publish]], [[drop]], [[expireBranches]].
  *
  * ==Representation: staged manifests==
  * A branch is a chain of SELF-CONTAINED staged files
  * `_staged-<name>-<k>` (k = the branch's own version counter), each
  * carrying the fork-point BASE version, the branch's schema JSON, its
  * rename mapping, and a FLAT manifest of `value TAB dirs` entries.
  * Branch writes append real gen dirs into the store's own `data/`
  * (same [[SnapshotStore.writeGen]], same stats blobs, same orphan-sweep
  * lifecycle), so a branch gen is bit-identical to the gen the same
  * batch would produce on main — publish re-points metadata, never
  * rewrites data. Staged files publish through the same single-winner
  * CAS as every commit: two concurrent writers of branch version k+1 get
  * exactly one winner (the loser retries against the new tip).
  *
  * ==Publish = fast-forward, enforced by the manifest CAS==
  * [[publish]] commits the branch tip's entries as `_manifest-<base+1>`.
  * If main advanced past the fork point, that manifest name is taken and
  * the CAS loses — surfacing the exact Iceberg fast-forward contract
  * ("publish only if main has not moved") with no extra coordination
  * machinery. The staged chain is deleted after a successful publish;
  * after a refusal, [[rebase]] re-points the chain onto the new head
  * (metadata-only, disjoint-partitions contract) and publish retries —
  * the loop that makes WAP usable under a continuously-ingesting main
  * line.
  *
  * ==Retention interplay==
  * Gens referenced ONLY by staged files must survive [[SnapshotStore
  * .expire]]: the sweep resolves every branch tip into its live set
  * (see [[SnapshotRetention]]). The fork-point VERSION may expire
  * freely — staged files are self-contained (schema, renames, entries),
  * so a branch outliving its base still reads and publishes. An
  * abandoned branch holds its gens live until [[drop]] (or the
  * operator-invoked, off-by-default [[expireBranches]] age sweep)
  * releases them to the orphan sweep; the `'branches'` catalog surfaces
  * each branch's created/last-written clocks so the abandonment is
  * VISIBLE first.
  *
  * ==Scale posture==
  * Staged manifests are FLAT by design: branch staging is the human-
  * gated candidate path, not the high-rate ingest path, and a WAP batch
  * is audited before anything depends on it. A branch append on an
  * N-partition store therefore pays one O(N) serialize (vs main-line
  * append's O(batch) segment delta); [[publish]] hands the entries to
  * [[SnapshotStore.commit]], which re-segments above the threshold, so
  * the MAIN line never inherits the flat cost.
  */
private[storage] object SnapshotBranch {

  import SnapshotFormat._

  private val Esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  private def hfs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private val Marker = "graft-staged"
  private val RenMarker = "renames"
  private val ManMarker = "manifest"
  private val BaseMarker = "base"

  private def escName(name: String): String = {
    require(name.nonEmpty && !name.exists(c => c <= ' ' || c == '/' ||
      c == '\\'),
      s"branch name '$name' must be non-empty without spaces, control " +
        "characters or path separators")
    Esc.escapePathName(name)
  }

  private def stagedPath(path: String, name: String, k: Int) =
    new org.apache.hadoop.fs.Path(path, s"_staged-${escName(name)}-$k")

  /** One staged branch version. `baseEntries` is the FORK VERSION's full
    * entry map, written only by [[rebase]] (whose new fork may expire
    * before the next rebase needs to diff against it — the snapshot keeps
    * the chain self-contained); [[create]]'s version 0 needs none (its
    * `entries` ARE the fork snapshot). `createdMs`/`modifiedMs` are the
    * branch's birth and last-write wall clocks (grammar v2, r15) — the
    * lifecycle data [[expireBranches]] and the `'branches'` catalog
    * surface; pre-r15 staged files parse as 0 (no timestamp = age
    * unprovable = never age-expired from the header alone).
    */
  private[storage] case class Staged(base: Int, k: Int,
      schema: org.apache.spark.sql.types.StructType,
      renames: Map[String, String],
      entries: Map[String, Seq[String]],
      baseEntries: Option[Map[String, Seq[String]]] = None,
      createdMs: Long = 0L, modifiedMs: Long = 0L)

  /** The branch's newest staged version, if the branch exists. */
  private[storage] def tipOf(spark: SparkSession, path: String,
                             name: String): Option[Int] = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return None
    val prefix = s"_staged-${escName(name)}-"
    val ks = fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
        n.stripPrefix(prefix).forall(_.isDigit) =>
        n.stripPrefix(prefix).toInt }
    if (ks.isEmpty) None else Some(ks.max)
  }

  /** Every branch tip at the store — (name, tip) — for the retention
    * sweep and the catalog.
    */
  private[storage] def allTips(spark: SparkSession,
                               path: String): Map[String, Int] = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("_staged-") && !n.endsWith(".tmp"))
      .flatMap { n =>
        val body = n.stripPrefix("_staged-")
        val dash = body.lastIndexOf('-')
        if (dash <= 0 || !body.substring(dash + 1).forall(_.isDigit)) None
        else Some(Esc.unescapePathName(body.substring(0, dash)) ->
          body.substring(dash + 1).toInt)
      }
      .groupBy(_._1).map { case (n, ks) => n -> ks.map(_._2).max }
  }

  /** Every dir referenced by ANY staged file at the store — the retention
    * sweep's branch-protection input. EVERY staged version contributes,
    * not just tips: a branch merge REPLACES touched partitions' staged
    * dirs, so a gen referenced only by a pre-merge staged version would
    * fall out of a tips-only live set while the chain (and time travel over
    * it via lower-k reads) still exists. A staged file that VANISHES
    * between the listing and its read was dropped or published by a
    * concurrent actor — it protects nothing, by that actor's own
    * contract. Anything else (a malformed staged file, a transient IO
    * error) stays LOUD: mapping it to "no branch" would sweep a live
    * branch's unpublished gens on a read hiccup.
    */
  private[storage] def allStagedDirs(spark: SparkSession,
                                     path: String): Seq[String] = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("_staged-") && !n.endsWith(".tmp") &&
          n.lastIndexOf('-') > "_staged-".length - 1 &&
          n.substring(n.lastIndexOf('-') + 1).forall(_.isDigit)
      }
      .toSeq.flatMap { p =>
        try parse(readFileUtf8(fs, p), p.toString).entries.values.flatten
        catch {
          case _: java.io.FileNotFoundException => Nil
        }
      }
  }

  private def serialize(st: Staged): String = {
    val sb = new StringBuilder
    sb.append(s"$Marker\t${st.base}\t${st.k}\t${st.createdMs}\t" +
      s"${st.modifiedMs}\n")
    sb.append(st.schema.json).append('\n')
    sb.append(RenMarker).append('\n')
    st.renames.toSeq.sortBy(_._1).foreach { case (p, l) =>
      sb.append(Esc.escapePathName(p)).append('\t')
        .append(Esc.escapePathName(l)).append('\n')
    }
    sb.append(ManMarker).append('\n')
    sb.append(serializeEntries(st.entries))
    // the fork snapshot section (rebase-written): marker line is
    // control-char-prefixed like every section marker, and manifest
    // entry lines always carry a TAB, so the marker cannot be forged
    st.baseEntries.foreach { b =>
      sb.append('\n').append(BaseMarker).append('\n')
      sb.append(serializeEntries(b))
    }
    sb.toString
  }

  private def parse(txt: String, src: String): Staged = {
    val renIdx = txt.indexOf(s"\n$RenMarker\n")
    val manIdx = txt.indexOf(s"\n$ManMarker\n")
    require(txt.startsWith(Marker + "\t") && renIdx > 0 && manIdx > renIdx,
      s"malformed staged branch file $src")
    val headLines = txt.substring(0, renIdx).split("\n")
    val h = headLines(0).split("\t")
    // grammar v1 (pre-r15): base TAB k; v2 adds createdMs TAB modifiedMs
    require((h.length == 3 || h.length == 5) && headLines.length == 2,
      s"malformed staged branch header in $src")
    val (created, modified) =
      if (h.length == 5) (h(3).toLong, h(4).toLong) else (0L, 0L)
    val schema = org.apache.spark.sql.types.DataType.fromJson(headLines(1))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // an empty renames section ends on the SAME '\n' the manifest marker
    // starts on — begin would cross end
    val renStart = renIdx + RenMarker.length + 2
    val renames = (if (renStart >= manIdx) ""
                   else txt.substring(renStart, manIdx))
      .split("\n").filter(_.nonEmpty).map { line =>
        val f = line.split("\t")
        require(f.length == 2, s"malformed staged rename line in $src")
        Esc.unescapePathName(f(0)) -> Esc.unescapePathName(f(1))
      }.toMap
    val baseIdx = txt.indexOf(s"\n$BaseMarker\n", manIdx + 1)
    val manEnd = if (baseIdx < 0) txt.length else baseIdx
    val entries = parseLines(
      txt.substring(manIdx + ManMarker.length + 2, manEnd), src)
    val baseEntries =
      if (baseIdx < 0) None
      else Some(parseLines(
        txt.substring(baseIdx + BaseMarker.length + 2), src))
    Staged(h(1).toInt, h(2).toInt, schema, renames, entries,
      baseEntries, created, modified)
  }

  private[storage] def readStaged(spark: SparkSession, path: String,
                                  name: String): Staged = {
    val k = tipOf(spark, path, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $path"))
    val p = stagedPath(path, name, k)
    parse(readFileUtf8(hfs(spark, path), p), p.toString)
  }

  private def writeStaged(spark: SparkSession, path: String,
                          name: String, st: Staged): Unit = {
    val fs = hfs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path,
      s"._staged.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(serialize(st).getBytes("UTF-8")) finally out.close()
    try SnapshotStore.publishFile(spark, path, tmp,
      stagedPath(path, name, st.k))
    catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.io.IOException) =>
        if (!fs.exists(stagedPath(path, name, st.k))) throw e
        fs.delete(tmp, false)
        throw new java.util.ConcurrentModificationException(
          s"branch '$name' at $path advanced concurrently (staged " +
            s"version ${st.k} already published); re-read the tip and retry",
          e)
    }
  }

  /** Stages `entries` under `schema` as the branch's NEXT version (k+1
    * over the tip the caller read) — the commit step of every verb run
    * with a [[Dml.Branch]] target ([[Resolved]]): renames carry, the birth
    * clock carries, the write clock advances. The fork snapshot does NOT
    * ride along (it would double the deliberately-flat staged serialize;
    * [[forkSnapshot]] chain-walks to the segment start instead). Two
    * writers of version k+1 get one winner; the loser's
    * `ConcurrentModificationException` re-runs the verb against the new
    * tip.
    */
  private[storage] def stageNext(spark: SparkSession, path: String,
      name: String, tip: Staged, entries: Map[String, Seq[String]],
      schema: org.apache.spark.sql.types.StructType): Unit =
    writeStaged(spark, path, name, Staged(tip.base, tip.k + 1,
      schema, tip.renames, entries,
      createdMs = tip.createdMs,
      modifiedMs = System.currentTimeMillis()))

  /** Creates branch `name` forked from the CURRENT head: staged version 0
    * is the head's full entry map (segment-aware resolve, flat staged
    * serialization) plus its schema and renames — self-contained from
    * birth. Racing creators of one name get exactly one winner.
    */
  private[storage] def create(spark: SparkSession, path: String,
                              name: String): Unit = {
    SnapshotStore.requireAtomicRename(path)
    require(tipOf(spark, path, name).isEmpty,
      s"branch '$name' already exists at $path")
    val head = SnapshotStore.headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val now = System.currentTimeMillis()
    writeStaged(spark, path, name, Staged(head, 0,
      SnapshotStore.versionSchema(spark, path, head),
      SnapshotStore.readRenames(spark, path, head),
      readManifest(spark, path, head),
      createdMs = now, modifiedMs = now))
  }

  /** The FORK VERSION's full entry map for the chain segment `st` sits
    * on — the diff base [[rebase]] needs. Resolution walks the chain
    * UPWARD to the segment start (the smallest k whose base equals the
    * tip's): [[create]]'s version 0 IS the fork snapshot (its entries
    * are the head's full map, untouched by later appends), and a
    * [[rebase]]-written segment start carries the snapshot explicitly
    * in its `base` section. Vanished files skip; a chain with no segment
    * start degrades to reading `_manifest-<base>` directly — loud if
    * retention already swept it ("re-create the branch" is then the
    * honest answer).
    */
  private def forkSnapshot(spark: SparkSession, path: String,
                           st: Staged, name: String)
      : Map[String, Seq[String]] = {
    val fs = hfs(spark, path)
    val prefix = s"_staged-${escName(name)}-"
    val root = new org.apache.hadoop.fs.Path(path)
    val ks = fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
        n.stripPrefix(prefix).forall(_.isDigit) =>
        n.stripPrefix(prefix).toInt }.sorted
    ks.foreach { k =>
      val p = stagedPath(path, name, k)
      val cand =
        try Some(parse(readFileUtf8(fs, p), p.toString))
        catch { case _: java.io.FileNotFoundException => None } // dropped
      cand.filter(_.base == st.base).foreach { c =>
        if (c.k == 0) return c.entries // create: entries ARE the snapshot
        c.baseEntries.foreach(return _) // rebase-written segment start
        // rebase is the only base-mover and always writes a snapshot, so
        // reaching here means a mid-chain file whose segment start
        // vanished; fall through to the manifest as a last resort
      }
    }
    try readManifest(spark, path, st.base)
    catch {
      case e: IllegalArgumentException if versionVanished(e) =>
        throw new IllegalStateException(
          s"cannot rebase branch '$name' at $path: fork version " +
            s"${st.base} expired and no staged fork snapshot exists — " +
            "re-create the branch from the current head", e)
    }
  }

  /** REBASE: re-points the staged chain's fork base to the CURRENT head,
    * so a publish can land under a continuously-ingesting main line —
    * without it, every audit window longer than main's commit interval
    * ends in a refused publish whose only recovery is re-staging the
    * whole candidate corpus. A pure METADATA rewrite (staged files
    * record exactly which gens the branch added; no gen is rewritten):
    * the new tip is the head's entry map with the branch's touched
    * partitions re-applied, the head's schema/renames unioned in (main's
    * widenings and renames win — physical names are stable, so branch
    * gens read correctly under them).
    *
    * Sound ONLY when the branch's touched partitions are DISJOINT from
    * every partition main changed since the fork (both diffed against
    * the fork snapshot, textually — dir lists and stats blobs are
    * deterministic): an overlap means the branch staged against content
    * main has since replaced, and is REFUSED loudly naming the
    * conflicting partitions (resolve by re-staging those partitions or
    * re-creating the branch). Returns the new fork base. A main commit
    * landing AFTER the head read surfaces as the next publish/rebase
    * refusal — the same two-unsynchronized-actors posture as every
    * store verb.
    */
  private[storage] def rebase(spark: SparkSession, path: String,
                              name: String): Int = {
    SnapshotStore.requireAtomicRename(path)
    SnapshotStore.withCasRetry()(rebaseOnce(spark, path, name))
  }

  private def rebaseOnce(spark: SparkSession, path: String,
                         name: String): Int = {
    val st = readStaged(spark, path, name)
    val head = SnapshotStore.headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    if (head == st.base) return head // nothing to rebase onto
    require(head > st.base,
      s"head $head behind fork ${st.base} at $path — versions are " +
        "monotonic; this store is corrupt")
    val fork = forkSnapshot(spark, path, st, name)
    val headEntries = readManifest(spark, path, head)
    def touched(a: Map[String, Seq[String]],
                b: Map[String, Seq[String]]): Set[String] =
      (a.keySet ++ b.keySet).filter(p => a.get(p) != b.get(p))
    val branchTouched = touched(st.entries, fork)
    val mainTouched = touched(headEntries, fork)
    val overlap = branchTouched & mainTouched
    if (overlap.nonEmpty)
      throw new IllegalStateException(
        s"cannot rebase branch '$name' at $path: partitions changed by " +
          s"BOTH the branch and main since fork version ${st.base}: " +
          overlap.toSeq.sorted.take(10).mkString("'", "', '", "'") +
          (if (overlap.size > 10) s" (+${overlap.size - 10} more)"
           else "") +
          " — re-stage those partitions against the new head or " +
          "re-create the branch")
    val rebased = (headEntries -- branchTouched) ++
      st.entries.filter { case (p, _) => branchTouched(p) }
    writeStaged(spark, path, name, Staged(head, st.k + 1,
      SnapshotStore.unionSchema(
        SnapshotStore.versionSchema(spark, path, head), st.schema),
      SnapshotStore.readRenames(spark, path, head),
      rebased, baseEntries = Some(headEntries),
      createdMs = st.createdMs,
      modifiedMs = System.currentTimeMillis()))
    head
  }

  /** FAST-FORWARD publish: commits the branch tip as version base+1 on
    * the main line and deletes the staged chain. A main head that moved
    * past the fork point makes the manifest CAS lose — surfaced as the
    * WAP refusal ("re-branch from the new head"), never a silent
    * overwrite. Returns the published version.
    */
  private[storage] def publish(spark: SparkSession, path: String,
                               name: String): Int = {
    SnapshotStore.requireAtomicRename(path)
    val st = readStaged(spark, path, name)
    val target = st.base + 1
    // the fast-forward guard must NOT rest on the manifest CAS alone: if
    // main advanced more than `keep` versions past the fork and expire()
    // already deleted _manifest-<base+1>, the CAS would WIN into an
    // expired mid-history slot — a "published" branch whose data never
    // reaches the head and whose manifest the next sweep deletes. Pin the
    // head to the fork version first; the CAS still covers the residual
    // head-advance race while the successor manifest exists inside the
    // keep window.
    val head = SnapshotStore.headVersion(spark, path)
    if (!head.contains(st.base))
      throw new IllegalStateException(
        s"cannot fast-forward branch '$name' at $path: main advanced " +
          s"past the fork point (version ${st.base}, head now " +
          s"${head.getOrElse(-1)}); rebase the branch onto the new head " +
          "or re-create it")
    // CHECK constraints added AFTER the rows were staged still gate the
    // publish: "anything stageable is publishable" only holds for the
    // constraint set in force at stage time, and a WAP branch can sit
    // staged for days. The probe is the same stats-pruned verdict pass
    // the audit count rides — conforming data usually REFUTES the
    // violation predicate from the staged blobs alone (bounds prove
    // compliance), so the common publish scans nothing.
    requireTipSatisfiesConstraints(spark, path, name)
    try SnapshotStore.commit(spark, path, target, st.entries, Nil,
      Some(st.schema), st.renames, op = "publish_branch")
    catch {
      case e: java.util.ConcurrentModificationException =>
        throw new IllegalStateException(
          s"cannot fast-forward branch '$name' at $path: main advanced " +
            s"past the fork point (version ${st.base}); rebase the " +
            "branch onto the new head or re-create it", e)
    }
    drop(spark, path, name)
    target
  }

  /** Publish-time constraint gate (see [[publish]]): every current
    * constraint must hold on the branch TIP. The primary path is the
    * stats-pruned [[SnapshotStore.countWhere]] over the violation
    * predicate (zero files opened when staged bounds refute it); a
    * predicate that cannot resolve against the tip's schema (it
    * references a column the branch never carried — NULL under the union
    * schema, where CHECK passes by SQL semantics) falls back to the
    * padded batch gate [[SnapshotConstraints.enforce]] over the tip read.
    */
  private def requireTipSatisfiesConstraints(spark: SparkSession,
      path: String, name: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val cs = SnapshotConstraints.all(spark, path)
    if (cs.isEmpty) return
    val tip = Dml.Branch(name)
    cs.toSeq.sortBy(_._1).foreach { case (n, p) =>
      val probe =
        try Left(SnapshotStore.countWhere(spark, path,
          not(coalesce(expr(p), lit(true))), target = tip))
        catch { case _: org.apache.spark.sql.AnalysisException => Right(()) }
      probe match {
        case Left(viol) =>
          if (viol > 0L)
            throw new IllegalArgumentException(
              s"publish of branch '$name' to $path refused: constraint " +
                s"'$n' CHECK ($p) was added after the rows were staged " +
                s"and the branch tip violates it ($viol rows) — fix the " +
                "candidate (branch DML / re-stage) or drop the constraint")
        case Right(_) =>
          SnapshotConstraints.enforce(spark, path,
            SnapshotStore.read(spark, path, target = tip),
            s"publish of branch '$name'")
      }
    }
  }

  /** The WAP publish LOOP as one verb: publish; on the fast-forward
    * refusal, [[rebase]] onto the new head and retry — bounded by
    * `maxRebases` so a main line outrunning the loop surfaces instead of
    * spinning forever. A rebase OVERLAP refusal propagates immediately
    * (no retry can fix a genuine conflict). This is exactly the recovery
    * the seeded REBASE soak drives by hand; exposing it as a verb means
    * an operator's publish under a live main line is one call, not a
    * retry loop they each rewrite.
    */
  private[storage] def publishRebased(spark: SparkSession, path: String,
                                      name: String,
                                      maxRebases: Int = 20): Int = {
    require(maxRebases >= 0, s"maxRebases must be >= 0, got $maxRebases")
    var attempt = 0
    while (true) {
      try return publish(spark, path, name)
      catch {
        case e: IllegalStateException
          if e.getMessage != null && e.getMessage.contains("main advanced") =>
          attempt += 1
          if (attempt > maxRebases) throw new IllegalStateException(
            s"branch '$name' at $path could not fast-forward after " +
              s"$maxRebases rebases — main is outrunning the publish " +
              "loop; quiesce the writers or raise maxRebases", e)
          rebase(spark, path, name)
      }
    }
    -1 // unreachable
  }

  /** Deletes the branch's staged chain. Its gens lose their last
    * reference and age out under the orphan sweep's floor (never
    * immediately — a racing reader of the tip stays safe).
    */
  private[storage] def drop(spark: SparkSession, path: String,
                            name: String): Boolean = {
    val fs = hfs(spark, path)
    val prefix = s"_staged-${escName(name)}-"
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return false
    val files = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        p.getName.stripPrefix(prefix).forall(_.isDigit))
    // newest-first: a concurrent tip reader that already resolved k can
    // still open it while older staged files disappear behind it
    files.sortBy(-_.getName.stripPrefix(prefix).toInt)
      .foreach(fs.delete(_, false))
    files.nonEmpty
  }

  /** One `'branches'` catalog row: tip counter, fork base, and the
    * lifecycle wall clocks (0 on pre-r15 staged files).
    */
  private[storage] case class BranchInfo(name: String, tip: Int, base: Int,
                                         createdMs: Long, modifiedMs: Long)

  /** The branch catalog with lifecycle data — what an operator needs to
    * SEE an abandoned staging branch before it pins a candidate corpus
    * out of the orphan sweep forever. A branch vanishing mid-listing
    * (concurrent drop/publish) is simply absent.
    */
  private[storage] def infos(spark: SparkSession,
                             path: String): Seq[BranchInfo] =
    allTips(spark, path).keys.toSeq.sorted.flatMap { n =>
      try {
        val st = readStaged(spark, path, n)
        Some(BranchInfo(n, st.k, st.base, st.createdMs, st.modifiedMs))
      } catch {
        case _: java.io.FileNotFoundException => None
        case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("no branch") =>
          None
      }
    }

  /** Drops every branch whose last write is older than `olderThanMs` —
    * the age-based lifecycle sweep (OFF by default: nothing calls this
    * unless an operator does). The age basis is the tip's recorded
    * `modifiedMs`; a pre-r15 staged file without one falls back to the
    * tip FILE's mtime (a plain file — trustworthy even on object
    * stores). Returns the dropped names; their gens age out under the
    * next orphan sweep exactly as a manual [[drop]]. An append RACING
    * the sweep may land its staged k+1 after the chain was deleted —
    * the branch RESURRECTS whole (staged files are self-contained and
    * the append refreshed `modifiedMs`, so the next sweep leaves it
    * alone until it idles again): the race degrades to "not expired
    * this pass", never to a torn branch.
    */
  private[storage] def expireBranches(spark: SparkSession, path: String,
                                      olderThanMs: Long): Seq[String] = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    val fs = hfs(spark, path)
    val now = System.currentTimeMillis()
    allTips(spark, path).toSeq.sortBy(_._1).filter { case (n, k) =>
      val aged =
        try {
          val st = readStaged(spark, path, n)
          val basis =
            if (st.modifiedMs > 0) st.modifiedMs
            else fs.getFileStatus(stagedPath(path, n, k))
              .getModificationTime
          now - basis >= olderThanMs
        } catch { // vanished under a concurrent drop/publish: nothing to do
          case _: java.io.FileNotFoundException => false
          case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("no branch") =>
            false
        }
      aged && drop(spark, path, n)
    }.map(_._1)
  }
}
