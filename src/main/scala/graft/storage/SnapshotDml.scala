package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.{coalesce, col, collect_set, lit, not,
  when}

/** The [[SnapshotStore]]'s predicate-DML layer — `DELETE ... WHERE` and
  * `UPDATE ... SET ... WHERE` as store verbs (the Delta/Iceberg
  * copy-on-write DML shape, a public concept re-derived on the store's
  * own primitives). [[SnapshotStore.merge]] already covers KEYED
  * mutation (a CDC batch that names its rows); these cover the
  * predicate-driven operations a corpus operator actually types —
  * "purge the bad crawl date", "redact the flagged source", the
  * right-to-be-forgotten delete — where enumerating keys first would
  * mean a full scan just to build the batch.
  *
  * Scale story (the reason this is a store verb and not
  * `read().filter().overwrite()`): the tri-state stats evaluator
  * ([[SnapshotStore.evalPrune]]) runs per manifest FIELD — one
  * (partition, gen) slice — BEFORE any file is listed:
  *
  *  - NoMatch slices (provably zero matching rows) are untouched: their
  *    manifest fields copy forward verbatim, stats blob and all, and
  *    their files are never opened. A date-ranged delete over an
  *    append-heavy 100 TB store rewrites the two gens that overlap the
  *    range, not the partition.
  *  - AllMatch slices (provably EVERY row matches — three-valued logic
  *    priced in: comparisons require a recorded null count of zero) are
  *    DELETED as pure metadata: the field leaves the manifest, no file
  *    is read or written (Iceberg's "metadata delete"). A gen-aligned
  *    purge commits in manifest-rewrite time regardless of data size.
  *  - Ambiguous MULTI-FILE slices split at FILE grain (r16): the same
  *    tri-state verdict re-runs per file from parquet footers
  *    ([[SnapshotFileStats]]) — NoMatch files re-enter the manifest as
  *    first-class FILE fields with footer-derived blobs (never opened),
  *    AllMatch files drop as metadata (delete), and only genuinely
  *    ambiguous FILES pay the rewrite. One needle row in a 20-file
  *    slice rewrites one file, not the slice — Iceberg's per-file-stats
  *    rewrite scope, recovered lazily so the manifest stays gen-grained.
  *    A dropped file's bytes linger inside its (still-referenced) gen
  *    dir until compaction collapses the file fields — space, not
  *    correctness.
  *  - What remains pays copy-on-write: read, filtered/updated, rewritten
  *    as ONE fresh gen per partition (stats re-derived, declared sort
  *    applied), so repeated DML doubles as compaction of the touched
  *    slices.
  *
  * History is never rewritten: old versions keep referencing the old
  * gens (time travel sees pre-DML data until [[SnapshotStore.expire]]
  * ages them out — the GDPR caveat is the same as Delta's: a delete is
  * logical until retention physically drops the old files). The commit
  * goes through the same single-winner manifest CAS as every write, and
  * [[SnapshotStore.changes]] reconstructs the row-level delta of a DML
  * commit exactly like a merge's (replaced partition entries diff into
  * delete / update_pre+postimage rows).
  *
  * One verb, [[dml]], runs every combination of {delete, update} ×
  * {copy-on-write, merge-on-read} × {head, WAP branch} through one
  * pipeline — resolve → [[planDml]] → apply → commit — where each
  * step varies along one axis only: the resolve and the commit by
  * target, the read by mode (and target), the apply by op and mode.
  */
private[graft] object SnapshotDml {
  import SnapshotStore._
  import SnapshotFormat.{dirOf, statsOf, parseStats, StatsSep,
    dvOf, baseOf, withDv, DvRef}

  /** The shared DML planning pass over `entries`: the field-level
    * tri-state verdict with needle (bloom) demotion, then the r16
    * per-FILE split of ambiguous multi-file slices. `metadataDrop` is
    * delete's AllMatch-drops-as-metadata rule (update rewrites those
    * rows instead — their content changes). `ambByPart` holds every
    * path `rewrite` reads, by partition; `dropsIn` the partitions that
    * lost a field or a file as metadata.
    */
  private case class DmlPlan(removed: Set[String],
      keptByPart: Map[String, Seq[String]],
      fileKept: Map[String, Vector[String]],
      rewrite: Seq[String],
      ambByPart: Map[String, Seq[String]],
      dropsIn: Set[String],
      dropped: Int, kept: Int, keptFiles: Int, droppedFiles: Int) {
    def touched: Boolean = removed.nonEmpty
    /** The copy-on-write rebuild: the touched partitions' surviving
      * field lists (NoMatch fields and footer-kept files; the rewrite's
      * new gens fold in at commit). A partition with none left is absent.
      */
    def rebuild: Map[String, Seq[String]] =
      removed.flatMap { p =>
        val fields = keptByPart.getOrElse(p, Nil) ++
          fileKept.getOrElse(p, Vector.empty)
        if (fields.isEmpty) None else Some(p -> fields)
      }.toMap
  }

  private def planDml(spark: SparkSession, path: String,
      entries: Map[String, Seq[String]],
      expr: Expression,
      logicalToPhysical: Map[String, String],
      statsCols: Seq[String],
      physSchema: StructType,
      metadataDrop: Boolean,
      fileGrain: Boolean = true): DmlPlan = {
    // the needle pass serves DML's pruning too: a gen whose bloom filter
    // proves an equality probe absent holds no matching row — NoMatch,
    // copied forward verbatim ("delete THIS document id" rewrites the one
    // gen that holds it, not every gen whose k-range happens to overlap)
    val probes = SnapshotBloom.probesOf(expr, logicalToPhysical,
      SnapshotBloom.bloomColsOf(spark, path).toSet)
    // gen-level memo: sidecars are per-gen, so rejection is gen-uniform
    // and each gen's filters are read at most once
    val bloomMemo = scala.collection.mutable.Map.empty[String, Boolean]
    def bloomNoMatch(f: String): Boolean = probes.nonEmpty && {
      val dir = dirOf(f)
      bloomMemo.getOrElseUpdate(dir.split("/").lift(1).getOrElse(""),
        SnapshotBloom.prune(spark, path, Seq(dir), probes).isEmpty)
    }
    var dropped = 0
    var kept = 0
    val removed = Set.newBuilder[String]
    val keptByPart = Map.newBuilder[String, Seq[String]]
    val dropsIn = scala.collection.mutable.Set.empty[String]
    val ambiguous = Seq.newBuilder[(String, String)]
    entries.foreach { case (p, fields) =>
      val vs = fields.map { f =>
        val v0 = statsOf(f).map(b =>
          evalPrune(expr, parseStats(b), logicalToPhysical))
          .getOrElse(MightMatch)
        // needle demotion. (An AllMatch verdict cannot coexist with a
        // needle rejection on sound metadata — a rows>0 slice can't both
        // all-match an equality and lack its key — so the demotion is
        // unreachable for AllMatch; it stays on the conservative side,
        // keeping data, if metadata were ever wrong.)
        val v1 = if (v0 != NoMatch && bloomNoMatch(f)) NoMatch else v0
        // update has no metadata path: all-match rows still change
        f -> (if (v1 == AllMatch && !metadataDrop) MightMatch else v1)
      }
      if (vs.exists(_._2 != NoMatch)) {
        removed += p
        keptByPart += p -> vs.collect { case (f, NoMatch) => f }
        if (vs.exists(_._2 == AllMatch)) dropsIn += p
        ambiguous ++= vs.collect { case (f, MightMatch) => (p, f) }
        dropped += vs.count(_._2 == AllMatch)
        kept += vs.count(_._2 == NoMatch)
      }
    }
    // FILE-granular split of the ambiguous multi-file slices (object doc).
    // A deletion-vector'd field skips the split and rewrites WHOLE (read
    // through its DVs by the central reader): footer blobs describe the
    // files' physical rows, and re-entering a file as its own manifest
    // field would sever it from the DV suffix — resurrecting deleted
    // rows. The rewrite collapses the DV debt instead (the fresh gen is
    // clean, the old refs drop with the replaced field).
    val fileKept = scala.collection.mutable.Map.empty[String, Vector[String]]
    var keptFiles = 0
    var droppedFiles = 0
    val rewritePaths = Seq.newBuilder[String]
    val ambByPart = scala.collection.mutable.Map.empty[String, Vector[String]]
    def rewriteWhole(p: String, f: String): Unit = {
      rewritePaths += f
      ambByPart(p) = ambByPart.getOrElse(p, Vector.empty) :+ f
    }
    ambiguous.result().foreach { case (p, f) =>
      val dir = dirOf(f)
      if (!fileGrain || dir.endsWith(".parquet") || dvOf(f).nonEmpty)
        rewriteWhole(p, f)
      else {
        val blobs = SnapshotFileStats.fileBlobs(spark, path, dir,
          statsCols, physSchema)
        if (blobs.size <= 1) rewriteWhole(p, f)
        else blobs.foreach { case (fp, blob) =>
          blob.map(b => evalPrune(expr, parseStats(b), logicalToPhysical))
            .getOrElse(MightMatch) match {
            case NoMatch =>
              keptFiles += 1
              fileKept(p) = fileKept.getOrElse(p, Vector.empty) :+
                blob.map(b => s"$fp$StatsSep$b").getOrElse(fp)
            case AllMatch if metadataDrop =>
              droppedFiles += 1
              dropsIn += p
            case _ => rewriteWhole(p, fp)
          }
        }
      }
    }
    DmlPlan(removed.result(), keptByPart.result(), fileKept.toMap,
      rewritePaths.result().distinct.sorted,
      ambByPart.view.mapValues(_.toSeq).toMap, dropsIn.toSet,
      dropped, kept, keptFiles, droppedFiles)
  }

  /** Predicate DML: `op` applied to the rows satisfying `pred` on
    * `target`, paying for the ambiguous slices by `mode`, as ONE new
    * version (head) or staged version (branch). See the object doc for
    * the per-slice treatment (NoMatch kept, AllMatch dropped as metadata
    * by a delete, ambiguous slices pay).
    *
    * Ops:
    *  - [[Dml.Delete]]: rows where `pred` is TRUE leave; FALSE or NULL
    *    survive (SQL three-valued DELETE).
    *  - [[Dml.Update]]: matching rows get the assignments. Every RHS sees
    *    the PRE-update row (one `select`, not a chain of `withColumn` —
    *    `SET a = b, b = a` swaps) and casts to the column's existing
    *    logical type (UPDATE never evolves the schema); CHECK constraints
    *    gate the rows it changes. There is no metadata-only path — an
    *    update always writes the rows it changes. Assigning the
    *    partition column MOVES rows: the new images land in the
    *    partitions their new values key, appended to those partitions'
    *    fields (the same fold an era-migrated key takes).
    *
    * Modes:
    *  - [[Dml.CoW]]: the ambiguous slices — split to FILE grain first —
    *    are read, filtered or updated, and rewritten as one fresh gen
    *    per partition. A partition whose rewritten rows held no match
    *    (and that lost nothing as metadata) keeps its manifest fields
    *    verbatim; the write observes the matching files on the way.
    *  - [[Dml.MoR]] (deletion vectors — the Delta/Iceberg DV concept
    *    re-derived on the store's own manifest): the ambiguous slices are
    *    read ONCE (through any existing DVs), the matching rows'
    *    (file-key, row-index) pairs land in one parquet sidecar
    *    (`data/dv-<hex>`), and each touched field gains a DV ref carrying
    *    its exact deleted count (so the metadata COUNT stays exact: live
    *    = physical − DV'd). An update appends its new images as one fresh
    *    gen per touched partition (Delta's DV-based UPDATE shape). Write
    *    cost is proportional to the MATCHED rows, not the touched slices
    *    — the needle delete in a 10 GB slice writes kilobytes. The debt:
    *    every later read of a DV'd slice pays one anti-join against the
    *    (tiny) sidecar, and `minMaxWhere` stops serving the slice from
    *    metadata (its physical bounds may be attained only by deleted
    *    rows). [[SnapshotStore.compactPartitions]] is the debt collector
    *    — a DV'd partition qualifies regardless of dir count and rewrites
    *    clean; the sidecar is swept when no retained field references it.
    *
    * Targets:
    *  - [[Dml.Head]]: commits head + 1 through the manifest CAS. A lost
    *    CAS throws `ConcurrentModificationException`; wrap the call in
    *    [[SnapshotStore.withCasRetry]] to re-run it against the new head
    *    (the statement is predicate-relative, so a retry is exactly a
    *    re-run).
    *  - [[Dml.Branch]]: runs against the WAP branch TIP and stages the
    *    result as the branch's next version — the audit-fix loop ("the
    *    profile flagged these rows; purge them from the candidate and
    *    re-audit") without drop-and-restage. Main is never touched; a
    *    dropped branch releases the new gens and sidecars to the orphan
    *    sweep like any staged gen, and published fields carry their DV
    *    refs into main verbatim. The staged-CAS loser retries against
    *    the new tip (the branch-append discipline).
    *
    * Nothing changed — the predicate provably touches nothing, an
    * update's file split proved every ambiguous file NoMatch, or the
    * scan found no matching row and nothing dropped as metadata —
    * commits NO version and returns the prior version or tip.
    * `beforeCommit` is a test seam: a concurrent committer lands there.
    */
  def dml(spark: SparkSession, path: String, op: Dml.Op, pred: Column,
          target: Dml.Target, mode: Dml.Mode,
          beforeCommit: () => Unit): DmlReceipt = {
    requireAtomicRename(path)
    Resolved.retrying(target) {
      attempt(spark, path, op, pred, mode, beforeCommit,
        Resolved.of(spark, path, target))
    }
  }

  /** resolve → [[planDml]] → apply → commit over one resolved target. */
  private def attempt(spark: SparkSession, path: String, op: Dml.Op,
      pred: Column, mode: Dml.Mode,
      beforeCommit: () => Unit, st: Resolved): DmlReceipt = {
    val verb = st.verb("update")
    def physPartCol: String = partColOf(spark, path).getOrElse(
      throw new IllegalStateException(
        s"store at $path records no partition column"))
    op match {
      case Dml.Update(assignments) =>
        validateAssignments(assignments, st.logicalSchema, verb)
      case Dml.Delete =>
    }
    val isDelete = op == Dml.Delete
    val expr = analyzed(spark, st.logicalSchema, pred)
    val statsCols = statsColsOf(spark, path)
    // MoR skips the file-grain split: positions are finer than files, so
    // probing footers to shrink the slice buys nothing the sidecar doesn't
    val plan = planDml(spark, path, st.entries(st.logicalSchema, expr),
      verdictExpr(spark, path, st.renames, st.logicalSchema, expr),
      st.logicalToPhysical,
      statsCols, st.physSchema, metadataDrop = isDelete,
      fileGrain = mode == Dml.CoW)
    if (!plan.touched) return DmlReceipt(st.version, 0, 0, 0)
    // an update whose file split proved every ambiguous file NoMatch
    // changes nothing (a delete still drops its AllMatch slices or files)
    if (plan.rewrite.isEmpty && !isDelete)
      return DmlReceipt(st.version, 0, 0, plan.kept,
        keptFiles = plan.keptFiles)
    val hit = coalesce(pred, lit(false))
    def writeRows(df: DataFrame): Map[String, String] =
      writeGen(toPhysical(df, st.renames), path, physPartCol,
        statsCols = statsCols)
    // apply: (DV sidecar, per-file DV counts, new gen entries, touched
    // partitions the rewrite left unchanged)
    val (dvRel, counts, newEntries, quiet) = mode match {
      case _ if plan.rewrite.isEmpty => (None, Map.empty[String, Long],
        Map.empty[String, String], Set.empty[String])
      case Dml.CoW =>
        val (entries, quiet) = rewrite(spark, path, st, plan, op, hit,
          physPartCol, writeRows, verb)
        (None, Map.empty[String, Long], entries, quiet)
      case Dml.MoR =>
        val hits = applyRenames(readFieldsTagged(spark, path, plan.rewrite,
          Some(st.physSchema)), st.renames).filter(hit)
        op match {
          case Dml.Delete =>
            val (rel, n) = writeDv(spark, path, hits)
            (rel, n, Map.empty[String, String], Set.empty[String])
          case Dml.Update(assignments) =>
            hits.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val assigned = assignments.toMap
              val images = hits.select(
                st.logicalSchema.fieldNames.toSeq.map { c =>
                  assigned.get(c) match {
                    case Some(e) =>
                      e.cast(st.logicalSchema(c).dataType).as(c)
                    case None => col(c)
                  }
                }: _*)
              SnapshotConstraints.enforce(spark, path, images, verb)
              val (rel, n) = writeDv(spark, path, hits)
              (rel, n,
                if (n.isEmpty) Map.empty[String, String] else writeRows(images),
                Set.empty[String])
            } finally hits.unpersist()
        }
    }
    // CoW rebuilds every touched partition its rewrite changed around
    // that rewrite; MoR only the partitions something happened to
    // ([[annotate]])
    val (removed, rebuilt) = mode match {
      case Dml.CoW => (plan.removed -- quiet, plan.rebuild -- quiet)
      case Dml.MoR =>
        val annotated = annotate(plan, dvRel, counts)
        (annotated.keySet, annotated)
    }
    if (removed.isEmpty) // the scan refuted the stats: nothing matched
      return DmlReceipt(st.version, 0, 0, plan.kept,
        keptFiles = plan.keptFiles)
    beforeCommit()
    // foldNewEntries: a new gen's key may have MIGRATED eras under an
    // evolved partition spec — merge it into any untouched entry at that
    // key; single-spec stores hit the identity path
    val (removedF, addedF) = foldNewEntries(removed, rebuilt, newEntries,
      st.priorOf)
    st.commit(removedF, addedF, dvRel.toSeq ++ genDirsOf(newEntries),
      st.physSchema, if (isDelete) "delete" else "update")
    DmlReceipt(st.version + 1, plan.dropped,
      if (mode == Dml.CoW)
        plan.rewrite.size -
          quiet.toSeq.map(plan.ambByPart.getOrElse(_, Nil).size).sum
      else newEntries.size,
      plan.kept, plan.keptFiles, plan.droppedFiles,
      dvDirCount(counts), counts.values.sum)
  }

  /** The copy-on-write apply: `plan.rewrite` read with each row's
    * sidecar key, `op` applied, and ONE write of the result, which
    * observes the files holding a matching row. Returns the new gen's
    * entries and the QUIET partitions: touched, yet no rewritten row
    * matched and nothing left as metadata. A quiet partition changed
    * nothing, so its entry stays byte-identical and its freshly written
    * slice is deleted — what [[annotate]] gives a merge-on-read scan
    * that comes back clean. Decided only where every row lands back
    * under its own key (no assignment moves rows, one spec era) and the
    * observation ran (the optimizer prunes the observed node of an
    * input it proves empty).
    */
  private def rewrite(spark: SparkSession, path: String, st: Resolved,
      plan: DmlPlan, op: Dml.Op, hit: Column, physPartCol: String,
      writeRows: DataFrame => Map[String, String], verb: String)
      : (Map[String, String], Set[String]) = {
    val read = applyRenames(readFieldsTagged(spark, path, plan.rewrite,
      Some(st.physSchema)), st.renames).drop("_gi")
    val hitCol = Iterator.from(0).map(i => s"_graft_hit$i")
      .find(n => !read.columns.contains(n)).get
    // the hit flag is computed BELOW the observation: a delete's filter
    // above it could otherwise fold to a literal and prune the node
    val flagged = read.withColumn(hitCol, hit)
    val rows = op match {
      case Dml.Delete => flagged
      case Dml.Update(assignments) => applyAssignments(flagged, hitCol,
        assignments, st.logicalSchema, spark, path, verb)
    }
    val observation = org.apache.spark.sql.Observation()
    val observed = rows.observe(observation,
      collect_set(when(col(hitCol), col("_gk"))).as("hits"))
    val entries = writeRows((op match {
      case Dml.Delete => observed.filter(not(col(hitCol)))
      case _: Dml.Update => observed
    }).drop(hitCol, "_gk"))
    val moves = op match {
      case Dml.Update(assignments) =>
        val partComps = splitPartCols(logicalPartCol(physPartCol, st.renames))
        assignments.exists { case (c, _) => partComps.contains(c) }
      case Dml.Delete => false
    }
    val hits = observation.get.get("hits")
      .filter(_ => !moves && allPartSpecs(spark, path).size <= 1)
      .map(_.asInstanceOf[scala.collection.Seq[String]]
        .map(k => fileKeyOf(k) -> 1L).toMap)
    val quiet = hits.fold(Set.empty[String])(h => plan.removed.filter(p =>
      !plan.dropsIn(p) &&
        plan.ambByPart.getOrElse(p, Nil).forall(dvCountFor(h, _) == 0L)))
    if (quiet.nonEmpty) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        spark.sparkContext.hadoopConfiguration)
      val discard =
        if ((entries.keySet -- quiet).isEmpty) genDirsOf(entries)
        else entries.view.filterKeys(quiet).values.map(dirOf).toSeq
      discard.foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
    }
    (entries -- quiet, quiet)
  }

  /** A sidecar key (`<gen>/_p=<frag>/<file>`, the frag URI-encoded as
    * `_metadata.file_path` spells it) as the manifest's FILE field text.
    */
  private def fileKeyOf(gk: String): String = {
    val segs = gk.split("/", 3)
    require(segs.length == 3, s"malformed sidecar key '$gk'")
    s"data/${segs(0)}/${SnapshotStore.pctDecode(segs(1))}/${segs(2)}"
  }

  /** Writes `hits`' (file-key, row-index) pairs as ONE deletion-vector
    * sidecar dir and returns (its store-relative path, per-FILE deleted
    * counts keyed like the manifest's file fields). Zero hits: the empty
    * dir is removed and nothing is referenced. The counts read back from
    * the just-written (page-hot) sidecar under the schema it was written
    * with — no recompute of `hits`, no schema-inference job.
    */
  private[storage] def writeDv(spark: SparkSession, path: String,
      hits: DataFrame): (Option[String], Map[String, Long]) = {
    val rel = "data/dv-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val dv = hits.select(col("_gk"), col("_gi"))
    dv.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/$rel")
    // counts are keyed per FILE (`data/<gen>/<frag>/<file>`), not per
    // dir: manifests may hold FILE-grain fields (a prior copy-on-write's
    // file split re-enters kept files as first-class fields), and a
    // dir-keyed count would never match their `dirOf` — the positions
    // would sit recorded in the sidecar while annotate() left the field
    // un-annotated, silently resurrecting the "deleted" rows. Every
    // segment rides straight out of `_gk`: `<gen>/_p=<frag>/<file>`,
    // where gen and file are writer-generated names and the FRAGMENT is
    // the on-disk dir name URI-encoded by `_metadata.file_path` —
    // percent-decoding it (r17) recovers the exact manifest frag for ANY
    // partition value and ANY spec era (the previous value-rebuild
    // derived the frag from the CURRENT spec's columns, which would
    // mis-key hits in pre-evolution slices).
    val counts = spark.read.schema(dv.schema).parquet(s"$path/$rel")
      .groupBy(col("_gk")).count()
      .collect().map(r => fileKeyOf(r.getString(0)) -> r.getLong(1)).toMap
    if (counts.isEmpty) {
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), true)
      (None, counts)
    } else (Some(rel), counts)
  }

  /** Distinct slice DIRS among the per-FILE count keys — the receipt's
    * `dvDirs` keeps meaning "slices touched", not "files touched".
    */
  private[storage] def dvDirCount(counts: Map[String, Long]): Int =
    counts.keysIterator.map(k => k.substring(0, k.lastIndexOf('/')))
      .toSet.size

  /** A manifest field's share of [[writeDv]]'s per-FILE counts: by
    * identity for file-grain fields, by prefix for dir-grain fields (a
    * dir field owns every file under it).
    */
  private[storage] def dvCountFor(counts: Map[String, Long],
      field: String): Long = {
    val d = dirOf(field)
    if (d.endsWith(".parquet")) counts.getOrElse(d, 0L)
    else {
      val pre = d + "/"
      counts.iterator.collect { case (k, n) if k.startsWith(pre) => n }.sum
    }
  }

  /** The MoR rebuild: partitions whose entry actually CHANGED — an
    * AllMatch field dropped as metadata, or an ambiguous field that took
    * positions — mapped to their new field lists: NoMatch fields
    * verbatim, hit fields with the new DV ref appended (count exact per
    * field), clean-scanned ambiguous fields verbatim. A partition whose
    * every field leaves (all AllMatch, delete) maps to Nil — the caller
    * removes its entry without re-adding. Partitions where nothing
    * happened (every ambiguous field scanned clean, nothing dropped) are
    * absent: their entries stay byte-identical, so the identity diff
    * never has to cancel a rewrite.
    */
  private def annotate(plan: DmlPlan, dvRel: Option[String],
      counts: Map[String, Long]): Map[String, Seq[String]] = {
    // counts arrive per FILE; a manifest field collects its share by
    // identity (file-grain field IS one file) or by prefix (a dir-grain
    // field owns every file under it). Summing under the dir keeps the
    // per-FIELD deleted count exact — the metadata COUNT subtraction
    // depends on it.
    def countFor(f: String): Long = dvCountFor(counts, f)
    plan.removed.flatMap { p =>
      val kept = plan.keptByPart.getOrElse(p, Nil)
      val amb = plan.ambByPart.getOrElse(p, Nil)
      val hitHere = amb.exists(f => countFor(f) > 0L)
      if (!hitHere && !plan.dropsIn(p)) None
      else Some(p -> (kept ++ amb.map { f =>
        countFor(f) match {
          case n if n > 0L =>
            withDv(baseOf(f), dvOf(f) :+ DvRef(dvRel.get, n))
          case _ => f
        }
      }))
    }.toMap
  }

  private def validateAssignments(assignments: Seq[(String, Column)],
      logicalSchema: StructType, verb: String): Unit = {
    require(assignments.nonEmpty, s"$verb needs at least one assignment")
    assignments.foreach { case (c, _) =>
      require(logicalSchema.fieldNames.contains(c),
        s"$verb column '$c' is not in the store's schema " +
          s"(${logicalSchema.fieldNames.mkString(", ")})")
    }
    require(assignments.map(_._1).distinct.size == assignments.size,
      s"$verb assigns a column twice: " +
        assignments.map(_._1).mkString(", "))
  }

  /** One `select` applying all assignments against the PRE-update row
    * (`SET a = b, b = a` swaps) where `base`'s `hitCol` holds. The hit
    * flag is MATERIALIZED from the pre-update row before any assignment
    * lands: re-filtering the post-assignment frame with the user's
    * predicate would re-resolve it against the assigned values, and a
    * self-referencing update (SET status='x' WHERE status='y') would
    * drop its own rows out of the constraint-enforcement set. CHECK
    * constraints gate the rows the assignments actually modify (the
    * copied-through remainder is existing, already-conforming data).
    * The result keeps `base`'s columns, `hitCol` included.
    */
  private def applyAssignments(base: DataFrame, hitCol: String,
      assignments: Seq[(String, Column)],
      logicalSchema: StructType,
      spark: SparkSession, path: String, verb: String): DataFrame = {
    val assigned = assignments.toMap
    val updated = base.select(base.columns.toSeq.map { c =>
      assigned.get(c) match {
        case Some(e) =>
          when(col(hitCol), e.cast(logicalSchema(c).dataType))
            .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    SnapshotConstraints.enforce(spark, path,
      updated.filter(col(hitCol)).select(logicalSchema.fieldNames.toSeq
        .map(col): _*), verb)
    updated
  }
}
