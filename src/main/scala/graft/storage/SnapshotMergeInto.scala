package graft.storage

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The [[SnapshotStore]]'s general MERGE — the full conditional-clause
  * surface (the Delta Lake / SQL:2003 `MERGE INTO` shape, a public
  * concept re-derived on the store's primitives): for each target row
  * matched by a source row (key equality), the FIRST `WHEN MATCHED`
  * clause whose condition holds applies (update-all / update-set /
  * delete); source rows matching nothing insert under the `WHEN NOT
  * MATCHED` clause; target rows no source row matched can be updated or
  * deleted by `WHEN NOT MATCHED BY SOURCE` clauses. [[SnapshotStore
  * .merge]] stays the CDC-batch fast path (a batch that NAMES its rows,
  * latest-wins); this verb is the declarative one — "reconcile the store
  * against this snapshot of truth".
  *
  * Scale story:
  *   - Without NOT-MATCHED-BY-SOURCE clauses, the merge touches ONLY the
  *     source's partitions (pruned-bucket manifest lookup, exactly like
  *     [[SnapshotStore.merge]]): a 3-partition source against a
  *     1M-partition store resolves 3 buckets and rewrites 3 partitions.
  *   - NOT-MATCHED-BY-SOURCE is table-wide BY DEFINITION (Delta's
  *     documented cost) — but its conditions prune at (partition, gen)
  *     grain through the same tri-state stats verdict every DML verb
  *     uses: a slice provably NoMatch for EVERY such condition copies
  *     its manifest field forward verbatim, unread. "Expire everything
  *     not in today's feed AND older than 90 days" reads the old gens,
  *     not the store.
  *   - One full-outer join on the keys (AQE-planned; the source is
  *     usually the small side) computing a per-row action tag, consumed
  *     by ONE write of the surviving rows — never an action-per-clause
  *     multi-pass. The receipt's per-action counts and the duplicate-key
  *     refusal ride that write as a `Dataset.observe`; the verdict lands
  *     before the commit, and a refused or no-op merge deletes what it
  *     wrote.
  *
  * Semantics pinned by spec: first-match-wins across clauses; a matched
  * row no clause accepts copies through unchanged; every update RHS sees
  * the PRE-merge row (target columns) plus the matching source row
  * (`t.`/`s.` qualifiers); SQL three-valued conditions (NULL = clause
  * does not apply); MULTIPLE source rows matching one target row refuse
  * loudly (the Delta ambiguity error — applying "the" update would pick
  * an arbitrary winner); CHECK constraints gate the updated + inserted
  * rows; CDC reconstructs update pairs / deletes / inserts; history
  * never rewritten.
  */
object SnapshotMergeInto {
  import SnapshotStore._
  import SnapshotFormat.{statsOf, parseStats}

  sealed trait MergeAction
  /** Replace every target column with the source's same-named column. */
  case object UpdateAll extends MergeAction
  /** Assign the named target columns; each RHS may reference `t.` and
    * `s.` qualified columns and casts to the column's existing type.
    */
  case class UpdateSet(assignments: Seq[(String, Column)]) extends MergeAction
  case object DeleteRow extends MergeAction

  /** `WHEN MATCHED [AND cond] THEN action`. `cond` may reference `t.`
    * and `s.` columns; None = always applies.
    */
  case class WhenMatched(cond: Option[Column], action: MergeAction)
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT`. An empty `insert` list
    * is `INSERT *`: the store is schema-fixed, so source columns the
    * target lacks are refused and target columns the source lacks insert
    * NULL (the store's additive-read semantics). A non-empty list is
    * `INSERT (c, ...) VALUES (e, ...)`: each value may reference `s.`
    * columns and casts to the column's type; unlisted columns insert
    * NULL.
    */
  case class WhenNotMatched(cond: Option[Column],
                            insert: Seq[(String, Column)] = Nil)
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN action` (update-set or
    * delete). `cond` should reference target columns (a `s.` column is
    * NULL here — SQL three-valued logic makes such a clause never
    * apply); unqualified and `t.`-qualified names both resolve.
    */
  case class WhenNotMatchedBySource(cond: Option[Column],
                                    action: MergeAction)

  /** One merge's receipt: rows per outcome, plus the slice economics —
    * `keptDirs` = slices the NOT-MATCHED-BY-SOURCE conditions provably
    * cannot touch (copied forward unread, only meaningful when such
    * clauses exist).
    */
  case class MergeIntoReceipt(version: Int, updated: Long, deleted: Long,
                              inserted: Long, copied: Long, keptDirs: Int,
                              dvDirs: Int = 0, dvRows: Long = 0L)

  // the action-tag vocabulary: mi = matched clause i (update), mdi =
  // matched clause i (delete) … tags index the clause list so counts and
  // first-match-wins stay aligned
  private val Copy = "copy"
  private val Drop = "drop"

  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                keyCols: Seq[String],
                matched: Seq[WhenMatched] = Nil,
                notMatched: Option[WhenNotMatched] = None,
                notMatchedBySource: Seq[WhenNotMatchedBySource] = Nil,
                beforeCommit: () => Unit = () => ()): MergeIntoReceipt =
    mergeImpl(spark, path, source, keyCols, matched, notMatched,
      notMatchedBySource, mor = false, beforeCommit)

  /** MERGE-ON-READ MERGE INTO (Delta's DV-based MERGE, re-derived):
    * identical clause semantics to [[mergeInto]], but the matched-update
    * / delete arms and the NOT-MATCHED-BY-SOURCE arms pay DELETION
    * VECTORS instead of copy-on-write — the pre-images' (file-key,
    * row-index) positions land in one sidecar, ONLY the changed images
    * (updates' post-images + inserts) append as fresh gens, and every
    * untouched row of a touched slice is NEVER rewritten. The daily
    * reconcile that updates 0.1% of rows per partition writes 0.1%, not
    * the partitions. Same DV debt and same two collectors (compaction /
    * [[SnapshotStore.materializeDvs]]) as the MoR DML verbs.
    */
  def mergeIntoMor(spark: SparkSession, path: String, source: DataFrame,
                   keyCols: Seq[String],
                   matched: Seq[WhenMatched] = Nil,
                   notMatched: Option[WhenNotMatched] = None,
                   notMatchedBySource: Seq[WhenNotMatchedBySource] = Nil,
                   beforeCommit: () => Unit = () => ()): MergeIntoReceipt =
    mergeImpl(spark, path, source, keyCols, matched, notMatched,
      notMatchedBySource, mor = true, beforeCommit)

  private def mergeImpl(spark: SparkSession, path: String,
                source: DataFrame,
                keyCols: Seq[String],
                matched: Seq[WhenMatched],
                notMatched: Option[WhenNotMatched],
                notMatchedBySource: Seq[WhenNotMatchedBySource],
                mor: Boolean,
                beforeCommit: () => Unit): MergeIntoReceipt = {
    requireAtomicRename(path)
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeInto needs at least one clause")
    matched.foreach(c => require(c.action != null, "null action"))
    notMatchedBySource.foreach { c =>
      require(c.action != UpdateAll,
        "NOT MATCHED BY SOURCE has no source row to update-all from — " +
          "use an explicit SET or DELETE")
    }
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val renames = readRenames(spark, path, head)
    val physSchema = versionSchema(spark, path, head)
    val physPartCol = partColOf(spark, path).getOrElse(
      throw new IllegalStateException(
        s"store at $path records no partition column"))
    val partCol = logicalPartCol(physPartCol, renames)
    val partComps = splitPartCols(partCol)
    val logicalSchema = org.apache.spark.sql.types.StructType(
      physSchema.fields.map(f =>
        f.copy(name = renames.getOrElse(f.name, f.name))))
    val targetCols = logicalSchema.fieldNames.toSeq
    keyCols.foreach(k => require(targetCols.contains(k) &&
      source.columns.contains(k),
      s"merge key '$k' must exist on both sides (target: " +
        s"${targetCols.mkString(", ")}; source: " +
        s"${source.columns.mkString(", ")})"))
    source.columns.foreach(c => require(targetCols.contains(c),
      s"source column '$c' is not in the store's schema — the store is " +
        "schema-fixed under MERGE; evolve additively with merge()/append"))
    matched.foreach(_.action match {
      case UpdateSet(as) =>
        validateSet(as, targetCols, partCol, "WHEN MATCHED")
      case _ => ()
    })
    notMatchedBySource.foreach(_.action match {
      case UpdateSet(as) =>
        validateSet(as, targetCols, partCol, "WHEN NOT MATCHED BY SOURCE")
      case _ => ()
    })
    notMatched.map(_.insert).filter(_.nonEmpty).foreach { ins =>
      ins.foreach { case (c, _) => require(targetCols.contains(c),
        s"WHEN NOT MATCHED INSERT column '$c' is not in the store's " +
          s"schema (${targetCols.mkString(", ")})") }
      require(ins.map(_._1).distinct.size == ins.size,
        "WHEN NOT MATCHED INSERT names a column twice: " +
          ins.map(_._1).mkString(", "))
    }
    // matching is partition-confined (the same residency contract as
    // merge(): a key lives in its partition) — a source WITHOUT the
    // partition column could not restrict the resolution and would
    // silently match nothing, so it is refused wherever matching or
    // inserting is asked for; a pure NOT-MATCHED-BY-SOURCE reconcile
    // (no matched/insert clause) genuinely needs no source partitions
    require(partComps.forall(source.columns.contains) ||
      (matched.isEmpty && notMatched.isEmpty),
      s"mergeInto needs the source to carry the partition column(s) " +
        s"'$partCol' for WHEN MATCHED / WHEN NOT MATCHED clauses — " +
        "matching is partition-confined, like merge()")
    // the source is read twice below (the residency pass, the full-outer
    // join) — materialize it ONCE, as a projected copy so a caller's own
    // cache marks are untouched. A non-deterministic source (rand/uuid, a
    // re-read external table) must not resolve its partitions with one
    // set of rows and then join with another — the reason Delta
    // materializes its MERGE source.
    val src = source.select(source.columns.map(col).toIndexedSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {

    // ---- which slices participate --------------------------------------
    lazy val allEntriesForEras = forWrite(path, head)(
      readManifest(spark, path, head))
    // a source without the partition column skips the residency pass
    val srcParts: Seq[String] =
      if (!partComps.forall(source.columns.contains)) Nil
      else residencyKeysWithCount(spark, path, src, partComps, renames,
        allEntriesForEras.keys)._1.toIndexedSeq
    val logicalToPhysical = renames.map(_.swap)
    // NOT-MATCHED-BY-SOURCE conditions analyzed for the tri-state pruner
    // (unqualified/t-qualified target refs; an s. ref fails analysis →
    // no pruning, the clause still applies its NULL-condition semantics
    // row-wise)
    val nmbsExprs = notMatchedBySource.map(_.cond.flatMap { c =>
      try {
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          logicalSchema).alias("t").filter(c)
          .queryExecution.analyzed match {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            Some(f.condition)
          case _ => None
        }
      } catch { case _: org.apache.spark.sql.AnalysisException => None }
    })
    val entries: Map[String, Seq[String]] =
      if (notMatchedBySource.nonEmpty)
        forWrite(path, head)(readManifest(spark, path, head))
      else forWrite(path, head)(
        readManifestValues(spark, path, head, srcParts))
    val srcPartSet = srcParts.toSet
    var keptDirs = 0
    // slice verdicts: a source partition's slices always participate
    // (key matching needs the rows); elsewhere a slice every nmbs
    // condition provably cannot touch copies forward verbatim. A clause
    // with no condition (or an unanalyzable one) touches everything.
    val alwaysTouches = notMatchedBySource.nonEmpty &&
      nmbsExprs.exists(_.isEmpty)
    val (touchedEntries, keptByPart) = {
      val touched = Map.newBuilder[String, Seq[String]]
      val kept = Map.newBuilder[String, Seq[String]]
      entries.foreach { case (p, fields) =>
        if (srcPartSet(p)) touched += p -> fields
        else {
          val (rewrite, keep) = fields.partition { f =>
            alwaysTouches || {
              val stats = statsOf(f).map(parseStats)
                .getOrElse(Map.empty[String, SnapshotFormat.ColStat])
              nmbsExprs.flatten.exists(e =>
                evalPrune(e, stats, logicalToPhysical) != NoMatch)
            }
          }
          keptDirs += keep.size
          if (rewrite.nonEmpty) {
            touched += p -> rewrite
            kept += p -> keep
          }
        }
      }
      (touched.result(), kept.result())
    }

    // ---- the one-pass action plan --------------------------------------
    // the MoR path reads TAGGED (each target row carries its sidecar
    // key + row index, existing DVs already applied) so pre-images can
    // be deletion-vector'd instead of paying copy-on-write
    val touchedFields = touchedEntries.values.flatten.toSeq.sorted
    val read0 =
      if (touchedEntries.isEmpty) {
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          physSchema)
        if (mor) empty.withColumn("_gk", lit(null).cast("string"))
          .withColumn("_gi", lit(null).cast("long"))
        else empty
      }
      else if (mor) readFieldsTagged(spark, path, touchedFields,
        Some(physSchema))
      else readFields(spark, path, head, touchedFields)
    val base0 = applyRenames(read0, renames)
      .withColumn("_t_present", lit(true)).alias("t")
    // NOT-MATCHED-BY-SOURCE expressions are target-only by definition,
    // so they evaluate on the TARGET frame BEFORE the join — bare column
    // names resolve unambiguously there (post-join every shared name is
    // ambiguous), and "every RHS sees the pre-merge row" holds by
    // construction. Conditions become `_nmc<i>` markers, SET values
    // `_nmv<i>_<col>` — dropped before the write.
    val base = notMatchedBySource.zipWithIndex.foldLeft(base0) {
      case (df, (cl, i)) =>
        val withCond =
          df.withColumn(s"_nmc$i", cl.cond.getOrElse(lit(true)))
        cl.action match {
          case UpdateSet(as) => as.foldLeft(withCond) {
            case (d, (c, e)) => d.withColumn(s"_nmv${i}_$c",
              e.cast(logicalSchema(c).dataType))
          }
          case _ => withCond
        }
    }
    // the ambiguity refusal (Delta's MERGE error, re-derived: two source
    // rows with one key would make "the" matched action nondeterministic)
    // rides the join — each source row carries its key's row count,
    // computed over the exchange the join already pays (it hash-
    // partitions the source by the same keys), and the write's
    // observation records the maximum
    val srcAligned = src
      .withColumn("_sn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)))
      .withColumn("_s_present", lit(true)).alias("s")
    val joinCond = keyCols.map(k => col(s"t.$k") === col(s"s.$k"))
      .reduce(_ && _)
    val joined = base.join(srcAligned, joinCond, "full_outer")
    val isMatched = col("_t_present").isNotNull &&
      col("_s_present").isNotNull
    val tOnly = col("_t_present").isNotNull && col("_s_present").isNull
    val sOnly = col("_t_present").isNull && col("_s_present").isNotNull
    def holds(c: Option[Column]): Column =
      c.map(cc => coalesce(cc, lit(false))).getOrElse(lit(true))
    // the action tag: first-match-wins falls straight out of when()'s
    // evaluation order
    val cases = Seq.newBuilder[(String, Column)]
    matched.zipWithIndex.foreach { case (cl, i) =>
      cases += s"m$i" -> (isMatched && holds(cl.cond))
    }
    notMatched.foreach(cl => cases += "ins" -> (sOnly && holds(cl.cond)))
    notMatchedBySource.zipWithIndex.foreach { case (cl, i) =>
      cases += s"n$i" -> (tOnly && coalesce(col(s"_nmc$i"), lit(false)))
    }
    cases += Copy -> (isMatched || tOnly)
    val act = cases.result().foldRight(lit(Drop)) {
      case ((tag, cond), rest) => when(cond, lit(tag)).otherwise(rest)
    }
    val tagged = joined.withColumn("_act", act)
    // per-column value under each action; every RHS sees the PRE-merge
    // row (one select — the DML swap discipline)
    def actionValue(action: MergeAction, c: String): Option[Column] =
      action match {
        case UpdateAll =>
          if (source.columns.contains(c))
            Some(col(s"s.$c").cast(logicalSchema(c).dataType))
          else Some(col(s"t.$c")) // source lacks it: keep (keys included)
        case UpdateSet(as) => as.toMap.get(c)
          .map(_.cast(logicalSchema(c).dataType))
          .orElse(Some(col(s"t.$c")))
        case DeleteRow => None // filtered by tag, value irrelevant
      }
    val outCols = targetCols.map { c =>
      var chain: Column = null
      def add(cond: Column, value: Column): Unit = {
        chain = if (chain == null) when(cond, value)
          else chain.when(cond, value)
      }
      matched.zipWithIndex.foreach { case (cl, i) =>
        actionValue(cl.action, c)
          .foreach(value => add(col("_act") === s"m$i", value))
      }
      notMatched.foreach { cl =>
        val value =
          if (cl.insert.nonEmpty) cl.insert.toMap.getOrElse(c, lit(null))
          else if (source.columns.contains(c)) col(s"s.$c")
          else lit(null)
        add(col("_act") === "ins", value.cast(logicalSchema(c).dataType))
      }
      notMatchedBySource.zipWithIndex.foreach { case (cl, i) =>
        cl.action match {
          case UpdateSet(as) if as.exists(_._1 == c) =>
            add(col("_act") === s"n$i", col(s"_nmv${i}_$c"))
          case _ => () // delete: filtered by tag; unassigned: copies
        }
      }
      (if (chain == null) col(s"t.$c")
       else chain.otherwise(col(s"t.$c"))).as(c)
    }
    val deleteTags = matched.zipWithIndex.collect {
      case (WhenMatched(_, DeleteRow), i) => s"m$i" } ++
      notMatchedBySource.zipWithIndex.collect {
        case (WhenNotMatchedBySource(_, DeleteRow), i) => s"n$i" } :+ Drop
    val updTags = (matched.zipWithIndex.collect {
      case (WhenMatched(_, a), i) if a != DeleteRow => s"m$i" } ++
      notMatchedBySource.zipWithIndex.collect {
        case (WhenNotMatchedBySource(_, a), i) if a != DeleteRow =>
          s"n$i" }).toSet
    // merge-on-read's deletion-vector hits: the pre-images of the
    // update/delete arms
    val removalTags = (updTags ++ deleteTags.filterNot(_ == Drop)).toSeq
    // the merged row, its tag, the source's per-key count and key and,
    // under MoR, the target row's sidecar position and removal flag. The
    // flag is computed BELOW the observation: a literal-false hit filter
    // above it (no update/delete arm) would let the optimizer prune the
    // observed node out of the DV write.
    val actions = tagged.select((outCols ++ Seq(col("_act"), col("_sn"),
      struct(keyCols.map(k => col(s"s.$k").as(k)): _*).as("_skey")) ++
      (if (!mor) Nil else Seq(col("_gk"), col("_gi"),
        col("_act").isin(removalTags: _*).as("_rm")))): _*)
    // the receipt's counts and the duplicate-key verdict are observed
    // while the first write consumes the frame (Delta's MergeIntoCommand
    // counts the same way), never recomputed by a pass of their own
    val countTags = (matched.indices.map(i => s"m$i") ++
      notMatched.map(_ => "ins") ++
      notMatchedBySource.indices.map(i => s"n$i")) :+ Copy
    val observation = org.apache.spark.sql.Observation()
    val observed = actions.observe(observation,
      max(col("_sn")).as("_sn"),
      (max_by(col("_skey"), col("_sn")).as("_skey") +:
        countTags.map(t => count(when(col("_act") === t, true)).as(t))): _*)
    val kept = !col("_act").isin(deleteTags: _*)
    def rowsOf(df: DataFrame): DataFrame =
      toPhysical(df.select(targetCols.map(col): _*), renames)
    // the join is persisted where a second pass reads it again: under
    // merge-on-read (the DV hits, then the changed images) and under
    // CHECK constraints (the probe, then the write); otherwise the write
    // is its one reader. (A sorted store's range-partitioned write
    // persists its own input, so the observation counts each row once.)
    val cached =
      if (mor || SnapshotConstraints.all(spark, path).nonEmpty) Seq(tagged)
      else Nil
    cached.foreach(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      // CHECK constraints gate what the merge CHANGES (updated images +
      // inserts); copied-through rows are existing, conforming data. The
      // probe reads the UNOBSERVED frame: its limit(1) over the observed
      // one would fire the observation with a partial scan's counts.
      val changedImages = actions.filter(kept && col("_act") =!= Copy)
      SnapshotConstraints.enforce(spark, path,
        changedImages.select(targetCols.map(col): _*), "merge")
      // the one pass over the join: the first write — the CoW rewrite, or
      // the MoR deletion vectors — carries the observation
      val (cowEntries, (dvRel, counts)) =
        if (!mor) (writeGen(rowsOf(observed.filter(kept)), path,
          physPartCol, statsCols = statsColsOf(spark, path)),
          (None, Map.empty[String, Long]))
        else (Map.empty[String, String],
          SnapshotDml.writeDv(spark, path, observed.filter(col("_rm"))))
      // decided after the write, before the commit: a duplicate source
      // key refuses and a merge no clause fired in commits nothing — both
      // leave no file behind
      val written = dvRel.toSeq ++ genDirsOf(cowEntries)
      def discard(): Unit = {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
          spark.sparkContext.hadoopConfiguration)
        written.foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true))
      }
      // an empty observation is a node the optimizer pruned because its
      // input is provably empty (an empty source against no touched
      // slice): no row, so every count is zero — and nothing was written
      val seen = observation.get
      if (seen.isEmpty && written.nonEmpty) {
        discard()
        throw new IllegalStateException(
          s"mergeInto at $path wrote rows its observation did not see")
      }
      val maxPerKey = seen.get("_sn").flatMap(Option(_))
        .fold(0L)(_.asInstanceOf[Long])
      if (maxPerKey > 1L) discard()
      require(maxPerKey <= 1L,
        s"mergeInto source carries duplicate keys (e.g. " +
          s"${keyCols.zip(seen("_skey").asInstanceOf[Row].toSeq)
            .map { case (k, v) => s"$k=$v" }.mkString(", ")}) — " +
          "aggregate to one row per key first")
      def sumTags(tags: Iterable[String]): Long =
        tags.iterator.map(t => seen.getOrElse(t, 0L).asInstanceOf[Long]).sum
      val updated = sumTags(updTags)
      val deleted = sumTags(deleteTags.filterNot(_ == Drop))
      val inserted = sumTags(Seq("ins"))
      val copied = sumTags(Seq(Copy))
      if (updated + deleted + inserted == 0L) {
        discard()
        return MergeIntoReceipt(head, 0, 0, 0, copied, keptDirs)
      }
      if (!mor) {
        val (removedF, addedF) = foldNewEntries(touchedEntries.keySet,
          touchedEntries.keySet.map(p =>
            p -> keptByPart.getOrElse(p, Nil)).toMap
            .filter(_._2.nonEmpty),
          cowEntries, cross => forWrite(path, head)(
            readManifestValues(spark, path, head, cross.toSeq)))
        beforeCommit() // test seam
        commitDelta(spark, path, head + 1, head,
          removed = removedF,
          added = addedF,
          genDirsOf(cowEntries),
          Some(physSchema), renames, op = "merge")
        MergeIntoReceipt(head + 1, updated, deleted, inserted, copied,
          keptDirs)
      } else {
        // merge-on-read: pre-images of the update/delete arms became
        // sidecar positions; ONLY changed images (updates' post-images
        // + inserts) append as fresh gens; untouched rows of touched
        // slices are never rewritten — write cost ∝ changed rows
        val newEntries = writeGen(rowsOf(changedImages), path,
          physPartCol, statsCols = statsColsOf(spark, path))
        import SnapshotFormat.{dvOf, baseOf, withDv, DvRef}
        // a touched partition CHANGES iff a field took positions or a
        // fresh gen landed; everything else keeps its entry verbatim
        // (the identity diff never has to cancel a re-add). Gens fold at
        // their OWN keys (an era-migrated image merges into any
        // untouched entry there).
        val dvTouched = touchedEntries.keySet.filter(p =>
          touchedEntries(p).exists(f =>
            SnapshotDml.dvCountFor(counts, f) > 0L))
        val base = dvTouched.map { p =>
          p -> (keptByPart.getOrElse(p, Nil) ++
            touchedEntries(p).map { f =>
              SnapshotDml.dvCountFor(counts, f) match {
                case n if n > 0L =>
                  withDv(baseOf(f), dvOf(f) :+ DvRef(dvRel.get, n))
                case _ => f
              }
            })
        }.toMap
        val (removedF, addedF) = foldNewEntries(dvTouched, base,
          newEntries, cross => forWrite(path, head)(
            readManifestValues(spark, path, head, cross.toSeq)))
        beforeCommit() // test seam
        commitDelta(spark, path, head + 1, head,
          removed = removedF,
          added = addedF,
          dvRel.toSeq ++ genDirsOf(newEntries),
          Some(physSchema), renames, op = "merge")
        MergeIntoReceipt(head + 1, updated, deleted, inserted, copied,
          keptDirs, dvDirs = SnapshotDml.dvDirCount(counts),
          dvRows = counts.values.sum)
      }
    } finally cached.foreach(_.unpersist())
    } finally src.unpersist()
  }

  private def validateSet(assignments: Seq[(String, Column)],
      targetCols: Seq[String], partCol: String, where: String): Unit = {
    val partComps = splitPartCols(partCol)
    require(assignments.nonEmpty, s"$where SET needs at least one assignment")
    assignments.foreach { case (c, _) =>
      require(targetCols.contains(c),
        s"$where SET column '$c' is not in the store's schema " +
          s"(${targetCols.mkString(", ")})")
      require(!partComps.contains(c),
        s"$where SET cannot assign the partition column '$c' — moving " +
          "rows across partitions is a delete+insert the source names " +
          "explicitly")
    }
    require(assignments.map(_._1).distinct.size == assignments.size,
      s"$where SET assigns a column twice: " +
        assignments.map(_._1).mkString(", "))
  }
}
