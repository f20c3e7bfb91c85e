package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Joins

/** Versioned, manifest-committed keyed store: every MERGE produces a new
  * immutable SNAPSHOT, and any past version stays readable until expired —
  * the "which exact corpus trained run N, and can I reproduce it" question
  * a training pipeline must answer, plus snapshot-isolated readers (a
  * reader of v never observes v+1 forming). The versioned tier above
  * [[MergeStore]] (whose dynamic-overwrite path mutates in place).
  *
  * Layout (the Iceberg/Delta argument re-expressed minimally):
  *   - `data/<gen>/_p=<value>/…` — immutable per-partition file sets; a
  *     merge writes ONLY its touched partitions into a fresh gen dir
  *   - `_manifest-<v>` — one line per live partition: `value TAB dir
  *     [TAB dir …]`; a partition normally maps to ONE dir (every merge
  *     rewrites its touched partitions whole), but [[append]] adds dirs
  *     without rewriting, so an append-heavy partition accumulates a
  *     dir LIST until [[compactPartitions]] (or any merge touching it)
  *     collapses it back to one. Past [[segmentThreshold]] live
  *     partitions the manifest SEGMENTS: the head file lists
  *     content-addressed hash-bucket files under `segs/` and commits
  *     touch only changed buckets (see the manifest-tier comment below).
  *     Committed with rename-no-overwrite (the
  *     same single-winner CAS primitive as [[LogTableWriter.compact]]),
  *     so a snapshot either exists completely or not at all — there is
  *     NO window where some partitions are new and others old (the
  *     in-place store's overwrite-then-delete gap), and concurrent
  *     mergers get exactly one winner, the loser aborting with its
  *     garbage removed. CAS losers retry with [[withCasRetry]] (each
  *     attempt re-reads the new head and re-resolves, so retried merges
  *     serialize instead of clobbering).
  *
  * Scale story: reads resolve partitions from the MANIFEST, not a
  * directory listing — a merge of a 3-partition batch into a
  * 10k-partition store opens 3 known directories (SnapshotSpec pins
  * `inputFiles` ⊆ touched dirs, stronger than a PartitionFilters string);
  * the base never shuffles (batch keys broadcast-anti-join it); old
  * versions cost only the retained files of partitions since rewritten
  * (untouched partitions are SHARED between snapshots by reference).
  *
  * The partition column must be non-null; its values key the manifest by
  * their string form (the usual partition-path discipline).
  *
  * ADDITIVE schema evolution (the 100 TB reality of generations written
  * years apart, store-level counterpart of `q_source_evolution`):
  * appends and merges may ADD columns over time — gens keep the schema
  * they were written with, and every commit RECORDS the version's union
  * schema (`_schema-<v>`, Iceberg-style schema-in-metadata), so reads
  * apply it explicitly: no footer-merge job ever, and legacy rows
  * surface NULL for later columns straight from the reader. A merge
  * across generations unions the batch's and base's schemas
  * (`unionByName(allowMissingColumns)`), and [[changes]] aligns both
  * versions to the union schema before diffing (a legacy preimage reads
  * NULL for a column added since). Stores without a recorded schema
  * (pre-r11, or a crash between manifest CAS and schema write) degrade
  * to a one-off parquet `mergeSchema` inference. Column RENAME
  * ([[renameColumn]] — see the logical-name layer below), DROP
  * ([[dropColumn]]) and safe-widening RETYPE ([[retypeColumn]]) are
  * metadata-only commits; any other retype is a new store (fail-fast on
  * a type conflict).
  *
  * ==Filesystem contract==
  * Every write-side guarantee above bottoms out in ONE primitive: an
  * ATOMIC, single-winner, no-overwrite file publish (the manifest CAS,
  * the segment/schema/renames publishes, the pinned-gen dir publish).
  * On HDFS that is `FileContext.rename(Rename.NONE)` (namenode-enforced);
  * on `file://` the store publishes FILES via hard link instead —
  * `link(2)` fails `EEXIST` atomically, where the local rename path is
  * only an exists-probe + overwriting `rename(2)` (see [[publishFile]];
  * the 5-writer soak caught the probe race as permanent crc-sidecar
  * corruption). Rename-atomic object stores (ABFS/Gen2) ride the rename
  * path; S3A does NOT qualify — its "rename" is a client-side
  * copy-then-delete, so two concurrent committers can both believe they
  * won, which breaks snapshot isolation and the exactly-once append.
  * Mutating entry points therefore fail fast on `s3/s3a/s3n` paths; front
  * such stores with an HDFS-compatible tier, or accept SINGLE-WRITER-ONLY
  * operation explicitly via `-Dgraft.snapshot.unsafeFs=true` (reads need
  * no rename and carry no restriction). This mirrors the public
  * Iceberg/Delta posture: a commit-coordination primitive (metastore
  * lock / DynamoDB / rename) is required where the FS cannot provide one.
  */
object SnapshotStore {

  /** Fail-fast guard for the rename-no-overwrite contract above: mutators
    * call this before writing anything. Scheme-based — the known
    * copy-based-rename stores are rejected, everything else (hdfs, file,
    * viewfs, abfs, …) is accepted.
    */
  private[storage] def requireAtomicRename(path: String): Unit = {
    val scheme = Option(new java.net.URI(path).getScheme)
      .getOrElse("file").toLowerCase
    require(!Set("s3", "s3a", "s3n").contains(scheme) ||
      sys.props.get("graft.snapshot.unsafeFs").contains("true"),
      s"SnapshotStore commits require atomic rename-no-overwrite; " +
        s"$scheme:// rename is copy-based and non-atomic, so concurrent " +
        "writers can corrupt the store. Front it with an HDFS-compatible " +
        "commit tier, or set -Dgraft.snapshot.unsafeFs=true to accept " +
        "single-writer-only operation")
  }

  private val Esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  private def hfs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Number of retained versions — one directory listing, no data read
    * (the metadata form of `history().count()`).
    */
  def retainedVersionCount(spark: SparkSession, path: String): Long = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).count(_.getPath.getName.startsWith("_manifest-"))
      .toLong
  }

  /** Newest committed version, if any. */
  def headVersion(spark: SparkSession, path: String): Option[Int] = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return None
    val vs = fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("_manifest-") =>
        n.stripPrefix("_manifest-").toInt }
    if (vs.isEmpty) None else Some(vs.max)
  }

  // ---- manifest tier + codecs: see SnapshotFormat ------------------------
  //
  // The manifest text format, the content-addressed hash-bucketed segment
  // tier (the Iceberg manifest-list argument -- costs and collision
  // arguments documented there), the per-gen stats-blob codec and the
  // `_renames-<v>` parsing live in [[SnapshotFormat]]. This object holds
  // the VERBS: what is promised, when bytes are written, how races
  // resolve. The format layer never mutates the store.
  import SnapshotFormat._

  // private[graft] re-exports for the specs and the scale probe (the
  // format layer itself is private[storage])
  private[graft] type Head = SnapshotFormat.Head
  private[graft] type FlatHead = SnapshotFormat.FlatHead
  private[graft] type SegHead = SnapshotFormat.SegHead
  private[graft] def readHead(spark: SparkSession, path: String,
                              version: Int): SnapshotFormat.Head =
    SnapshotFormat.readHead(spark, path, version)
  private[graft] def readManifest(spark: SparkSession, path: String,
                                  version: Int): Map[String, Seq[String]] =
    SnapshotFormat.readManifest(spark, path, version)
  private[graft] def readManifestDirs(spark: SparkSession, path: String,
                                      version: Int): Seq[String] =
    SnapshotFormat.readManifestDirs(spark, path, version)
  private[graft] def readManifestValues(spark: SparkSession, path: String,
      version: Int, values: Seq[String]): Map[String, Seq[String]] =
    SnapshotFormat.readManifestValues(spark, path, version, values)
  private[graft] def dirOf(field: String): String =
    SnapshotFormat.dirOf(field)
  private[graft] def readRenames(spark: SparkSession, path: String,
                                 v: Int): Map[String, String] =
    SnapshotFormat.readRenames(spark, path, v)


  /** [[readManifest]] for WRITE paths: a version that vanished to a
    * concurrent retention sweep surfaces as the same
    * `ConcurrentModificationException` a lost manifest CAS does, so the
    * callers' existing retry loops re-resolve the new head instead of
    * failing with an exception that reads as corruption. (Writers only
    * hold a resolved head across a window ≥ `keep` commits long when
    * heavily raced — exactly the case retry is for.)
    */
  private def readManifestForWrite(spark: SparkSession, path: String,
                                   v: Int): Map[String, Seq[String]] =
    forWrite(path, v)(readManifest(spark, path, v))

  /** Wraps any manifest resolution for a WRITE path (vanished version →
    * `ConcurrentModificationException`, see [[readManifestForWrite]]). */
  private[storage] def forWrite[T](path: String, v: Int)(body: => T): T =
    try body
    catch {
      case e: IllegalArgumentException if versionVanished(e) =>
        throw new java.util.ConcurrentModificationException(
          s"version $v at $path was expired while this operation held it; " +
            "re-read the new head and retry", e)
    }

  /** Writes the touched partitions of `df` into a fresh gen dir; returns
    * partition value → relative dir. The shadow `_p` column keeps the real
    * partition column IN the data files, so per-directory reads need no
    * reattachment.
    *
    * `genName` pins the dir name (idempotent appends). A pinned gen is
    * STAGED to a hidden sibling and published with rename-no-overwrite —
    * the same single-winner CAS as the manifest — so two concurrent
    * writers of the same idempotency key never interleave writes inside
    * one directory (the zombie-writer hazard: an overwrite-in-place of a
    * dir the winner has already committed would corrupt published data).
    * The rename loser discards its staging dir and adopts the existing
    * gen — by the idempotency-key contract both carry the same batch.
    * A pinned dir therefore EXISTS only fully-written; a crash mid-write
    * leaves only an unreferenced `.{gen}.*.stage` dir that [[expire]]'s
    * age-floored orphan sweep removes.
    */
  /** Builds one just-written gen's manifest entries (partition value →
    * dir field with optional stats blob), publishing needle sidecars for
    * the declared bloom columns first. An empty gen dir (just _SUCCESS —
    * a batch whose slice lost every row) yields no entries. `bloomCols`
    * overrides the store's declared set only for the initial write,
    * where `_bloomcols` is not yet published.
    */
  private def genEntriesFor(spark: SparkSession, path: String, gen: String,
                            statsCols: Seq[String],
                            bloomCols: Option[Seq[String]],
                            dataSchema: org.apache.spark.sql.types.StructType)
      : Map[String, String] = {
    val fs = hfs(spark, path)
    val dirs = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$path/data/$gen"))
      .map(_.getPath.getName).filter(_.startsWith("_p="))
    if (dirs.isEmpty) return Map.empty
    SnapshotBloom.buildFor(spark, path, gen,
      bloomCols.getOrElse(SnapshotBloom.bloomColsOf(spark, path)),
      schemaHint = Some(dataSchema))
    val stats = genStats(spark, path, gen, statsCols)
    dirs
      .map { d =>
        val value = Esc.unescapePathName(d.stripPrefix("_p="))
        value -> (stats.get(value) match {
          case Some(blob) => s"data/$gen/$d$StatsSep$blob"
          case None => s"data/$gen/$d"
        })
      }.toMap
  }

  private[storage] def writeGen(df: DataFrame, path: String, partCol: String,
                       genName: Option[String] = None,
                       statsCols: Seq[String] = Nil,
                       sortBy: Seq[String] = Nil,
                       bloomCols: Option[Seq[String]] = None)
      : Map[String, String] = {
    val fs = hfs(df.sparkSession, path)
    def list(gen: String): Map[String, String] =
      genEntriesFor(df.sparkSession, path, gen, statsCols, bloomCols,
        org.apache.spark.sql.types.StructType(
          df.schema.filterNot(_.name == "_p"))) // _p is hived out on write
    def writeTo(gen: String): Unit = {
      val withKey = df.withColumn("_p", partKeyExpr(splitPartCols(partCol)))
      // sorted layout (compaction's OPTIMIZE shape): rows within each
      // partition's files are ordered by the effective sort — an explicit
      // `sortBy` (compaction's re-cluster override), else the store's
      // DECLARED clustering (`_sortcols`, r16 — the reference's own
      // `ORDER BY (logdate, logdatetime)` discipline, nginx.click:1,
      // maintained by EVERY writer path automatically). Tight row-group
      // stats serve parquet page skipping on read and per-FILE footer
      // pruning in the DML copy-on-write path; columns a batch lacks are
      // skipped (they read NULL under the union schema — no order to keep).
      val (declCols, declZ) =
        if (sortBy.nonEmpty) (sortBy, false)
        else sortSpecOf(df.sparkSession, path)
      val effSort = declCols.filter(df.columns.contains)
      // r19 (§2.5): a SORTED write used to hash-cluster by _p alone, so a
      // gen with few partition values sorted on as few cores — the
      // zorder gate's 150k-row write ran 2 tasks on 32 cores. Sorted
      // writes now RANGE-partition by (_p, sort key): the global
      // per-partition order is preserved (disjoint contiguous ranges),
      // per-file bounds stay tight (tighter, even — each file is a range
      // slice), and AQE's partition coalescing keeps tiny batches at few
      // tasks while big ones spread (scale-adaptive, not a local tune).
      // a range-partitioned write reads its input twice: the range
      // partitioner samples it in a job of its own (z-order adds a
      // dim-bounds agg before that), then the shuffle consumes it. Both
      // read ONE persisted copy, so an expensive input lineage is
      // computed once, a non-deterministic input cannot hand the sampler
      // different rows than the write lays out, and an observation in
      // the input counts each row once. Unsorted writes pay nothing.
      val cached: Option[DataFrame] =
        if (effSort.nonEmpty)
          Some(withKey.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        else None
      try {
        val base = cached.getOrElse(withKey)
        def rangeParted(keys: Seq[Column]): DataFrame =
          base.repartitionByRange((col("_p") +: keys): _*)
        val laid =
          if (effSort.isEmpty)
            base.repartition(col("_p"))
          else if (declZ && effSort.size == 2) {
            // Z-ORDER clustering (declared via declareSortCols(zorder)):
            // rows sort by the Morton interleave of the two dims' 16-bit
            // cells, so per-FILE footer bounds stay tight on BOTH columns
            // — a 2-D box probe (the dashboard's "this key range in this
            // time window") touches ~sqrt of the files a lexicographic
            // sort leaves it, and the file-grain DML verdict inherits the
            // same tightness. Cell bounds come from one batch-sized agg
            // (the same pass shape genStats already pays); an all-NULL
            // dim degrades to the lexicographic sort — never a crash.
            val (a, b) = (effSort.head, effSort(1))
            val r = base.agg(
              min(col(a).cast("double")), max(col(a).cast("double")),
              min(col(b).cast("double")), max(col(b).cast("double"))).head()
            if (r.isNullAt(0) || r.isNullAt(2))
              rangeParted(effSort.map(col)).sortWithinPartitions(
                (col("_p") +: effSort.map(col)): _*)
            else {
              val z = ZOrderLayout.zValue(
                ZOrderLayout.cellOf(col(a), r.getDouble(0), r.getDouble(1),
                  65536),
                ZOrderLayout.cellOf(col(b), r.getDouble(2), r.getDouble(3),
                  65536))
              rangeParted(Seq(z)).sortWithinPartitions(col("_p"), z)
            }
          }
          else rangeParted(effSort.map(col)).sortWithinPartitions(
            (col("_p") +: effSort.map(col)): _*)
        laid.write.mode("overwrite")
          .option("compression", "zstd").partitionBy("_p")
          .parquet(s"$path/data/$gen")
      } finally cached.foreach(_.unpersist())
    }
    genName match {
      case None =>
        val gen = "gen-" +
          java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        writeTo(gen)
        val entries = list(gen)
        if (entries.isEmpty) // empty batch: nothing references the dir
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/$gen"), true)
        entries
      case Some(gen) =>
        val stage =
          s".$gen.${java.util.UUID.randomUUID().toString.take(8)}.stage"
        writeTo(stage)
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          new java.net.URI(path), df.sparkSession.sparkContext.hadoopConfiguration)
        val target = new org.apache.hadoop.fs.Path(s"$path/data/$gen")
        try fc.rename(new org.apache.hadoop.fs.Path(s"$path/data/$stage"),
          target) // default Rename.NONE: fails if the gen already exists
        catch {
          case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                    _: java.io.IOException) =>
            if (!fs.exists(target)) throw e
            // dir race lost: a concurrent delivery of the SAME key already
            // published this gen — adopt it, discard our staging copy
            fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/$stage"), true)
        }
        list(gen)
    }
  }

  // ---- gen-level column statistics (manifest data skipping) --------------
  //
  // The Iceberg file-stats argument at GEN granularity: each manifest dir
  // field may carry a min/max blob for the store's declared stats columns
  // (`_statscols`, physical names), separated from the dir path by U+0002
  // — a control character escapePathName always %-escapes, so no partition
  // value or column name can forge it. [[readWhere]] evaluates a predicate
  // against each dir's blob BEFORE Spark ever lists a file: a time-range
  // read of an append-heavy store opens only the appended gens whose range
  // overlaps — the within-partition counterpart of the manifest's
  // partition pruning (and of LogTableWriter's file-level time skip), and
  // at 100 TB the difference between "list+footer-probe every gen of the
  // partition" and "open the two gens that matter". Stats ride INSIDE the
  // manifest entry text, so they copy forward verbatim with untouched
  // entries, share segments content-addressed, and cost commits one
  // |batch|-sized aggregate over the just-written gen (read back from the
  // page-hot files, not a lineage recompute). Dirs without a blob
  // (pre-stats commits) are conservatively read. Supported stat types:
  // integral, floating, date, timestamp, and (r14) string — string
  // bounds follow Iceberg's public truncate(N) discipline, see
  // [[stringBounds]]. Since r15 every field also carries per-column
  // NULL/row counts (Iceberg's null_value_counts, re-derived): IS NULL
  // prunes null-free gens, IS NOT NULL prunes all-NULL gens — the
  // reference's own parse-failure path (R4) MANUFACTURES nulls, so
  // "find the corrupt rows" is a first-week predicate on a log table —
  // and a column ABSENT from a gen's files records an all-NULL field
  // (it reads NULL under the union schema), so schema-evolution
  // backfills prune too. Pre-r15 blobs parse with no counts and stay
  // conservative under NULL predicates.




  /** Declared stats columns (physical names), empty when never declared.
    * A writer-side hint only: [[readWhere]] trusts per-dir blobs, never
    * this file, so a lost/partial declaration degrades to fewer stats.
    */
  private[graft] def statsColsOf(spark: SparkSession, path: String): Seq[String] = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, "_statscols")
    if (!fs.exists(p)) Nil
    else readFileUtf8(fs, p).split("\n").filter(_.nonEmpty)
      .map(Esc.unescapePathName).toSeq
  }

  /** Declared clustering columns (physical names, `_sortcols`), empty
    * when never declared. A writer-side LAYOUT hint with the same trust
    * model as `_statscols`: every [[writeGen]] sorts its partition
    * slices by these before writing, readers never consult the file —
    * a lost declaration degrades to unsorted (correct, just less
    * page-skippable) gens.
    */
  private[graft] def sortColsOf(spark: SparkSession, path: String): Seq[String] =
    sortSpecOf(spark, path)._1

  /** The `_sortcols` MODE marker for z-order clustering. A control
    * character leads it, so no escaped column name can collide (the file
    * stores escapePathName'd lines; escapePathName always %-escapes
    * control characters, and column names are validated against them).
    */
  private[storage] val ZOrderMarker = "\u0001zorder"

  /** The declared clustering: (physical columns, zOrdered). Lexicographic
    * when the marker is absent — every pre-marker `_sortcols` file parses
    * forever.
    */
  private[graft] def sortSpecOf(spark: SparkSession,
                                path: String): (Seq[String], Boolean) = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, "_sortcols")
    if (!fs.exists(p)) return (Nil, false)
    val lines = readFileUtf8(fs, p).split("\n").filter(_.nonEmpty)
      .map(Esc.unescapePathName).toSeq
    (lines.filterNot(_ == ZOrderMarker), lines.contains(ZOrderMarker))
  }

  /** Declares (or replaces — declare-later, like [[backfillStats]]) the
    * store's clustering columns, LOGICAL names: every subsequent write
    * path — append, merge, DML rewrite, branch write, sink batch,
    * compaction without an explicit override — sorts rows within each
    * partition slice by these columns before writing, so parquet
    * row-group bounds stay tight (the reference's own
    * `ORDER BY (logdate, logdatetime)` table discipline,
    * /root/reference/nginx.click:1, as a store property). Existing gens
    * are NOT rewritten — [[compactPartitions]] re-clusters them (its
    * default sort is this declaration too).
    */
  def declareSortCols(spark: SparkSession, path: String,
                      sortCols: Seq[String],
                      zorder: Boolean = false): Unit = {
    require(sortCols.nonEmpty, "declareSortCols needs at least one column")
    require(!zorder || sortCols.size == 2,
      "z-order clustering takes exactly TWO columns (the Morton " +
        "interleave is 2-D; a third dim dilutes both others — declare " +
        "the two the box probes actually filter on)")
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val renames = readRenames(spark, path, head)
    val physSchema = versionSchema(spark, path, head)
    val logical = physSchema.fieldNames.map(n => renames.getOrElse(n, n))
    val phys = sortCols.map { c =>
      require(logical.contains(c),
        s"declareSortCols column '$c' is not in the store's schema " +
          s"(${logical.mkString(", ")})")
      physicalCol(c, renames)
    }
    if (zorder) {
      import org.apache.spark.sql.types._
      phys.foreach { pc =>
        val dt = physSchema(pc).dataType
        val ok = dt match {
          case ByteType | ShortType | IntegerType | LongType |
               FloatType | DoubleType | TimestampType => true
          case _ => false
        }
        require(ok,
          s"z-order dim '$pc' has type $dt — the cell bucketing needs a " +
            "numeric or timestamp domain (for dates, declare an " +
            "epoch-day column)")
      }
    }
    SnapshotBackfill.replaceColsFile(spark, path, "_sortcols",
      if (zorder) ZOrderMarker +: phys else phys)
  }

  /** Per-partition-value stats blobs for the just-written gen, read back
    * from its OWN files (page-hot; never a lineage recompute): one
    * |gen|-sized aggregate, |touched partitions| rows collected. The
    * partition key is the `_p` PARTITION COLUMN read under an EXPLICIT
    * StringType schema: pinning the type bypasses partition-column type
    * inference (a value like "2024-01-01" or "007" would otherwise come
    * back as a Date or an Int and mis-key the lookup against
    * [[writeGen]]'s dir names), and Spark's partition parsing applies
    * exactly ONE Hive unescape to the dir name — the writer's one
    * escape. The previously-used `input_file_name()` route is URL-
    * encoded on top of the Hive escape, so any value with a character
    * both layers touch (':', '=', '%', '#') double-encoded and its
    * stats silently never attached.
    * Non-finite float/double bounds (a NaN row makes min/max NaN) record
    * NO bound — a blob carrying "NaN" would permanently break every
    * later [[readWhere]] on the store.
    */
  /** Per-(partition dir) stats blobs for one gen. Served from the gen's
    * parquet FOOTERS when the footer evidence proves the exact blob the
    * aggregate would render (r18 — O(files) driver metadata reads, zero
    * Spark jobs per commit; see [[SnapshotFileStats.genBlobs]] for the
    * proven-parity map); any unprovable shape falls back to the original
    * full-scan aggregate, so the blob text never depends on which path
    * ran (SnapshotFooterStatsSpec pins the equality type by type).
    */
  private[graft] def genStats(spark: SparkSession, path: String, gen: String,
                       statsCols: Seq[String]): Map[String, String] =
    if (statsCols.isEmpty) Map.empty
    else SnapshotFileStats.genBlobs(spark, path, gen, statsCols)
      .getOrElse(genStatsAgg(spark, path, gen, statsCols))

  /** The full-scan aggregate codec — the fallback (and parity oracle)
    * for [[genStats]]'s footer fast path.
    */
  private[graft] def genStatsAgg(spark: SparkSession, path: String,
                       gen: String,
                       statsCols: Seq[String]): Map[String, String] = {
    if (statsCols.isEmpty) return Map.empty
    val genPath = s"$path/data/$gen"
    // footer probe only for the gen's DATA schema; `_p` re-pinned to string
    val inferred = spark.read.parquet(genPath).schema
    val pinned = org.apache.spark.sql.types.StructType(inferred.map(f =>
      if (f.name == "_p") f.copy(dataType = org.apache.spark.sql.types.StringType)
      else f))
    val df = spark.read.schema(pinned).parquet(genPath)
      .withColumn("_pdir", col("_p"))
    // grammar v2 (r15): every declared column gets a field — bounds where
    // the type supports them AND the slice has usable min/max, plus
    // per-column NULL/row counts always (Iceberg's null_value_counts,
    // re-derived). A declared column ABSENT from the gen's files reads
    // all-NULL under the union schema, so it records a counts-only
    // all-NULL field — "find the corrupt rows" (`IS NOT NULL` on a field
    // the parse-failure path left unset) then skips clean gens entirely.
    val presentAll = statsCols.filter(df.columns.contains)
    val boundable = presentAll
      .filter(c => supportedStatsType(df.schema(c).dataType)).toSet
    val absent = statsCols.filterNot(df.columns.contains)
    def finite(v: Any): Boolean = v match {
      case d: java.lang.Double => !d.isNaN && !d.isInfinite
      case f: java.lang.Float => !f.isNaN && !f.isInfinite
      case _ => true
    }
    val aggs = presentAll.flatMap { c =>
      val cnt = count(col(c)).as(s"cnt_$c")
      if (boundable(c))
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"), cnt)
      else Seq(cnt)
    } :+ count(lit(1)).as("_rows")
    val rows = df.groupBy(col("_pdir"))
      .agg(aggs.head, aggs.tail: _*).collect()
    rows.flatMap { r =>
      val blob = blobOfRow(r, statsCols, absent.toSet, boundable,
        c => df.schema(c).dataType)
      // _pdir is the partition VALUE (already exactly-once unescaped by
      // Spark's partition parsing) — a second unescape would mis-key any
      // value containing a literal '%XX'
      if (blob.isEmpty) None else Some(r.getString(0) -> blob)
    }.toMap
  }

  /** Renders one aggregate row (the `cnt_/min_/max_/_rows` layout both
    * [[genStats]] and [[genStatsBatch]] produce) into a stats blob —
    * shared so the per-commit and batched-backfill paths cannot drift.
    */
  private def blobOfRow(r: org.apache.spark.sql.Row, statsCols: Seq[String],
                        absent: Set[String], boundable: String => Boolean,
                        dtOf: String => org.apache.spark.sql.types.DataType)
      : String = {
    def finite(v: Any): Boolean = v match {
      case d: java.lang.Double => !d.isNaN && !d.isInfinite
      case f: java.lang.Float => !f.isNaN && !f.isInfinite
      case _ => true
    }
    val total = r.getLong(r.fieldIndex("_rows"))
    statsCols.flatMap { c =>
      val key = Esc.escapePathName(c)
      if (absent.contains(c)) Some(s"$key=$NoBoundsCode:::$total:$total")
      else {
        val nulls = total - r.getLong(r.fieldIndex(s"cnt_$c"))
        val counts = s":$nulls:$total"
        def noBounds = Some(s"$key=$NoBoundsCode::$counts")
        if (!boundable(c)) noBounds
        else {
          val mn = r.get(r.fieldIndex(s"min_$c"))
          val mx = r.get(r.fieldIndex(s"max_$c"))
          if (mn == null || mx == null || !finite(mn) || !finite(mx))
            noBounds
          else dtOf(c) match {
            case org.apache.spark.sql.types.StringType =>
              stringBounds(mn.toString, mx.toString).map { case (lo, hi) =>
                // grammar v3: record which sides are EXACT (untruncated)
                // — short strings (verbs, levels, prefixes) then serve
                // min/max from metadata, truncated ones stay prune-only
                val flags = (if (lo == mn.toString) 1 else 0) |
                  (if (hi == mx.toString) 2 else 0)
                s"$key=s:${escapeStatValue(lo)}:${escapeStatValue(hi)}" +
                  s"$counts:$flags"
              }.orElse(noBounds) // increment overflow: counts still pay
            case dt =>
              Some(s"$key=${statCode(dt)}:${statValue(mn)}:" +
                s"${statValue(mx)}$counts")
          }
        }
      }
    }.mkString(";")
  }

  /** [[genStats]] for MANY gens in ≤|eras| Spark jobs — the backfill
    * scale path (O(gens) driver-looped aggregates would take hours at a
    * 10k-gen store): the head's LEAF partition dirs are read as one
    * union under the head's PHYSICAL schema (leaf dirs hold only files,
    * so no partition-discovery conflict across gen roots — the same
    * read shape countWhere's residual scan uses) and aggregated grouped
    * by (gen, partition value). The gen key rides `input_file_name()` —
    * gen names are `gen-` + lowercase hex by construction (random or
    * md5-derived), so the URL-encoding hazard that rules that function
    * out for partition VALUES (see [[genStats]]) cannot touch them —
    * and the partition key is the recorded partition COLUMN cast to
    * string, the exact expression writeGen derived the dir names from.
    * A declared column absent from a gen's files reads NULL under the
    * pinned union schema, which renders the exact all-NULL counts-only
    * field [[genStats]] records for an absent column — the two paths
    * produce identical blob text by construction ([[blobOfRow]] is
    * shared; SnapshotBackfillSpec pins the equality). Falls back to the
    * per-gen codec when the store predates the `_partcol` record.
    */
  private[graft] def genStatsBatch(spark: SparkSession, path: String,
      leafDirs: Seq[String], statsCols: Seq[String],
      physSchema: org.apache.spark.sql.types.StructType)
      : Map[String, Map[String, String]] = {
    if (statsCols.isEmpty || leafDirs.isEmpty) return Map.empty
    val byGen: Map[String, Seq[String]] = leafDirs
      .groupBy(_.split("/").lift(1).getOrElse("")) - ""
    def perGen(gs: Iterable[String]) = gs.toSeq.sorted.map(g =>
      g -> genStats(spark, path, g, statsCols)).toMap
    // r19: the footer fast path serves the BATCH tier too — each gen
    // whose footers prove the exact blobs drops out of the aggregate
    // entirely (driver metadata reads, zero Spark jobs); only unproven
    // gens ride the era-batched aggregate below. A store-written
    // backfill then pays no stats-scan job at all.
    val footerProved: Map[String, Map[String, String]] =
      byGen.flatMap { case (g, dirs) =>
        SnapshotFileStats.genBlobs(spark, path, g, statsCols).flatMap { m =>
          // the caller may name a SUBSET of the gen's dirs — serve
          // exactly the requested partition values, all or nothing
          val wanted = dirs.flatMap(_.split("/").lift(2))
            .filter(_.startsWith("_p="))
            .map(n => Esc.unescapePathName(n.stripPrefix("_p=")))
          if (wanted.nonEmpty && wanted.forall(m.contains))
            Some(g -> wanted.map(v => v -> m(v)).toMap)
          else None
        }
      }
    val unproved = byGen -- footerProved.keySet
    if (unproved.isEmpty) return footerProved
    def withProved(rest: Map[String, Map[String, String]]) =
      footerProved ++ rest
    val gens = unproved.keys.toSeq.sorted
    if (gens.size == 1) return withProved(perGen(gens))
    val specs = allPartSpecs(spark, path).distinct
    if (specs.isEmpty) return withProved(perGen(gens))
    import org.apache.spark.sql.types.StructType
    val pinned = StructType(physSchema.fields.filterNot(_.name == "_p"))
    // ERA attribution by key ARITY (r18): a gen is written entirely
    // under ONE spec, and the key grammar makes arity name that spec —
    // single-column keys RESERVE the separator ([[partKeyExprCols]]),
    // n-col keys carry exactly n %-encoded parts — so whenever exactly
    // one recorded era has a gen's arity, the attribution is PROVABLY
    // that era, and the store runs ONE batched aggregate per era
    // (≤|eras| jobs — eras are few by construction) instead of the
    // per-gen driver loop the r17 multi-spec bail degraded to. Gens
    // whose arity two eras share (two same-arity evolutions — no shape
    // can tell them apart) take the per-gen codec, era-exact.
    val specByArity: Map[Int, Seq[String]] = specs
      .map(splitPartCols).groupBy(_.size)
      .collect { case (n, Seq(one))
        if one.forall(pinned.fieldNames.contains) => n -> one }
    def arityOf(dir: String): Option[Int] = {
      val name = dir.split("/").lift(2).getOrElse("")
      if (!name.startsWith("_p=")) None
      else Some(Esc.unescapePathName(name.stripPrefix("_p="))
        .split(PartSep, -1).length)
    }
    val (attributed, odd) = unproved.partition { case (_, dirs) =>
      val ar = dirs.flatMap(arityOf).distinct
      ar.size == 1 && specByArity.contains(ar.head)
    }
    val byEra = attributed.groupBy { case (_, dirs) =>
      specByArity(dirs.flatMap(arityOf).distinct.head) }
    val batched = byEra.toSeq.map { case (pcs, eraGens) =>
      genStatsBatchJob(spark, path, eraGens.values.flatten.toSeq.sorted,
        statsCols, pinned, pcs)
    }.foldLeft(Map.empty[String, Map[String, String]])(_ ++ _)
    withProved(batched ++ perGen(odd.keys))
  }

  /** One batched (gen, partition)-grouped stats aggregate over `dirs`,
    * all of which hold keys of ONE era's spec `pcs` — the per-era job
    * [[genStatsBatch]] fans out to.
    */
  private def genStatsBatchJob(spark: SparkSession, path: String,
      dirs: Seq[String], statsCols: Seq[String],
      pinned: org.apache.spark.sql.types.StructType, pcs: Seq[String])
      : Map[String, Map[String, String]] = {
    val df = spark.read.schema(pinned)
      .parquet(dirs.map(d => s"$path/$d"): _*)
      .withColumn("_gen", regexp_extract(input_file_name(),
        "/data/(gen-[0-9a-f]+)/", 1))
      .withColumn("_pdir", partKeyExpr(pcs))
    val present = statsCols.filter(c => pinned.fieldNames.contains(c))
    val absent = statsCols.filterNot(c => pinned.fieldNames.contains(c))
    val boundable = present
      .filter(c => supportedStatsType(pinned(c).dataType)).toSet
    val aggs = present.flatMap { c =>
      val cnt = count(col(c)).as(s"cnt_$c")
      if (boundable(c))
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"), cnt)
      else Seq(cnt)
    } :+ count(lit(1)).as("_rows")
    val rows = df.groupBy(col("_gen"), col("_pdir"))
      .agg(aggs.head, aggs.tail: _*).collect()
    rows.filter(r => !r.isNullAt(1)).groupBy(_.getString(0))
      .map { case (gen, rs) =>
        gen -> rs.flatMap { r =>
          val blob = blobOfRow(r, statsCols, absent.toSet, boundable,
            c => pinned(c).dataType)
          if (blob.isEmpty) None else Some(r.getString(1) -> blob)
        }.toMap
      }
  }

  // tri-state pruning verdict: NoMatch means PROVABLY no row in the dir
  // can satisfy the predicate; AllMatch (r15) means PROVABLY every row
  // does (three-valued logic priced in: a comparison's AllMatch requires
  // a recorded null count of ZERO — a NULL row satisfies nothing);
  // anything unprovable stays MightMatch. NoMatch feeds readWhere's
  // pruning; AllMatch feeds countWhere's metadata-only aggregation.
  private[storage] sealed trait Prune
  private[storage] case object MightMatch extends Prune
  private[storage] case object NoMatch extends Prune
  private[storage] case object AllMatch extends Prune

  /** Conservative predicate-vs-stats evaluator over the ANALYZED tree
    * ([[readWhere]] resolves the predicate against the version's logical
    * schema first, so literals arrive typed in Catalyst's internal
    * representations — epoch days / epoch micros, exactly the blob
    * domain — and string-vs-date/timestamp comparisons fold to typed
    * literals). Handles And/Or over binary comparisons of a column
    * against a foldable expression (either side); the column side may be
    * wrapped in an EXACT widening cast (integral→integral,
    * float→double — a long→double cast is NOT unwrapped: its rounding
    * could mis-prune a boundary row). NULL predicates (`IsNull`,
    * `IsNotNull`, their `Not(...)` forms, `<=> NULL`) prune via the
    * blob's null/row counts (r15), and an ALL-NULL slice prunes under
    * any comparison/prefix shape outright. Every other shape, every
    * mixed or unbounded column: MightMatch. Comparisons run in
    * BigDecimal so long bounds past 2^53 cannot be mis-pruned by double
    * rounding.
    */
  private[storage] def evalPrune(e: org.apache.spark.sql.catalyst.expressions.Expression,
                        stats: Map[String, ColStat],
                        logicalToPhysical: Map[String, String]): Prune = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def exactWidening(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType | ShortType | IntegerType | LongType,
            ShortType | IntegerType | LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    def attrName(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case c: Cast => c.child match {
        case a: AttributeReference
          if exactWidening(a.dataType, c.dataType) => Some(a.name)
        case _ => None
      }
      case _ => None
    }
    def asLit(x: Expression): Option[Literal] = x match {
      case l: Literal => Some(l)
      case f if f.foldable && !f.exists(_.isInstanceOf[AttributeReference]) =>
        try Some(Literal.create(f.eval(), f.dataType))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
    // literal (internal representation) in the column's stat domain
    def litVal(l: Literal, code: Char): Option[BigDecimal] =
      if (l.value == null) None
      else (l.dataType, code) match {
        case (ByteType | ShortType | IntegerType | LongType, 'l' | 'd') =>
          Some(BigDecimal(l.value.toString))
        case (FloatType | DoubleType, 'l' | 'd') =>
          val d = l.value.toString.toDouble
          if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
        case (DateType, 'a') => Some(BigDecimal(l.value.toString)) // days
        case (TimestampType, 't') => Some(BigDecimal(l.value.toString)) // µs
        case (TimestampNTZType, 'n') => // naive µs; never mixed with 't'
          Some(BigDecimal(l.value.toString))
        case _ => None
      }
    def strCmp(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    // (compare(lo, v), compare(hi, v)) in the column's stat domain —
    // numeric codes compare as BigDecimal (long bounds past 2^53 cannot
    // be mis-pruned by double rounding), code 's' compares in UTF8String
    // byte order (the order Spark's min/max and string filters use;
    // java.lang.String's char order DIVERGES past the BMP and would
    // mis-prune supplementary characters)
    def compares(l: Literal, code: Char, loS: String,
                 hiS: String): Option[(Int, Int)] =
      if (l.value == null) None
      else (l.dataType, code) match {
        case (StringType, 's') =>
          val v = l.value.toString
          Some((strCmp(loS, v), strCmp(hiS, v)))
        case _ =>
          litVal(l, code).map(v =>
            (BigDecimal(loS).compare(v), BigDecimal(hiS).compare(v)))
      }
    def statOf(name: String): Option[ColStat] =
      stats.get(logicalToPhysical.getOrElse(name, name))
    // an ALL-NULL slice fails every comparison/prefix predicate (the
    // expression is NULL for every row — filtered), so any such shape
    // prunes outright; a counts-only field (NoBoundsCode) that is NOT
    // all-NULL carries no bound to compare against
    // AllMatch additionally requires nulls == 0 (a NULL row satisfies no
    // comparison) — which also guarantees the rows count countWhere needs
    // is recorded (both ride the v2 grammar)
    def cmp(name: String, lit: Literal,
            noMatchIf: (Int, Int) => Boolean,
            allMatchIf: (Int, Int) => Boolean = (_, _) => false): Prune =
      statOf(name) match {
        case Some(st) if st.allNull => NoMatch
        case Some(st) if st.code != NoBoundsCode =>
          compares(lit, st.code, st.lo, st.hi) match {
            case Some((cLo, cHi)) =>
              if (noMatchIf(cLo, cHi)) NoMatch
              else if (st.nulls.contains(0L) && allMatchIf(cLo, cHi))
                AllMatch
              else MightMatch
            case None => MightMatch
          }
        case _ => MightMatch
      }
    // `col` has prefix `p` ⟹ p ≤ col < incrementLast(p): NoMatch when
    // hi < p, or lo ≥ the increment (when one exists); AllMatch when the
    // whole [lo, hi] range sits inside [p, incrementLast(p)) and no row
    // is NULL (lo ≤ min and hi ≥ max hold under truncation, so the
    // containment transfers to the real values)
    def prefixPrune(name: String, p: String): Prune =
      statOf(name) match {
        case Some(st) if st.allNull => NoMatch
        case Some(st) if st.code == 's' =>
          val hiBelow = strCmp(st.hi, p) < 0
          val loAbove = incrementLastCodePoint(p)
            .exists(u => strCmp(st.lo, u) >= 0)
          if (hiBelow || loAbove) NoMatch
          else if (st.nulls.contains(0L) && strCmp(st.lo, p) >= 0 &&
            incrementLastCodePoint(p).exists(u => strCmp(st.hi, u) < 0))
            AllMatch
          else MightMatch
        case _ => MightMatch
      }
    // NULL-predicate pruning (r15): a gen whose recorded null count is 0
    // cannot satisfy IS NULL (and satisfies IS NOT NULL whole); an
    // all-NULL gen cannot satisfy IS NOT NULL (and satisfies IS NULL
    // whole). v1 blobs (no counts) stay MightMatch.
    def nullPruneName(name: String, wantNull: Boolean): Prune =
      statOf(name) match {
        case Some(st) if wantNull =>
          if (st.nulls.contains(0L)) NoMatch
          else if (st.allNull) AllMatch
          else MightMatch
        case Some(st) =>
          if (st.allNull) NoMatch
          else if (st.nulls.contains(0L)) AllMatch
          else MightMatch
        case _ => MightMatch
      }
    def nullPrune(x: Expression, wantNull: Boolean): Prune =
      attrName(x).map(nullPruneName(_, wantNull)).getOrElse(MightMatch)
    // (column, literal, flipped) with flipped = the literal was on the left
    def sides(c: BinaryComparison): Option[(String, Literal, Boolean)] =
      (attrName(c.left), asLit(c.right), attrName(c.right), asLit(c.left)) match {
        case (Some(a), Some(l), _, _) => Some((a, l, false))
        case (_, _, Some(a), Some(l)) => Some((a, l, true))
        case _ => None
      }
    e match {
      case And(l, r) =>
        (evalPrune(l, stats, logicalToPhysical),
          evalPrune(r, stats, logicalToPhysical)) match {
          case (NoMatch, _) | (_, NoMatch) => NoMatch
          case (AllMatch, AllMatch) => AllMatch
          case _ => MightMatch
        }
      case Or(l, r) =>
        (evalPrune(l, stats, logicalToPhysical),
          evalPrune(r, stats, logicalToPhysical)) match {
          case (AllMatch, _) | (_, AllMatch) => AllMatch
          case (NoMatch, NoMatch) => NoMatch
          case _ => MightMatch
        }
      // a foldable TRUE filter (countWhere's "count everything" shape)
      // holds for every row; FALSE or NULL for none
      case Literal(true, BooleanType) => AllMatch
      case Literal(false, BooleanType) => NoMatch
      case Literal(null, BooleanType) => NoMatch
      case c: GreaterThan => sides(c).map {
        case (a, l, false) => cmp(a, l, // col > v
          (_, cHi) => cHi <= 0, (cLo, _) => cLo > 0)
        case (a, l, true) => cmp(a, l, // v > col
          (cLo, _) => cLo >= 0, (_, cHi) => cHi < 0)
      }.getOrElse(MightMatch)
      case c: GreaterThanOrEqual => sides(c).map {
        case (a, l, false) => cmp(a, l,
          (_, cHi) => cHi < 0, (cLo, _) => cLo >= 0)
        case (a, l, true) => cmp(a, l,
          (cLo, _) => cLo > 0, (_, cHi) => cHi <= 0)
      }.getOrElse(MightMatch)
      case c: LessThan => sides(c).map {
        case (a, l, false) => cmp(a, l,
          (cLo, _) => cLo >= 0, (_, cHi) => cHi < 0)
        case (a, l, true) => cmp(a, l,
          (_, cHi) => cHi <= 0, (cLo, _) => cLo > 0)
      }.getOrElse(MightMatch)
      case c: LessThanOrEqual => sides(c).map {
        case (a, l, false) => cmp(a, l,
          (cLo, _) => cLo > 0, (_, cHi) => cHi <= 0)
        case (a, l, true) => cmp(a, l,
          (_, cHi) => cHi < 0, (cLo, _) => cLo >= 0)
      }.getOrElse(MightMatch)
      case c: EqualTo => sides(c).map {
        case (a, l, _) => cmp(a, l,
          (cLo, cHi) => cLo > 0 || cHi < 0,
          (cLo, cHi) => cLo == 0 && cHi == 0) // lo == v == hi: all equal
      }.getOrElse(MightMatch)
      case c: EqualNullSafe => sides(c).map {
        case (a, l, _) =>
          // `col <=> NULL` holds exactly for NULL rows: prune via the
          // null counts (a null-free gen cannot match); non-null `<=>`
          // behaves as `=` on a null-free gen
          if (l.value == null) nullPruneName(a, wantNull = true)
          else cmp(a, l,
            (cLo, cHi) => cLo > 0 || cHi < 0,
            (cLo, cHi) => cLo == 0 && cHi == 0)
      }.getOrElse(MightMatch)
      // IN-list: NoMatch only when EVERY non-null element lies outside
      // the bounds (a NULL element can never make the predicate TRUE for
      // a non-matching row — `k IN (1, NULL)` is NULL, filtered — so it
      // is ignorable; an all-NULL/empty list can never match); AllMatch
      // when ANY single element is provably every row's value
      case in: In =>
        attrName(in.value).map { a =>
          val lits = in.list.map(asLit)
          if (lits.exists(_.isEmpty)) MightMatch // non-literal element
          else {
            val verdicts = lits.flatten.filter(_.value != null).map(l =>
              cmp(a, l, (cLo, cHi) => cLo > 0 || cHi < 0,
                (cLo, cHi) => cLo == 0 && cHi == 0))
            if (verdicts.contains(AllMatch)) AllMatch
            else if (verdicts.forall(_ == NoMatch)) NoMatch
            else MightMatch
          }
        }.getOrElse(MightMatch)
      case IsNull(x) => nullPrune(x, wantNull = true)
      case IsNotNull(x) => nullPrune(x, wantNull = false)
      case Not(IsNull(x)) => nullPrune(x, wantNull = false)
      case Not(IsNotNull(x)) => nullPrune(x, wantNull = true)
      case sw: StartsWith =>
        (attrName(sw.left), asLit(sw.right)) match {
          case (Some(a), Some(l))
            if l.value != null && l.dataType == StringType =>
            prefixPrune(a, l.value.toString)
          case _ => MightMatch
        }
      // a pure-prefix LIKE ('abc%': one trailing %, no other wildcard or
      // escape) prunes like StartsWith — the ANALYZED tree still holds
      // Like (the StartsWith rewrite is an optimizer rule, and the
      // optimizer would fold a filter over the empty analysis relation
      // away entirely)
      case lk: Like =>
        (attrName(lk.left), asLit(lk.right)) match {
          case (Some(a), Some(l))
            if l.value != null && l.dataType == StringType =>
            val pat = l.value.toString
            val body = pat.dropRight(1)
            if (pat.nonEmpty && pat.endsWith("%") &&
              !body.exists(ch => ch == '%' || ch == '_' ||
                ch == lk.escapeChar))
              prefixPrune(a, body)
            else MightMatch
          case _ => MightMatch
        }
      case _ => MightMatch
    }
  }

  /** Analyzes `pred` against `logicalSchema` — a zero-row analysis (no
    * I/O): literals arrive typed in Catalyst's internal forms (epoch
    * days/micros — the blob domain), implicit casts land explicitly,
    * unknown columns fail as loudly as `read().filter` would.
    */
  private[storage] def analyzed(spark: SparkSession,
      logicalSchema: org.apache.spark.sql.types.StructType,
      pred: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      logicalSchema).filter(pred)
      .queryExecution.analyzed match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      case _ => org.apache.spark.sql.catalyst.expressions.Literal(true)
    }

  /** The `fields` whose stats blobs do not prove the analyzed `expr`
    * unsatisfiable — [[readWhere]]'s min/max pruning core.
    */
  private def survivingFields(fields: Seq[String],
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      logicalToPhysical: Map[String, String]): Seq[String] =
    fields.filter(f => statsOf(f).forall(blob =>
      evalPrune(expr, parseStats(blob), logicalToPhysical) != NoMatch))

  /** NEEDLE pass (r15): `fields` minus the gens whose bloom sidecars
    * prove an equality/IN conjunct on a declared bloom column absent —
    * the lookup min/max cannot serve (a uniform key overlaps every gen's
    * range). One tiny sidecar read per gen, none when nothing is
    * declared or `expr` has no probe.
    */
  private def needleKept(spark: SparkSession, path: String,
      fields: Seq[String],
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      logicalToPhysical: Map[String, String]): Seq[String] = {
    val kept = SnapshotBloom.prune(spark, path, fields.map(dirOf),
      SnapshotBloom.probesOf(expr, logicalToPhysical,
        SnapshotBloom.bloomColsOf(spark, path).toSet)).toSet
    fields.filter(f => kept(dirOf(f)))
  }

  /** The partition VALUES `pred` provably restricts the recorded
    * partition column to — read from the predicate's top-level
    * CONJUNCTS (equality / IN / non-null `<=>` of the partition
    * column's logical name against string literals). Restricted to
    * StringType partition columns: the string literal's text IS the
    * manifest key (writeGen keys dirs by `cast("string")` of the
    * value), so no rendering mismatch is possible; any other type, any
    * other predicate shape: None (no restriction — correctness never
    * depends on this, [[readWhere]] still applies the full predicate).
    */
  /** The equality/IN-constrained value set of ONE string column, from
    * the predicate's top-level conjuncts (None = unconstrained).
    */
  private def constrainedSet(
      logicalSchema: org.apache.spark.sql.types.StructType,
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      colName: String): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.expressions._
    if (!logicalSchema.fieldNames.contains(colName) ||
      logicalSchema(colName).dataType !=
        org.apache.spark.sql.types.StringType) return None
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def strLit(x: Expression): Option[String] = x match {
      case l: Literal if l.dataType ==
        org.apache.spark.sql.types.StringType && l.value != null =>
        Some(l.value.toString)
      case _ => None
    }
    def isPart(x: Expression): Boolean = x match {
      case a: AttributeReference => a.name == colName
      case _ => false
    }
    val sets: Seq[Set[String]] = conjuncts(expr).flatMap {
      case EqualTo(a, l) if isPart(a) => strLit(l).map(Set(_))
      case EqualTo(l, a) if isPart(a) => strLit(l).map(Set(_))
      case EqualNullSafe(a, l) if isPart(a) => strLit(l).map(Set(_))
      case EqualNullSafe(l, a) if isPart(a) => strLit(l).map(Set(_))
      case In(a, list) if isPart(a) &&
        // every element a literal, each a string or an (ignorable —
        // it can never make the IN true) NULL
        list.forall {
          case l: Literal =>
            l.value == null ||
              l.dataType == org.apache.spark.sql.types.StringType
          case _ => false
        } =>
        Some(list.flatMap(strLit).toSet)
      case _ => None
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** The EXACT manifest-key set the predicate confines resolution to:
    * every component of the (possibly composite) partition spec carries
    * an equality/IN conjunct — keys are the cartesian product of the
    * constrained sets (capped: a blown-up product falls back to
    * [[partitionKeyPredOf]]'s filter, same result, no key explosion).
    */
  private[storage] def partitionValuesOf(spark: SparkSession, path: String,
      renames: Map[String, String],
      logicalSchema: org.apache.spark.sql.types.StructType,
      expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[Set[String]] = {
    val specs0 = allPartSpecs(spark, path)
    if (specs0.isEmpty) return None
    // EVERY distinct era must be fully constrained — the restriction is
    // then the UNION of each era's exact keys (an evolved store's
    // full-tuple probe stays an O(buckets) bucket lookup; any era left
    // unconstrained falls through to the per-era key filter)
    val keys = Set.newBuilder[String]
    var budget = 1024L
    specs0.distinct.foreach { spec =>
      val comps = splitPartCols(spec).map(pc => renames.getOrElse(pc, pc))
      val compSets = comps.map(constrainedSet(logicalSchema, expr, _))
      if (compSets.exists(_.isEmpty)) return None
      // single-column keys RESERVE the separator ([[partKeyExprCols]]):
      // a constrained value carrying U+0001 can never be a 1-col era's
      // key, so it enumerates no key there (and can never alias an
      // n-col era's composite key into this era's consumption)
      val sets = compSets.map(_.get) match {
        case Seq(one) if comps.size == 1 =>
          Seq(one.filter(!_.contains(PartSep)))
        case other => other
      }
      budget -= sets.map(_.size.toLong).product
      if (budget < 0L) return None
      val product = sets.foldLeft(Seq(Seq.empty[String])) { (acc, s) =>
        acc.flatMap(prefix => s.toSeq.map(prefix :+ _))
      }
      keys ++= product.map(compositeKeyOf)
    }
    Some(keys.result())
  }

  /** A manifest-KEY filter from a PARTIAL constraint on a composite
    * spec ("day = X" over a day×tenant store): constrained components
    * must match (encoded-value comparison), unconstrained ones pass.
    * None for single-column specs (the exact path covers them) and when
    * nothing is constrained. Conservative on malformed keys (kept).
    */
  private[storage] def partitionKeyPredOf(spark: SparkSession,
      path: String,
      renames: Map[String, String],
      logicalSchema: org.apache.spark.sql.types.StructType,
      expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[String => Boolean] = {
    val specs0 = allPartSpecs(spark, path)
    if (specs0.isEmpty) return None
    val specs = specs0.distinct.map(sp =>
      splitPartCols(sp).map(pc => renames.getOrElse(pc, pc)))
    // single 1-col spec: the exact path covers equality; nothing partial
    if (specs.size == 1 && specs.head.size == 1) return None
    // per ERA: a key is attributed to every era whose SHAPE could have
    // produced it (a 1-col era to ANY key — raw values may contain the
    // separator; an n-col era only to n-component keys); keep the key
    // iff any candidate era accepts it, or no era's shape matches
    // (conservative on malformed keys)
    case class Era(n: Int, constrained: Seq[(Int, Set[String])])
    val eras = specs.map { comps =>
      Era(comps.size,
        comps.map(constrainedSet(logicalSchema, expr, _)).zipWithIndex
          .collect { case (Some(cs), i) =>
            i -> (if (comps.size == 1) cs else cs.map(encPartValue)) })
    }
    if (eras.forall(_.constrained.isEmpty)) return None
    Some { key =>
      val parts = key.split(PartSep, -1)
      // shape attribution is INJECTIVE: single-column keys reserve the
      // separator ([[partKeyExprCols]] refuses U+0001 at write time), so
      // a 1-col era is a candidate only for separator-free keys and an
      // n-col era only for exactly-n-part keys — no key has two
      // candidate eras with different component readings, which is what
      // makes [[consumedPartComps]]'s conjunct consumption sound on
      // evolved stores
      def candidate(e: Era) =
        if (e.n == 1) parts.length == 1 else parts.length == e.n
      eras.exists(e => candidate(e) && e.constrained.forall {
        case (i, set) =>
          if (e.n == 1) set.contains(key) else set.contains(parts(i))
      }) || !eras.exists(candidate)
    }
  }

  /** The partition components whose equality/IN conjuncts the
    * key-restricted resolution CONSUMED: every resolved partition's rows
    * satisfy those conjuncts by construction (the key encodes each
    * component's exact string value), so verdict-side evaluation may
    * treat them as TRUE — which turns "count rows of day X" into a pure
    * metadata read and "delete day X" into a metadata drop. Only sound
    * over a resolution that WAS restricted ([[Resolved]]'s `fields` or
    * `entries`, via [[verdictExpr]]); never over a full entry map.
    */
  private def consumedPartComps(spark: SparkSession,
      path: String, renames: Map[String, String],
      logicalSchema: org.apache.spark.sql.types.StructType,
      expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : Set[String] = {
    val specs = allPartSpecs(spark, path).distinct
    if (specs.isEmpty) return Set.empty
    val sizes = specs.map(sp => splitPartCols(sp).size).toSet
    // multi-spec: only a component EVERY era carries was enforced by
    // every era's restriction — an era whose keys never carried it
    // could not exclude violating partitions, so consuming its conjunct
    // would mis-verdict that era's fields. Cross-era key ATTRIBUTION is
    // injective because single-column keys reserve the component
    // separator ([[partKeyExprCols]] refuses U+0001 at write time): a
    // key containing the separator can only be a multi-col era's, a
    // separator-free key only a 1-col era's or an n-col era's whose
    // single part it is — and [[partitionKeyPredOf]]'s candidate rule
    // enforces exactly that shape discipline.
    val common = specs.map(sp => splitPartCols(sp)
      .map(c => renames.getOrElse(c, c)).toSet).reduce(_ intersect _)
    common.filter { c =>
      constrainedSet(logicalSchema, expr, c) match {
        case None => false
        // a 1-col era keys a NULL value by Spark's Hive sentinel dir
        // name — which COLLIDES with rows whose value is LITERALLY that
        // string. Resolution under the sentinel is over-inclusive (fine
        // for reads, the predicate re-applies) but consuming the
        // conjunct would verdict the partition's NULL rows as equal to
        // the sentinel — so any set carrying it keeps its conjunct.
        // (Composite components %-encode NULL as %00 — no collision.)
        case Some(vals) =>
          !sizes.contains(1) || !vals.contains(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .DEFAULT_PARTITION_NAME)
      }
    }
  }

  /** `expr` with the consumed partition-component conjuncts replaced by
    * TRUE (top-level And-conjuncts only — a disjunct branch is not a
    * conjunct and stays).
    */
  private def stripPartConjuncts(
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      consumed: Set[String])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    if (consumed.isEmpty) return expr
    def strLitOk(x: Expression): Boolean = x match {
      case l: Literal => l.value != null &&
        l.dataType == org.apache.spark.sql.types.StringType
      case _ => false
    }
    def isComp(x: Expression): Boolean = x match {
      case a: AttributeReference => consumed(a.name)
      case _ => false
    }
    def rewrite(e: Expression): Expression = e match {
      case And(l, r) => And(rewrite(l), rewrite(r))
      case EqualTo(a, l) if isComp(a) && strLitOk(l) => Literal(true)
      case EqualTo(l, a) if isComp(a) && strLitOk(l) => Literal(true)
      case EqualNullSafe(a, l) if isComp(a) && strLitOk(l) => Literal(true)
      case EqualNullSafe(l, a) if isComp(a) && strLitOk(l) => Literal(true)
      case In(a, list) if isComp(a) && list.forall {
          case l: Literal => l.value == null ||
            l.dataType == org.apache.spark.sql.types.StringType
          case _ => false
        } => Literal(true)
      case other => other
    }
    rewrite(expr)
  }

  /** The PARTIAL-probe plan: when the newest spec is composite (and no
    * other era shares its arity — injective attribution) and the
    * predicate constrains at least one of its components, the most
    * selective constrained component's position and ENCODED value set —
    * the component-index lookup [[partialEntries]] rides.
    */
  private def partialConstraint(spark: SparkSession, path: String,
      renames: Map[String, String],
      logicalSchema: org.apache.spark.sql.types.StructType,
      expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(Int, Set[String])] = {
    val specs = allPartSpecs(spark, path).distinct
    val newest = specs.lastOption.getOrElse(return None)
    val comps = splitPartCols(newest).map(c => renames.getOrElse(c, c))
    if (comps.size < 2 ||
      specs.count(splitPartCols(_).size == comps.size) > 1) return None
    val sets = comps.zipWithIndex.flatMap { case (c, i) =>
      constrainedSet(logicalSchema, expr, c)
        .map(s => i -> s.map(encPartValue)) }
    if (sets.isEmpty) None else Some(sets.minBy(_._2.size))
  }

  /** The head's entries RESTRICTED by the partial-constraint key filter
    * ("day = X, any tenant" — [[partitionKeyPredOf]]): resolved through
    * the head's per-COMPONENT index where one exists (O(touched
    * component buckets + old-era residue), the r18 scale path), by the
    * store-wide key filter otherwise. None when no partial constraint
    * applies at all — the caller keeps its unrestricted shape.
    */
  private[storage] def partialEntries(spark: SparkSession, path: String,
      v: Int, renames: Map[String, String],
      logicalSchema: org.apache.spark.sql.types.StructType,
      expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[Map[String, Seq[String]]] =
    partitionKeyPredOf(spark, path, renames, logicalSchema, expr).map {
      f =>
        val base = partialConstraint(spark, path, renames, logicalSchema,
          expr)
          .flatMap { case (ci, encVals) =>
            SnapshotFormat.readManifestComponent(spark, path, v, ci,
              encVals) }
          .getOrElse(readManifest(spark, path, v))
        base.filter { case (p, _) => f(p) }
    }

  /** Manifest FIELDS the predicate might touch (read-path resolution):
    * full-tuple restriction → O(touched buckets); partial composite
    * constraint → component-index (or key-filtered) resolve; otherwise
    * the dirs-only fast path (no value map built).
    */
  private[storage] def fieldsForExpr(spark: SparkSession, path: String,
      v: Int, renames: Map[String, String],
      logicalSchema: org.apache.spark.sql.types.StructType,
      expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] =
    partitionValuesOf(spark, path, renames, logicalSchema, expr) match {
      case Some(values) =>
        readManifestValues(spark, path, v, values.toSeq)
          .values.flatten.toSeq
      case None =>
        partialEntries(spark, path, v, renames, logicalSchema,
          expr) match {
          case Some(entries) => entries.values.flatten.toSeq
          case None => readManifestDirs(spark, path, v)
        }
    }

  /** `expr` for per-field verdicts over a key-restricted resolution
    * ([[Resolved]]'s `fields` and `entries`): the restriction already
    * enforced the consumed partition conjuncts, so they evaluate as TRUE
    * — "count rows of partition X" is a pure metadata read and "delete
    * day X" drops as metadata, even with no stats on the partition
    * column. Only when a restriction actually APPLIED (a blown-out
    * IN-list falls through both paths and must keep its conjuncts).
    */
  private[storage] def verdictExpr(spark: SparkSession, path: String,
      renames: Map[String, String],
      logicalSchema: org.apache.spark.sql.types.StructType,
      expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    if (partitionValuesOf(spark, path, renames, logicalSchema,
        expr).isDefined ||
      partitionKeyPredOf(spark, path, renames, logicalSchema,
        expr).isDefined)
      stripPartConjuncts(expr,
        consumedPartComps(spark, path, renames, logicalSchema, expr))
    else expr

  /** [[read]] with manifest-level DATA SKIPPING: gens whose recorded
    * min/max bounds prove `pred` unsatisfiable are never listed, opened,
    * or footer-probed — the scan plan's input is decided from the
    * manifest alone. `pred` is then applied in full on what survives
    * (stats are conservative, the filter is the semantics), so ANY
    * predicate is correct here; only its stats-expressible conjuncts
    * prune. SnapshotStatsSpec pins `inputFiles` ⊆ surviving dirs.
    *
    * PARTITION-KEY restriction (r15): an equality/IN conjunct on the
    * partition column restricts the resolution to those values' manifest
    * entries — O(touched buckets) on a segmented head, no stats needed
    * (the manifest KEY is the partition value). At a 1M-partition store,
    * `readWhere(p === 'x' && ts > t)` parses one bucket instead of the
    * store-wide dir list, then stats-prunes inside the survivors. A
    * [[Dml.Branch]] target prunes the staged tip the same way (staged
    * gens carry the same stats blobs and bloom sidecars) — the WAP
    * audit's pruned read.
    */
  def readWhere(spark: SparkSession, path: String,
                pred: org.apache.spark.sql.Column,
                version: Option[Int] = None,
                target: Dml.Target = Dml.Head): DataFrame = {
    val st = Resolved.of(spark, path, target, version)
    val expr = analyzed(spark, st.logicalSchema, pred)
    val fields = st.fields(st.logicalSchema, expr)
    // dirs prune (stats + needle), keeping the FIELD texts so the central
    // reader can apply any deletion vectors; everything pruned reads as
    // the empty frame directly (read().limit(0) would plan a parquet scan
    // over every gen dir — the exact listing cost pruning exists to
    // avoid, paid in the best-case scenario)
    st.read(needleKept(spark, path,
      survivingFields(fields, expr, st.logicalToPhysical), expr,
      st.logicalToPhysical)).filter(pred)
  }

  /** COUNT under `pred`, answered from the MANIFEST wherever provable —
    * the Iceberg/Delta metadata-aggregate argument (a public concept,
    * re-derived on the store's own stats): every v2 stats blob carries
    * per-(partition, gen) row counts, so a gen the tri-state evaluator
    * proves ALL-MATCH contributes its recorded rows with no file listed,
    * a NO-MATCH gen contributes zero, and only genuinely ambiguous gens
    * are scanned (with `pred` applied in full — correctness never rests
    * on the stats). `countWhere(lit(true))` over a fully-blobbed store is
    * a pure metadata operation: at a 1M-partition 100 TB store that is
    * the difference between "one manifest resolve" and "list + footer-
    * probe every file the table owns" — even parquet's own footer-count
    * shortcut still pays the full listing. Dirs without v2 counts
    * (pre-r15 blobs, stats-less stores) fall back to the scan path. A
    * [[Dml.Branch]] target counts the staged tip — the WAP audit's "how
    * many rows am I about to publish?".
    */
  def countWhere(spark: SparkSession, path: String,
                 pred: org.apache.spark.sql.Column,
                 version: Option[Int] = None,
                 target: Dml.Target = Dml.Head): Long =
    countWhereDetailed(spark, path, pred, version, target)._1

  /** [[countWhere]] plus the number of dirs the scan fallback opened —
    * the seam specs and the declared query pin metadata-only-ness on.
    */
  private[graft] def countWhereDetailed(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column,
      version: Option[Int] = None,
      target: Dml.Target = Dml.Head): (Long, Int) = {
    val st = Resolved.of(spark, path, target, version)
    val expr = analyzed(spark, st.logicalSchema, pred)
    // the same partition-KEY restriction readWhere rides: every excluded
    // entry counts zero by the same argument that lets readWhere skip it
    val (meta, res0) = countOverFields(st.fields(st.logicalSchema, expr),
      verdictExpr(spark, path, st.renames, st.logicalSchema, expr),
      st.logicalToPhysical)
    // a bloom-rejected gen holds zero matching rows: never scanned
    val kept = needleKept(spark, path, res0, expr, st.logicalToPhysical)
    val scanned =
      if (kept.isEmpty) 0L else st.read(kept).filter(pred).count()
    (meta + scanned, kept.size)
  }

  /** The count verdict loop of [[countWhere]]: per manifest field, NO-MATCH
    * contributes zero, ALL-MATCH its recorded rows MINUS its deletion-
    * vector'd positions (blobs describe the dir's PHYSICAL rows, the DV
    * refs record exactly how many of them are logically deleted — the
    * difference is the exact live count; a blob without counts (v1)
    * cannot serve — it joins the residual), anything else joins the
    * residual. Returns (metadata count, residual FIELDS to scan).
    */
  private def countOverFields(fields: Seq[String],
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      logicalToPhysical: Map[String, String]): (Long, Seq[String]) = {
    var meta = 0L
    val residual = Seq.newBuilder[String]
    fields.foreach { field =>
      val stats = statsOf(field).map(parseStats)
        .getOrElse(Map.empty[String, ColStat])
      evalPrune(expr, stats, logicalToPhysical) match {
        case NoMatch => ()
        case AllMatch =>
          // every column's rows value is the same per-(partition, gen)
          // aggregate; a blob without counts (v1) cannot serve — scan
          stats.values.flatMap(_.rows).headOption match {
            case Some(rows) => meta += rows - dvOf(field).map(_.deleted).sum
            case None => residual += field
          }
        case MightMatch => residual += field
      }
    }
    (meta, residual.result().sorted)
  }

  /** MIN/MAX of `cols` under `pred`, answered from the manifest wherever
    * provable — [[countWhere]]'s sibling, completing the metadata-
    * aggregate trio: an ALL-MATCH gen's recorded bounds for an
    * EXACT-domain column (integral, floating, date, timestamp, ntz —
    * every code except truncated strings) ARE its min/max over non-null
    * values (min/max ignore nulls, exactly the population the bounds
    * describe; an all-NULL slice contributes nothing — correct, it has
    * no value to contribute), so those gens never open a file. Gens the
    * predicate might only partially match, gens without usable bounds
    * for SOME requested column, and string columns (truncate(16) bounds
    * are containing, not exact) go through the scan path with `pred`
    * applied in full. Returns one row `<col>_min`, `<col>_max` per
    * column, typed in the version's logical schema.
    */
  def minMaxWhere(spark: SparkSession, path: String, cols: Seq[String],
                  pred: org.apache.spark.sql.Column,
                  version: Option[Int] = None): DataFrame =
    minMaxWhereDetailed(spark, path, cols, pred, version)._1

  /** [[minMaxWhere]] plus the scan-fallback dir count (the metadata-only
    * pin). */
  private[graft] def minMaxWhereDetailed(spark: SparkSession, path: String,
      cols: Seq[String], pred: org.apache.spark.sql.Column,
      version: Option[Int] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.types._
    require(cols.nonEmpty, "minMaxWhere needs at least one column")
    val st = Resolved.of(spark, path, Dml.Head, version)
    val logicalSchema = st.logicalSchema
    val logicalToPhysical = st.logicalToPhysical
    cols.foreach(c => require(logicalSchema.fieldNames.contains(c),
      s"minMaxWhere column '$c' is not in the version's schema " +
        s"(${logicalSchema.fieldNames.mkString(", ")})"))
    // strings serve from metadata ONLY per-gen where the blob proves the
    // bound EXACT (grammar v3 flags — an untruncated bound IS the min or
    // max); truncated/legacy string bounds are containing, so their gens
    // go to the scan
    val expr = analyzed(spark, logicalSchema, pred)
    val fields = st.fields(logicalSchema, expr)
    // blob internal string -> the external JVM value createDataFrame
    // expects for the column's type (the exact inverse of statValue)
    def external(s: String, dt: DataType): Any = dt match {
      case ByteType => java.lang.Byte.valueOf(s.toByte)
      case ShortType => java.lang.Short.valueOf(s.toShort)
      case IntegerType => java.lang.Integer.valueOf(s.toInt)
      case LongType => java.lang.Long.valueOf(s.toLong)
      case FloatType => // serialized as the exact widened double
        java.lang.Float.valueOf(s.toDouble.toFloat)
      case DoubleType => java.lang.Double.valueOf(s.toDouble)
      case DateType => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(s.toLong))
      case TimestampType =>
        val us = s.toLong
        val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        t
      case TimestampNTZType =>
        val us = s.toLong
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case StringType => s // v3 exact bounds only reach here
      case other => throw new IllegalStateException(
        s"minMaxWhere metadata path reached unsupported type $other")
    }
    val outSchema = StructType(cols.flatMap { c =>
      val dt = logicalSchema(c).dataType
      Seq(StructField(s"${c}_min", dt), StructField(s"${c}_max", dt))
    })
    val candidates = Seq.newBuilder[org.apache.spark.sql.Row]
    val residual = Seq.newBuilder[String]
    fields.foreach { field =>
      val stats = statsOf(field).map(parseStats)
        .getOrElse(Map.empty[String, ColStat])
      evalPrune(expr, stats, logicalToPhysical) match {
        case NoMatch => ()
        case AllMatch =>
          // one candidate row per gen, every requested column served by
          // its bounds (or provably valueless: all-NULL contributes a
          // typed NULL, which min/max ignore); ANY unserved column sends
          // the whole dir to the scan. A deletion-vector'd field never
          // serves: its bounds describe the dir's PHYSICAL rows, and the
          // extreme value may be exactly a deleted one — sound for
          // pruning, not for serving.
          val cells = dvOf(field).isEmpty && cols.forall { c =>
            val phys = logicalToPhysical.getOrElse(c, c)
            stats.get(phys).exists(st =>
              st.allNull || (st.code != NoBoundsCode &&
                (logicalSchema(c).dataType != StringType ||
                  (st.loExact && st.hiExact))))
          }
          if (!cells) residual += field
          else candidates += org.apache.spark.sql.Row.fromSeq(
            cols.flatMap { c =>
              val phys = logicalToPhysical.getOrElse(c, c)
              val st = stats(phys)
              val dt = logicalSchema(c).dataType
              if (st.allNull) Seq(null, null)
              else Seq(external(st.lo, dt), external(st.hi, dt))
            })
        case MightMatch => residual += field
      }
    }
    // needle pass on the residual, countWhere's symmetry: a gen whose
    // bloom filter proves an equality probe absent contributes nothing
    val dirs = needleKept(spark, path, residual.result().sorted, expr,
      logicalToPhysical)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    val scannedDf =
      if (dirs.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        outSchema)
      else st.read(dirs).filter(pred).agg(aggs.head, aggs.tail: _*)
    val metaDf = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        candidates.result()).asJava, outSchema)
    val finalAggs = outSchema.fields.toSeq.map(f =>
      (if (f.name.endsWith("_min")) min(col(f.name))
       else max(col(f.name))).as(f.name))
    val combined = metaDf.unionByName(scannedDf)
      .agg(finalAggs.head, finalAggs.tail: _*)
    (combined, dirs.size)
  }

  /** The version's recorded union schema (`_schema-<v>`), if present.
    * Missing (pre-r11 stores, or a crash between manifest CAS and schema
    * write) degrades to a parquet `mergeSchema` inference — correct,
    * just slower.
    */
  private def readSchema(spark: SparkSession, path: String,
                         v: Int): Option[org.apache.spark.sql.types.StructType] = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, s"_schema-$v")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(txt)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  // ---- column rename (logical-name layer) --------------------------------
  //
  // The Iceberg field-ID idea re-expressed minimally: the PHYSICAL column
  // names in data files and `_schema-<v>` never change after a column
  // first appears — a rename is a METADATA-ONLY commit that updates
  // `_renames-<v>` (lines: physical TAB logical, escaped like manifest
  // values). Writers map incoming logical names back to physical before
  // writing (so every gen, whenever written, stores the same physical
  // name), readers apply the version's mapping after reading — which
  // makes rename compose with time travel (each version reads under ITS
  // OWN names), with additive evolution (a column added after a rename
  // is physical = logical), and with [[changes]] (both sides diff under
  // the TO version's names; physical stability makes that well-defined).
  // One documented reservation: a NEW column may not take a name that is
  // still a physical name of the store (fail-fast) — that is the
  // collision a real field-ID system dissolves, priced here at one clear
  // error instead of an ID plumbed through every file.

  /** physical columns → the version's logical names (read boundary);
    * DROPPED physical columns are projected away (they only surface when
    * an OLD version's schema is in play, e.g. the changes feed's preimage
    * side read under a pre-drop schema).
    */
  private[storage] def applyRenames(df: DataFrame,
                           renames: Map[String, String]): DataFrame = {
    // drops FIRST, renames second — a deterministic two-phase fold (a
    // Map's iteration order is arbitrary, and an interleaved fold could
    // order a rename before a drop of an unrelated name)
    val (drops, rens) = renames.partition(_._2 == Dropped)
    val afterDrops = drops.keys.foldLeft(df)((d, phys) =>
      if (d.columns.contains(phys)) d.drop(phys) else d)
    rens.foldLeft(afterDrops) { case (d, (phys, logical)) =>
      if (phys == logical || !d.columns.contains(phys)) d
      else d.withColumnRenamed(phys, logical)
    }
  }

  /** logical columns → physical names (write boundary), failing fast on a
    * NEW column that collides with a retired (renamed-away or dropped)
    * physical name.
    */
  private[storage] def toPhysical(df: DataFrame,
                         renames: Map[String, String]): DataFrame = {
    val inverse = renames.filterNot(_._2 == Dropped).map(_.swap)
    df.columns.foreach { c =>
      require(inverse.contains(c) || !renames.contains(c) ||
        renames(c) == c,
        if (renames.get(c).contains(Dropped))
          s"column $c was DROPPED; its physical name is retired — " +
            "pick another name"
        else
          s"column name $c is retired by a rename (physical $c now reads " +
            s"as ${renames(c)}); a new column cannot reuse a physical " +
            "name — pick another name")
    }
    inverse.foldLeft(df) { case (d, (logical, phys)) =>
      if (logical == phys || !d.columns.contains(logical)) d
      else d.withColumnRenamed(logical, phys)
    }
  }

  /** The logical partition-column name mapped back to its physical name. */
  private[storage] def physicalCol(name: String,
                          renames: Map[String, String]): String =
    renames.find(_._2 == name).map(_._1).getOrElse(name)

  // ---- named TAGS (immutable version refs) -------------------------------
  //
  // The Iceberg tag idea: a TAG is an immutable named pointer at a version
  // that [[expire]] must then RETAIN regardless of the keep window — the
  // "which exact corpus trained run N, reproducibly, months later" lever a
  // training pipeline needs (retention would otherwise silently age the
  // training snapshot out). One file per tag (`_tag-<escaped name>`,
  // containing the version), published through the same single-winner
  // primitive as every commit, so two racing creators of one name get
  // exactly one winner. Tags are immutable by design (re-pointing a "ref"
  // is a branch, a different feature): retire with [[deleteTag]], create
  // anew. Because a tagged version stays retained, `changes(tag, head)`
  // stays computable forever and [[rollback]] to it always works.

  private def tagPath(path: String, name: String) = {
    require(name.nonEmpty && !name.exists(c => c <= ' ' || c == '/' ||
      c == '\\'),
      s"tag name '$name' must be non-empty with no whitespace or slashes")
    new org.apache.hadoop.fs.Path(path, s"_tag-${Esc.escapePathName(name)}")
  }

  /** Tags `version` (default: head) as `name`; returns the tagged version.
    * Fails if the tag exists (immutable) or the version is not retained.
    */
  def tag(spark: SparkSession, path: String, name: String,
          version: Option[Int] = None): Int = {
    requireAtomicRename(path)
    val v = version.orElse(headVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val fs = hfs(spark, path)
    require(fs.exists(new org.apache.hadoop.fs.Path(path, s"_manifest-$v")),
      s"no snapshot version $v at $path")
    val dst = tagPath(path, name)
    val tmp = new org.apache.hadoop.fs.Path(path,
      s"._tag.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    try publishFile(spark, path, tmp, dst)
    catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.io.IOException) =>
        fs.delete(tmp, false)
        if (fs.exists(dst)) throw new IllegalArgumentException(
          s"tag '$name' already exists at $path (tags are immutable; " +
            "deleteTag first)", e)
        else throw e
    }
    // close the tag-vs-expire race loudly: the manifest must still exist
    // now that the tag is VISIBLE (expire reads tags before choosing its
    // victims, so a sweep that started after our publish retains v; one
    // that took v before our publish is detected here and the tag
    // retracted rather than left dangling)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, s"_manifest-$v"))) {
      fs.delete(dst, false)
      throw new IllegalArgumentException(
        s"snapshot version $v at $path was expired while tagging — " +
          "re-tag a retained version")
    }
    v
  }

  /** The version a tag points at. A tag deleted between the existence
    * probe and the read reports the same "no tag" as one never created.
    */
  def readTag(spark: SparkSession, path: String, name: String): Int = {
    val fs = hfs(spark, path)
    val p = tagPath(path, name)
    require(fs.exists(p), s"no tag '$name' at $path")
    try readFileUtf8(fs, p).trim.toInt
    catch {
      case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"no tag '$name' at $path")
    }
  }

  /** All tags: name → version. A tag deleted between the listing and its
    * read simply drops out (the catalog reflects what is still live) —
    * without the guard a concurrent [[deleteTag]] could fail an innocent
    * [[expire]] or append idempotency scan mid-listing.
    */
  def tags(spark: SparkSession, path: String): Map[String, Int] = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("_tag-") => n }
      .flatMap { n =>
        try Some(Esc.unescapePathName(n.stripPrefix("_tag-")) ->
          readFileUtf8(fs, new org.apache.hadoop.fs.Path(root, n)).trim.toInt)
        catch { case _: java.io.FileNotFoundException => None }
      }.toMap
  }

  /** Removes a tag (its version re-enters normal retention on the next
    * [[expire]]). Returns whether it existed.
    */
  def deleteTag(spark: SparkSession, path: String, name: String): Boolean =
    hfs(spark, path).delete(tagPath(path, name), false)

  /** The newest RETAINED version committed at or before `tsMillis` —
    * timestamp time travel ("the corpus as of last Tuesday"). Since r16
    * the carrier is the commit's OWN stamp ([[committedAtOf]], line 2 of
    * `_op-<v>`, strictly increasing by construction — Delta's
    * monotonicity-adjusted commit timestamps, a public concept); versions
    * recorded before stamps existed fall back to manifest-file mtime
    * (Delta's own original carrier, public caveat included: a file copied
    * without mtime preservation shifts its apparent commit time).
    * Versions are scanned in DESCENDING order and the first qualifying
    * one wins, so a legacy mtime inversion can only widen the answer
    * toward the newer version, never resurrect an older one above it.
    * A timestamp older than the OLDEST retained stamp fails loud: the
    * version live then is expired, and resolving to the oldest survivor
    * would silently answer with data that did not exist at `tsMillis`
    * (the same lag contract as the changes source).
    */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Int = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    require(fs.exists(root), s"no snapshots at $path")
    val stamped = fs.listStatus(root)
      .filter(_.getPath.getName.startsWith("_manifest-"))
      .map { st =>
        val v = st.getPath.getName.stripPrefix("_manifest-").toInt
        v -> committedAtOf(spark, path, v).getOrElse(st.getModificationTime)
      }
    require(stamped.nonEmpty, s"no snapshots at $path")
    stamped.sortBy(-_._1).collectFirst {
      case (v, mt) if mt <= tsMillis => v
    }.getOrElse(throw new IllegalArgumentException(
      s"no snapshot at $path committed at or before $tsMillis (earliest " +
        s"retained: version ${stamped.minBy(_._1)._1} at " +
        s"${stamped.minBy(_._1)._2}) — the version live then is expired; " +
        "raise the expire keep window if you need a deeper time axis"))
  }

  /** TIMESTAMP-AS-OF read: [[read]] at [[versionAsOf]]'s resolution. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAsOf(spark, path, tsMillis)))

  /** Renames logical column `oldName` to `newName` as a new, metadata-only
    * version: the head's manifest text and physical schema are carried
    * verbatim (no data file, segment, or gen dir is touched), only the
    * rename mapping changes. Old versions keep reading under their own
    * names; writers may use the new name from the next operation on.
    */
  def renameColumn(spark: SparkSession, path: String, oldName: String,
                   newName: String): Unit = {
    requireAtomicRename(path)
    require(oldName != newName, "rename to the same name is a no-op")
    require(!newName.exists(_ < ' '),
      s"column name '$newName' contains a control character")
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val renames = readRenames(spark, path, head)
    val phys = versionSchema(spark, path, head).fieldNames
    val logical = phys.map(n => renames.getOrElse(n, n))
    require(logical.contains(oldName), s"unknown column $oldName " +
      s"(columns: ${logical.mkString(", ")})")
    require(!logical.contains(newName), s"column $newName already exists")
    val physOfOld = physicalCol(oldName, renames)
    // a logical name may never shadow a LIVE physical name other than its
    // own: reads rename physical->logical pairwise and two mappings onto
    // one physical family would be order-dependent
    require(!phys.contains(newName) || newName == physOfOld,
      s"column name $newName is reserved by the store's physical layout " +
        "(a column stored under that name was renamed away); pick another")
    // a CHECK constraint references logical names: renaming one out from
    // under it would break every later write's enforcement — refuse
    // (drop-constraint, rename, re-add is the recipe)
    SnapshotConstraints.requireUnreferenced(spark, path, oldName, "rename")
    require(!renames.get(newName).contains(Dropped),
      s"column name $newName was dropped; its physical name is retired " +
        "(old generations still store values under it) — pick another")
    val updated = (renames - physOfOld) ++
      (if (physOfOld == newName) Map.empty[String, String]
       else Map(physOfOld -> newName))
    val fs = hfs(spark, path)
    val mf = new org.apache.hadoop.fs.Path(path, s"_manifest-$head")
    require(fs.exists(mf), s"no snapshot version $head at $path")
    publishHead(spark, path, head + 1, readFileUtf8(fs, mf), Nil,
      readSchema(spark, path, head), updated, op = "rename_column")
  }

  /** DROPS logical column `name` as a new, METADATA-ONLY version: the
    * head's manifest text is carried verbatim (no data file, segment, or
    * gen dir is touched), the recorded schema loses the column (so reads
    * never fetch it again — the parquet reader simply doesn't request the
    * field), and the rename mapping gains a tombstone entry that RETIRES
    * the physical name forever: a later column may not reuse it, because
    * old gen files still store values under it and a by-name parquet read
    * would resurrect them into the new column (the collision a full
    * field-ID system dissolves; priced here — exactly like rename's
    * reservation — at one clear error). Old versions keep the column
    * (time travel reads each version under its own schema), the changes
    * feed diffs under the TO version's schema (a preimage read from a
    * pre-drop version projects the column away rather than emitting
    * spurious update pairs), and rollback to a pre-drop version restores
    * it — the target's mapping IS its dropped set. Safe WIDENING retypes
    * have their own metadata-only verb ([[retypeColumn]]); any other
    * retype is drop+re-add-under-a-new-name, and the retired-name rule
    * is what keeps that sound.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Unit = {
    requireAtomicRename(path)
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val renames = readRenames(spark, path, head)
    val schemaP = versionSchema(spark, path, head)
    val logical = schemaP.fieldNames.map(n => renames.getOrElse(n, n))
    require(logical.contains(name), s"unknown column $name " +
      s"(columns: ${logical.mkString(", ")})")
    require(logical.length > 1, "cannot drop the store's last column")
    val phys = physicalCol(name, renames)
    partColOf(spark, path).foreach(pc =>
      require(!splitPartCols(pc).contains(phys),
        s"cannot drop $name: it is (a component of) the store's " +
          "partition column spec (every merge/append keys its layout " +
          "on it)"))
    SnapshotConstraints.requireUnreferenced(spark, path, name, "drop")
    val pruned = org.apache.spark.sql.types.StructType(
      schemaP.fields.filterNot(_.name == phys))
    val fs = hfs(spark, path)
    val mf = new org.apache.hadoop.fs.Path(path, s"_manifest-$head")
    require(fs.exists(mf), s"no snapshot version $head at $path")
    publishHead(spark, path, head + 1, readFileUtf8(fs, mf), Nil,
      Some(pruned), (renames - phys) + (phys -> Dropped),
      op = "drop_column")
  }

  /** Version `v`'s new gen dirs relative to `v-1` when the commit only
    * ADDED dirs (an append or a metadata-only commit) — sorted,
    * stats-stripped, store-relative. None when any dir was removed or
    * replaced (merge / compact / rollback): those commits' feeds carry
    * delete+insert / update pairs that must stay version-atomic for a
    * delta-folding consumer. v=1 is the initial snapshot (all dirs).
    * The size-aware `graft-changes` admission rides on this.
    */
  /** Version `v`'s INSERT-ONLY delta as manifest FIELD texts (Some(new
    * fields)) — or None when the commit removed, rewrote, or deletion-
    * vector'd anything. Fields diff by [[SnapshotFormat.identityOf]]
    * (dir + DV suffix, never the stats blob): dirs are immutable, so an
    * identity surviving into `v` PROVES its live rows unchanged, while a
    * merge-on-read DML commit — same dirs, new DV suffix — correctly
    * reads as "not insert-only" and goes through the version-atomic
    * [[changes]] feed.
    */
  private[graft] def insertOnlyDirs(spark: SparkSession, path: String,
                                    v: Int): Option[Seq[String]] = {
    val curFields = readManifestDirs(spark, path, v)
    val cur = curFields.map(identityOf).toSet
    if (v == 1)
      return Some(curFields.sortBy(identityOf))
    val prev = readManifestDirs(spark, path, v - 1).map(identityOf).toSet
    if (prev.subsetOf(cur))
      Some(curFields.filterNot(f => prev(identityOf(f))).sortBy(identityOf))
    else None
  }

  /** The dirs DIFFERING between version `v` and its predecessor (both
    * sides of the symmetric difference — a merge's feed reads removed
    * dirs for preimages/deletes and added dirs for postimages/inserts) —
    * the size basis for the changes source's version-atomic batch
    * announcement. O(two manifest resolutions), no file listed.
    */
  private[graft] def versionDiffDirs(spark: SparkSession, path: String,
                                     v: Int): Seq[String] = {
    val cur = readManifestDirs(spark, path, v).map(identityOf).toSet
    val prev =
      if (v <= 1) Set.empty[String]
      else readManifestDirs(spark, path, v - 1).map(identityOf).toSet
    ((cur -- prev) ++ (prev -- cur)).toSeq.map(dirOf).distinct.sorted
  }

  /** Reads specific manifest fields under version `v`'s schema and
    * logical names — the feed read behind the size-split `graft-changes`
    * batch.
    */
  private[graft] def readDirs(spark: SparkSession, path: String, v: Int,
                              relFields: Seq[String]): DataFrame =
    if (relFields.isEmpty)
      applyRenames(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        versionSchema(spark, path, v)), readRenames(spark, path, v))
    else applyRenames(readFields(spark, path, v, relFields),
      readRenames(spark, path, v))

  // ---- branches (write-audit-publish) — see SnapshotBranch ---------------

  /** Creates branch `name` forked from the current head — the WAP
    * staging lever: stage candidate commits ([[append]], [[merge]],
    * [[dml]] with a [[Dml.Branch]] target), audit them ([[read]],
    * [[readWhere]], [[countWhere]] with the same target), then
    * fast-forward publish or drop. Full design in [[SnapshotBranch]].
    */
  def branchCreate(spark: SparkSession, path: String, name: String): Unit =
    SnapshotBranch.create(spark, path, name)

  /** FAST-FORWARD publishes branch `name` as the new main head and drops
    * the branch; refuses (loudly) if main advanced past the fork point.
    * Returns the published version.
    */
  def publishBranch(spark: SparkSession, path: String, name: String): Int =
    SnapshotBranch.publish(spark, path, name)

  /** Drops branch `name`; its unpublished gens age out under the orphan
    * sweep. Returns whether the branch existed.
    */
  def dropBranch(spark: SparkSession, path: String, name: String): Boolean =
    SnapshotBranch.drop(spark, path, name)

  /** REBASES branch `name` onto the current main head — the metadata-only
    * re-point that makes a refused fast-forward publish recoverable
    * without re-staging the candidate corpus. Refuses loudly (naming the
    * partitions) when the branch and main both changed a partition since
    * the fork. Returns the new fork base.
    */
  def rebaseBranch(spark: SparkSession, path: String, name: String): Int =
    SnapshotBranch.rebase(spark, path, name)

  /** [[publishBranch]] with the rebase-retry loop built in: on the
    * fast-forward refusal the branch rebases onto the new head and the
    * publish retries (bounded by `maxRebases`); a genuine partition
    * conflict still refuses immediately. The one-call WAP publish for a
    * store whose main line never stops ingesting.
    */
  def publishBranchRebased(spark: SparkSession, path: String, name: String,
                           maxRebases: Int = 20): Int =
    SnapshotBranch.publishRebased(spark, path, name, maxRebases)

  /** Drops branches whose last write is older than `olderThanMs` — the
    * age-based lifecycle sweep for abandoned staging branches (OFF by
    * default; never runs unless invoked). Returns the dropped names.
    */
  def expireBranches(spark: SparkSession, path: String,
                     olderThanMs: Long): Seq[String] =
    SnapshotBranch.expireBranches(spark, path, olderThanMs)

  /** Branch catalog: name → the branch's own staged version counter. */
  def branches(spark: SparkSession, path: String): Map[String, Int] =
    SnapshotBranch.allTips(spark, path)

  /** Branch catalog with lifecycle data: (name, tip, fork base,
    * createdMs, modifiedMs) — the `'branches'` SQL selector's rows.
    */
  def branchInfos(spark: SparkSession, path: String)
      : Seq[(String, Int, Int, Long, Long)] =
    SnapshotBranch.infos(spark, path).map(i =>
      (i.name, i.tip, i.base, i.createdMs, i.modifiedMs))

  /** Predicate DML — `DELETE FROM store WHERE pred` or `UPDATE store SET
    * c = e, ... WHERE pred` — over the head or a WAP branch tip,
    * copy-on-write or merge-on-read (deletion vectors), as one new
    * version; returns the receipt (slices dropped / rewritten / kept,
    * positions written). A lost head CAS throws; wrap the call in
    * [[withCasRetry]] to re-run it against the new head. See
    * [[SnapshotDml.dml]] for the semantics of every op, mode and target.
    */
  def dml(spark: SparkSession, path: String, op: Dml.Op,
          pred: org.apache.spark.sql.Column,
          target: Dml.Target = Dml.Head, mode: Dml.Mode = Dml.CoW,
          beforeCommit: () => Unit = () => ()): DmlReceipt =
    SnapshotDml.dml(spark, path, op, pred, target, mode, beforeCommit)

  /** Runs `body`, re-running it each time it loses a commit CAS
    * (`ConcurrentModificationException`), at most `maxRetries` times: a
    * store verb re-reads the NEW head (or branch tip) on every attempt,
    * so two concurrent writers both land, serialized, instead of the
    * loser surfacing the exception to the pipeline. Retries exhaust to
    * the original exception (the store is consistent either way; only
    * this caller's change is unapplied); any other exception propagates
    * at once. A losing head commit has already cleaned its gen dirs and
    * sidecars; a losing branch stage leaves them to the orphan sweep.
    */
  @scala.annotation.tailrec
  def withCasRetry[T](maxRetries: Int = 5)(body: => T): T =
    scala.util.Try(body) match {
      case scala.util.Failure(_: java.util.ConcurrentModificationException)
          if maxRetries > 0 =>
        withCasRetry(maxRetries - 1)(body)
      case r => r.get
    }

  /** [[dml]] deleting the head's rows matching `pred`, copy-on-write. */
  def deleteWhere(spark: SparkSession, path: String,
                  pred: org.apache.spark.sql.Column): Unit =
    dml(spark, path, Dml.Delete, pred)

  /** [[dml]] updating the head's rows matching `pred`, copy-on-write. */
  def updateWhere(spark: SparkSession, path: String,
                  assignments: Seq[(String, org.apache.spark.sql.Column)],
                  pred: org.apache.spark.sql.Column): Unit =
    dml(spark, path, Dml.Update(assignments), pred)

  /** General conditional MERGE (the Delta/SQL:2003 `MERGE INTO` shape):
    * first-match-wins `WHEN MATCHED [AND cond]` update/delete clauses,
    * `WHEN NOT MATCHED` insert, `WHEN NOT MATCHED BY SOURCE` update/
    * delete — one full-outer key join, one action-tag pass, one write.
    * Returns the per-outcome row counts and the NOT-MATCHED-BY-SOURCE
    * slice-pruning receipt. Clause types live on [[SnapshotMergeInto]].
    * [[merge]] remains the CDC-batch fast path.
    */
  def mergeInto(spark: SparkSession, path: String,
      source: DataFrame, keyCols: Seq[String],
      matched: Seq[SnapshotMergeInto.WhenMatched] = Nil,
      notMatched: Option[SnapshotMergeInto.WhenNotMatched] = None,
      notMatchedBySource: Seq[SnapshotMergeInto.WhenNotMatchedBySource] =
        Nil,
      beforeCommit: () => Unit = () => ())
      : SnapshotMergeInto.MergeIntoReceipt =
    SnapshotMergeInto.mergeInto(spark, path, source, keyCols, matched,
      notMatched, notMatchedBySource, beforeCommit)

  /** MERGE-ON-READ [[mergeInto]] (Delta's DV-based MERGE): identical
    * clause semantics, but update/delete pre-images pay DELETION
    * VECTORS and only the changed images (updates' post-images +
    * inserts) append — write cost ∝ changed rows, never the touched
    * slices. Same debt collectors as the MoR DML verbs; the receipt
    * adds `dvDirs`/`dvRows`.
    */
  def mergeIntoMor(spark: SparkSession, path: String,
      source: DataFrame, keyCols: Seq[String],
      matched: Seq[SnapshotMergeInto.WhenMatched] = Nil,
      notMatched: Option[SnapshotMergeInto.WhenNotMatched] = None,
      notMatchedBySource: Seq[SnapshotMergeInto.WhenNotMatchedBySource] =
        Nil,
      beforeCommit: () => Unit = () => ())
      : SnapshotMergeInto.MergeIntoReceipt =
    SnapshotMergeInto.mergeIntoMor(spark, path, source, keyCols, matched,
      notMatched, notMatchedBySource, beforeCommit)

  /** The field's deletion-vector sidecar dirs (store-relative), for
    * spec-side liveness accounting.
    */
  private[graft] def dvRefsOf(field: String): Seq[String] =
    dvOf(field).map(_.rel)

  /** Declare-later data skipping: adds `statsCols`/`bloomCols` (logical
    * names) to the store's declarations and BACKFILLS every retained
    * head gen — blobs recomputed into the manifest, needle sidecars
    * built, zero data rewritten. One gen-sized aggregate per gen + one
    * full-manifest commit; the CDC feed across the backfill version is
    * empty without reading a file (changes() diffs dir lists). Returns
    * the committed version. See [[SnapshotBackfill]].
    */
  def backfillStats(spark: SparkSession, path: String,
                    statsCols: Seq[String] = Nil,
                    bloomCols: Seq[String] = Nil): Int =
    SnapshotBackfill.backfillStats(spark, path, statsCols, bloomCols)

  /** Adds CHECK constraint `name` (SQL predicate over logical names) —
    * the write-boundary quality gate: every later append / merge /
    * branch write / predicate UPDATE refuses batches carrying a row the
    * predicate is FALSE for (NULL passes — SQL CHECK semantics). The
    * CURRENT head must already satisfy it (stats-pruned violation scan,
    * loud refusal with a sample row otherwise — the Delta ADD CONSTRAINT
    * contract). See [[SnapshotConstraints]].
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    predicateSql: String): Unit =
    SnapshotConstraints.add(spark, path, name, predicateSql)

  /** Drops CHECK constraint `name`; false when it never existed. */
  def dropConstraint(spark: SparkSession, path: String,
                     name: String): Boolean =
    SnapshotConstraints.drop(spark, path, name)

  /** The store's CHECK constraints: name → predicate SQL. */
  def constraints(spark: SparkSession, path: String): Map[String, String] =
    SnapshotConstraints.all(spark, path)

  /** The retype matrix: EXACT value-preserving widenings the parquet
    * reader natively upcasts at scan time (probed on Spark 4.1:
    * INT32→int64/double updaters, float→double, date→timestamp_ntz).
    * Everything else is refused — long→double rounds past 2^53,
    * date→TIMESTAMP (tz-based) would invent a zone the stored days never
    * had AND the reader rejects it, narrowings lose data. The refusal is
    * spec-pinned; the recipe for an unsupported retype remains
    * drop + re-add under a new name.
    */
  private def safeWidening(from: org.apache.spark.sql.types.DataType,
                           to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  /** WIDENS logical column `name` to `newType` as a new, METADATA-ONLY
    * version — the commonest evolution ask after add/rename/drop (an int
    * key outgrowing 2^31 is a when, not an if, at 100 TB). The head's
    * manifest text and rename mapping carry verbatim; only the recorded
    * schema changes. No data file is rewritten: gens written before the
    * retype keep their narrow physical type and the parquet reader
    * upcasts them at scan time under the new recorded schema (the same
    * native widening Delta's type-widening feature rides); gens written
    * after store the wide type. Time travel reads each version under ITS
    * OWN type; [[changes]] across the boundary casts the preimage side to
    * the TO version's types, so a retype alone produces NO spurious
    * update pairs; rollback to a pre-retype version restores the narrow
    * schema (whose manifest references no wide gen). Only the exact,
    * reader-supported widenings in [[safeWidening]] are accepted.
    *
    * Two priced edges, both documented rather than hidden: (1) after a
    * retype, the mergeSchema DEGRADE path for a lost `_schema` file (a
    * crash window; never the steady state) can no longer reconcile
    * mixed-width gens and fails loudly instead of reading; (2) a
    * subsequent batch may arrive EITHER width — narrower batches are
    * accepted (the union keeps the recorded wide type), but a batch
    * WIDER than the recorded schema is refused with a pointer here: an
    * implicit retype hidden inside a write is how two writers disagree
    * about a store's types.
    */
  def retypeColumn(spark: SparkSession, path: String, name: String,
                   newType: org.apache.spark.sql.types.DataType): Unit = {
    requireAtomicRename(path)
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val renames = readRenames(spark, path, head)
    val schemaP = versionSchema(spark, path, head)
    val logical = schemaP.fieldNames.map(n => renames.getOrElse(n, n))
    require(logical.contains(name), s"unknown column $name " +
      s"(columns: ${logical.mkString(", ")})")
    val phys = physicalCol(name, renames)
    val cur = schemaP(phys).dataType
    require(cur != newType, s"column $name already has type $newType")
    require(safeWidening(cur, newType),
      s"unsupported retype $cur -> $newType for column $name: only exact, " +
        "reader-supported widenings (byte/short/int -> wider integral or " +
        "double, float -> double, date -> timestamp_ntz) are metadata-only; " +
        "anything else is drop + re-add under a new name")
    val widened = org.apache.spark.sql.types.StructType(
      schemaP.fields.map(f =>
        if (f.name == phys) f.copy(dataType = newType) else f))
    val fs = hfs(spark, path)
    val mf = new org.apache.hadoop.fs.Path(path, s"_manifest-$head")
    require(fs.exists(mf), s"no snapshot version $head at $path")
    publishHead(spark, path, head + 1, readFileUtf8(fs, mf), Nil,
      Some(widened), renames, op = "retype_column")
  }

  /** Additive union of two generation schemas: existing fields keep their
    * position; a batch field NARROWER than the recorded type (a safe
    * widening away) is accepted and the recorded wide type wins — post-
    * [[retypeColumn]] writers may keep shipping the old width, their gen
    * files stay narrow and the reader upcasts. A batch field WIDER than
    * recorded is refused with a pointer at [[retypeColumn]]: an implicit
    * retype hidden inside a write is how two writers disagree about a
    * store's types. Any other mismatch fails fast (the documented
    * additive-only contract); new fields append as NULLABLE (legacy rows
    * read NULL for them). Top-level nullability is forced true, matching
    * what the parquet file source does to user schemas anyway.
    */
  private[storage] def unionSchema(prior: org.apache.spark.sql.types.StructType,
                          next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val byName = next.fields.map(f => f.name -> f).toMap
    prior.fields.foreach { f =>
      byName.get(f.name).foreach { n =>
        if (n.dataType != f.dataType) {
          require(!safeWidening(f.dataType, n.dataType),
            s"column ${f.name} arrives ${n.dataType} but the store " +
              s"records ${f.dataType}: widen the store FIRST " +
              s"(retypeColumn / graft_retype), then write")
          require(safeWidening(n.dataType, f.dataType),
            s"schema evolution is additive-only: column ${f.name} changed " +
              s"type ${f.dataType} -> ${n.dataType}")
        }
      }
    }
    val priorNames = prior.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      (prior.fields ++ next.fields.filterNot(f => priorNames(f.name)))
        .map(_.copy(nullable = true)))
  }

  /** [[schemaAt]] for WRITE paths: a version that vanished surfaces as
    * the `ConcurrentModificationException` of [[forWrite]].
    */
  private[storage] def versionSchema(spark: SparkSession, path: String, v: Int)
      : org.apache.spark.sql.types.StructType =
    forWrite(path, v)(schemaAt(spark, path, v))

  /** The version's effective schema: recorded if available, else inferred
    * once over the version's dirs via mergeSchema. An expired version
    * throws `IllegalArgumentException` ("no snapshot version").
    */
  private[storage] def schemaAt(spark: SparkSession, path: String, v: Int)
      : org.apache.spark.sql.types.StructType =
    readSchema(spark, path, v).getOrElse {
      val dirs = readManifestDirs(spark, path, v)
        .sorted
        .map(d => s"$path/${dirOf(d)}")
      org.apache.spark.sql.types.StructType(
        spark.read.option("mergeSchema", "true").parquet(dirs: _*)
          .drop("_p").schema.map(_.copy(nullable = true)))
    }

  /** Reads `dirs` under version `v`'s recorded schema — NO footer-merge
    * job in the steady state (the reader fills absent columns with NULL,
    * which is exactly the additive-evolution read semantics); falls back
    * to mergeSchema when the version has no recorded schema.
    */
  private[storage] def readWithSchema(spark: SparkSession, path: String, v: Int,
                             dirs: Seq[String]): DataFrame =
    readSchema(spark, path, v) match {
      case Some(sch) => spark.read.schema(sch).parquet(dirs: _*).drop("_p")
      case None => spark.read.option("mergeSchema", "true")
        .parquet(dirs: _*).drop("_p")
    }

  // ---- the deletion-vector-aware field reader -----------------------------
  //
  // THE read choke point for manifest FIELDS (dir fields, the r16 DML
  // file fields, and fields carrying a merge-on-read deletion-vector
  // suffix — see [[SnapshotFormat.dvOf]]): every consumer of a version's
  // or a branch tip's entries reads through here, so a DV'd slice is
  // NEVER observable with its logically-deleted rows. Plain fields take
  // the exact pre-DV path (one parquet scan, zero overhead); DV'd fields
  // read with the parquet `_metadata` columns, key each row by its file's
  // last three path segments (`<gen>/_p=<value>/<file>` — globally unique:
  // gen names are fresh hex per write and `_p=` segments separate
  // partitions inside a gen) plus `_metadata.row_index`, and drop the
  // DV'd positions with one LEFT ANTI join against the referenced sidecar
  // parquet (tiny next to the data — AQE broadcasts it). Filters on data
  // columns still push down to the scan below the join.

  /** The sidecar's key for each data row: `gen/_p=value/file` — the
    * file path's last three segments (store-relocation-safe), extracted
    * with ONE substring_index rather than a per-row split/slice/concat
    * chain (the latter measured ~3× the whole read tax at 1M rows).
    */
  private def dvKeyCol: org.apache.spark.sql.Column =
    substring_index(col("_metadata.file_path"), "/", -3)

  private[storage] val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_gk",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("_gi",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Reads manifest `fields` (store-relative field texts) PHYSICALLY
    * (no renames applied), dropping each DV'd field's deleted positions.
    * `schema` None degrades to parquet mergeSchema like [[readWithSchema]].
    */
  private[storage] def readFieldsPhys(spark: SparkSession, path: String,
      fields: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    def rd(dirs: Seq[String]): DataFrame = schema match {
      case Some(sch) => spark.read.schema(sch).parquet(dirs: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    }
    val (dvd, plain) = fields.partition(f => dvOf(f).nonEmpty)
    val plainDf =
      if (plain.isEmpty) None
      else Some(rd(plain.map(f => s"$path/${dirOf(f)}").sorted).drop("_p"))
    val dvdDf =
      if (dvd.isEmpty) None
      else {
        val refs = dvd.flatMap(f => dvOf(f).map(_.rel)).distinct.sorted
        val dv = spark.read.schema(DvSchema)
          .parquet(refs.map(r => s"$path/$r"): _*)
        val raw = rd(dvd.map(f => s"$path/${dirOf(f)}").sorted)
        // anti-join keyed on the ROW INDEX alone (a long hash probe per
        // row); the file-key match rides as a NON-equi condition (the
        // `>= && <=` pair keeps Spark from promoting it to a join key),
        // so the per-row string extraction + comparison runs only on
        // index-collision rows — positions are sparse, rows are not
        // (measured 2× off the whole-read DV tax at 6M rows). `_metadata`
        // anchors to the LEFT frame: the sidecar scan has its own.
        val meta = raw.col("_metadata")
        val fileKey = substring_index(meta.getField("file_path"), "/", -3)
        Some(raw.join(dv,
          meta.getField("row_index") === dv("_gi") &&
            fileKey >= dv("_gk") && fileKey <= dv("_gk"),
          "left_anti").drop("_p"))
      }
    (plainDf, dvdDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalArgumentException(
        "readFieldsPhys over zero fields — callers handle the empty case")
    }
  }

  /** [[readFieldsPhys]] under version `v`'s recorded schema. */
  private[storage] def readFields(spark: SparkSession, path: String, v: Int,
                                  fields: Seq[String]): DataFrame =
    readFieldsPhys(spark, path, fields, readSchema(spark, path, v))

  /** The merge-on-read WRITE-side read: `fields` with each row TAGGED by
    * its sidecar key (`_gk`) and physical row index (`_gi`), existing DVs
    * already applied — the frame a MoR DELETE/UPDATE computes its new
    * deleted positions from. Physical column names.
    */
  private[storage] def readFieldsTagged(spark: SparkSession, path: String,
      fields: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    def rd(dirs: Seq[String]): DataFrame = (schema match {
      case Some(sch) => spark.read.schema(sch).parquet(dirs: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    }).withColumn("_gk", dvKeyCol)
      .withColumn("_gi", col("_metadata.row_index"))
      .drop("_p")
    val (dvd, plain) = fields.partition(f => dvOf(f).nonEmpty)
    val plainDf =
      if (plain.isEmpty) None
      else Some(rd(plain.map(f => s"$path/${dirOf(f)}").sorted))
    val dvdDf =
      if (dvd.isEmpty) None
      else {
        val refs = dvd.flatMap(f => dvOf(f).map(_.rel)).distinct.sorted
        val dv = spark.read.schema(DvSchema)
          .parquet(refs.map(r => s"$path/$r"): _*)
        Some(rd(dvd.map(f => s"$path/${dirOf(f)}").sorted)
          .join(dv, Seq("_gk", "_gi"), "left_anti"))
      }
    (plainDf, dvdDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalArgumentException(
        "readFieldsTagged over zero fields — callers handle the empty case")
    }
  }

  /** Publishes staged FILE `src` at `dst` with genuine single-winner
    * no-overwrite semantics, throwing `FileAlreadyExistsException` on
    * loss. `FileContext`'s `Rename.NONE` is only atomic where the
    * platform enforces it (HDFS rename2): on local/checksum filesystems
    * it degrades to an exists-probe + POSIX `rename(2)` — two racers can
    * BOTH "win" the probe, the second's data overwrite is consistent but
    * its `.crc` sidecar move then clobbers the first's, leaving a
    * PERMANENTLY mismatched checksum pair (caught by the 5-writer soak as
    * `ChecksumException` on a fresh manifest). `file://` therefore
    * publishes via HARD LINK — `link(2)` fails `EEXIST` atomically, so
    * exactly one racer links the name — and only the winner moves the crc
    * sidecar (losers never reach it). Everything else keeps the native
    * rename. Directory publishes (pinned gens) stay on rename: dirs
    * cannot hard-link, and POSIX rename onto a non-empty directory fails,
    * which is already single-winner.
    */
  private[storage] def publishFile(spark: SparkSession, storePath: String,
                          src: org.apache.hadoop.fs.Path,
                          dst: org.apache.hadoop.fs.Path): Unit = {
    val scheme = Option(new java.net.URI(storePath).getScheme)
      .getOrElse("file")
    if (scheme == "file") {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.Paths.get(src.toUri.getPath))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            dst.toString)
      }
      val fs = hfs(spark, storePath)
      val srcCrc = new org.apache.hadoop.fs.Path(src.getParent,
        s".${src.getName}.crc")
      val dstCrc = new org.apache.hadoop.fs.Path(dst.getParent,
        s".${dst.getName}.crc")
      if (fs.exists(srcCrc)) {
        fs.delete(dstCrc, false) // defensively; no loser writes it
        fs.rename(srcCrc, dstCrc)
      }
      fs.delete(src, false) // unlink the staging name; dst keeps the inode
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new java.net.URI(storePath),
        spark.sparkContext.hadoopConfiguration)
      fc.rename(src, dst) // default Rename.NONE
    }
  }

  /** Single-winner CAS publish of `headContent` as `_manifest-<v>`
    * (LogTableWriter manifest discipline); cleans `genDirs` and aborts if
    * another committer won the rename. `schema` (when given) is recorded
    * as `_schema-<v>` AFTER the manifest rename — the winner is already
    * decided, and a crash in between only costs the fallback inference.
    * Segment files a losing committer wrote are NOT cleaned here: they are
    * content-addressed, so the winner (or any later commit) may reference
    * byte-identical files — orphans age out under [[expire]]'s floor.
    */
  private def publishHead(spark: SparkSession, path: String, v: Int,
                          headContent: String, genDirs: Seq[String],
                          schema: Option[org.apache.spark.sql.types.StructType],
                          renames: Map[String, String] = Map.empty,
                          op: String = "commit")
      : Unit = {
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"._manifest-$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    out.write(headContent.getBytes("UTF-8"))
    out.close()
    val manifest = new org.apache.hadoop.fs.Path(root, s"_manifest-$v")
    def lose(e: Throwable): Nothing = {
      fs.delete(tmp, false)
      genDirs.foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(root, d), true))
      throw new java.util.ConcurrentModificationException(
        s"snapshot commit of $path lost the race for version $v; this " +
          "attempt was aborted and its partition dirs removed — re-read " +
          "the new head and retry", e)
    }
    try publishFile(spark, path, tmp, manifest)
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => lose(e)
      case e: java.io.IOException if fs.exists(manifest) => lose(e)
    }
    // `_schema-<v>` and `_renames-<v>` publish the same way: staged +
    // renamed, so a concurrent reader sees each either absent (fallback /
    // no-renames) or COMPLETE — an in-place create exposes an
    // empty/partial file mid-write (caught by the multi-writer soak)
    def publishMeta(prefix: String, bytes: Array[Byte]): Unit = {
      val stmp = new org.apache.hadoop.fs.Path(root,
        s".$prefix-$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val sp = fs.create(stmp, true)
      sp.write(bytes); sp.close()
      try publishFile(spark, path, stmp,
        new org.apache.hadoop.fs.Path(root, s"$prefix-$v"))
      catch {
        // only the manifest-CAS winner records v's metadata, so a
        // collision means it is already recorded — discard the staging copy
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.io.IOException) =>
          if (!fs.exists(new org.apache.hadoop.fs.Path(root, s"$prefix-$v")))
            throw e
          fs.delete(stmp, false)
      }
    }
    schema.foreach(sch => publishMeta("_schema", sch.json.getBytes("UTF-8")))
    // operation provenance (`_op-<v>`, the Delta DESCRIBE HISTORY idea):
    // which verb produced this version — [[history]] surfaces it, expire
    // sweeps it with the version's other metadata; absent = legacy
    // "commit". Line 2 (r16) is the commit's epoch millis, adjusted to be
    // strictly greater than the predecessor's stamp so the time axis is
    // totally ordered (Delta's monotonicity adjustment — two commits in
    // one wall-clock millisecond must not make `AS OF` ambiguous); the
    // predecessor probe is one small-file read, and a missing/legacy
    // predecessor stamp costs nothing.
    val ts = math.max(System.currentTimeMillis(),
      (if (v > 1) committedAtOf(spark, path, v - 1) else None)
        .map(_ + 1L).getOrElse(Long.MinValue))
    publishMeta("_op",
      (Esc.escapePathName(op) + "\n" + ts).getBytes("UTF-8"))
    if (renames.nonEmpty)
      publishMeta("_renames", renames.toSeq.sortBy(_._1)
        .map { case (p, l) =>
          s"${Esc.escapePathName(p)}\t${Esc.escapePathName(l)}" }
        .mkString("\n").getBytes("UTF-8"))
  }

  /** Writes one segment's content if no byte-identical segment exists yet
    * (content-addressed: the name is the md5 of the bytes) and returns its
    * store-relative path. The rename loser's file is BY CONSTRUCTION
    * byte-identical to the winner's, so losing is adoption.
    */
  private def writeSegIfMissing(spark: SparkSession, path: String,
                                content: String): String = {
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(content.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rel = s"segs/seg-$hash"
    val fs = hfs(spark, path)
    val target = new org.apache.hadoop.fs.Path(path, rel)
    if (!fs.exists(target)) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(path, "segs"))
      val tmp = new org.apache.hadoop.fs.Path(path,
        s"segs/.seg-$hash.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      out.write(content.getBytes("UTF-8"))
      out.close()
      try publishFile(spark, path, tmp, target)
      catch {
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.io.IOException) =>
          if (!fs.exists(target)) throw e
          fs.delete(tmp, false)
      }
    }
    rel
  }

  /** The component-index bucket of key `k` for component `ci` of an
    * `ncomps`-column spec: keys of the spec's arity bucket by the hash
    * of their ENCODED component (parts never carry the raw separator);
    * any other arity — an evolved store's old-era keys — lands in the
    * residue bucket every partial probe also loads.
    */
  private def cBucketOf(k: String, ci: Int, ncomps: Int, nb: Int): Int = {
    val parts = k.split(PartSep, -1)
    if (parts.length != ncomps) CIndexResidue else bucketOf(parts(ci), nb)
  }

  /** Some(arity) when this store's segmented heads should carry the
    * per-component partial-probe index: the NEWEST spec is composite
    * and no other recorded era shares its arity (shape attribution
    * stays injective — see [[partitionKeyPredOf]]).
    */
  private def cindexSpecOf(spark: SparkSession, path: String): Option[Int] = {
    val specs = allPartSpecs(spark, path).distinct
    specs.lastOption.map(splitPartCols(_).size).filter(n =>
      n >= 2 && specs.count(splitPartCols(_).size == n) == 1)
  }

  /** Serializes one component index's head lines (marker + refs),
    * writing any missing segments.
    */
  private def cindexLines(spark: SparkSession, path: String, nb: Int,
      ncomps: Int, entries: Map[String, Seq[String]]): Seq[String] =
    (0 until ncomps).flatMap { ci =>
      val byB = entries.groupBy { case (k, _) => cBucketOf(k, ci, ncomps, nb) }
      val crefs = byB.toSeq.sortBy(_._1).map { case (b, es) =>
        (b, es.size, writeSegIfMissing(spark, path, serializeEntries(es)))
      }
      s"$CIndexMarker\t$ci\t$nb" +:
        crefs.map { case (b, n, seg) => s"$b\t$n\t$seg" }
    }

  /** Serializes the head content for a FULL entry map, choosing the tier:
    * flat below [[segmentThreshold]], segmented (writing any missing
    * segment files) at or above it — plus, on a composite-spec store,
    * the per-component partial-probe index sections (r18): the same
    * entries re-bucketed by each component's encoded value, so
    * "day = X, any tenant" resolves O(touched buckets) instead of a
    * store-wide key filter. Content addressing dedups untouched
    * segments across versions exactly like the main tier.
    */
  private def headContentFor(spark: SparkSession, path: String,
                             entries: Map[String, Seq[String]],
                             arityHint: Option[Int] = None): String =
    if (entries.size < segmentThreshold) serializeEntries(entries)
    else {
      val nb = chooseBuckets(entries.size)
      val byBucket = entries.groupBy { case (k, _) => bucketOf(k, nb) }
      val refs = byBucket.toSeq.sortBy(_._1).map { case (b, es) =>
        (b, es.size, writeSegIfMissing(spark, path, serializeEntries(es)))
      }
      // `arityHint` covers the initial commit, which precedes the
      // `_partcol` record (write publishes the spec only after winning)
      val cLines = cindexSpecOf(spark, path)
        .orElse(arityHint.filter(_ >= 2)) match {
        case Some(ncomps) => cindexLines(spark, path, nb, ncomps, entries)
        case None => Nil
      }
      ((Seq(SegMarker, nb.toString, entries.size.toString).mkString("\t") +:
        refs.map { case (b, n, seg) => s"$b\t$n\t$seg" }) ++ cLines)
        .mkString("\n")
    }

  /** Single-winner CAS commit of the FULL `entries` map as version `v`.
    * `private[graft]` for the scale probe's synthetic commits; real
    * mutators go through [[commitDelta]], which only touches changed
    * buckets.
    */
  private[graft] def commit(spark: SparkSession, path: String, v: Int,
                            entries: Map[String, Seq[String]],
                            genDirs: Seq[String],
                            schema: Option[org.apache.spark.sql.types.StructType] = None,
                            renames: Map[String, String] = Map.empty,
                            op: String = "commit",
                            arityHint: Option[Int] = None)
      : Unit =
    publishHead(spark, path, v,
      headContentFor(spark, path, entries, arityHint),
      genDirs, schema, renames, op)

  /** Commits version `v` = version `prev` with `removed` partitions
    * dropped and `added` partitions upserted — the O(touched) commit path:
    * on a segmented head only the buckets containing touched values are
    * read back, rewritten, and (content-addressed) published; every other
    * bucket's segment is re-referenced byte-for-byte with no I/O. Falls
    * back to a full-map commit when the prior head is flat, or when the
    * new entry count crosses a bucket-count or tier boundary (the
    * re-segmentation / upgrade / downgrade cases — rare and amortized).
    */
  private[graft] def commitDelta(spark: SparkSession, path: String, v: Int,
      prev: Int, removed: Set[String], added: Map[String, Seq[String]],
      genDirs: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      renames: Map[String, String] = Map.empty,
      op: String = "commit"): Unit = {
    def fullFallback(): Unit = {
      val full = readManifestForWrite(spark, path, prev) -- removed ++ added
      commit(spark, path, v, full, genDirs, schema, renames, op)
    }
    forWrite(path, prev)(readHead(spark, path, prev)) match {
      case FlatHead(_) => fullFallback()
      case SegHead(nb, total, refs, cidx) =>
        val touched = (removed ++ added.keySet).map(b => bucketOf(b, nb))
        val prevBuckets: Map[Int, Map[String, Seq[String]]] =
          touched.toSeq.sorted.map { b =>
            b -> refs.get(b)
              .map(r => forWrite(path, prev)(loadSeg(spark, path, prev, r._2)))
              .getOrElse(Map.empty[String, Seq[String]])
          }.toMap
        val newBuckets = prevBuckets.map { case (b, es) =>
          b -> (es -- removed.filter(bucketOf(_, nb) == b) ++
            added.filter { case (k, _) => bucketOf(k, nb) == b })
        }
        val newTotal = total +
          touched.toSeq.map(b => newBuckets(b).size - prevBuckets(b).size).sum
        if (newTotal < segmentThreshold || chooseBuckets(newTotal) != nb)
          fullFallback()
        else {
          val newRefs = refs -- newBuckets.filter(_._2.isEmpty).keys ++
            newBuckets.filter(_._2.nonEmpty).map { case (b, es) =>
              b -> (es.size,
                writeSegIfMissing(spark, path, serializeEntries(es)))
            }
          // component-index maintenance: the same read-modify-write per
          // TOUCHED component bucket. A prior head without the index
          // stays without it (no O(N) rebuild on the delta path — the
          // next full commit builds it); a spec whose index conditions
          // no longer hold (an evolution changed the newest arity)
          // DROPS the index rather than carrying wrong positions.
          val curSpec = cindexSpecOf(spark, path)
          val cLines: Seq[String] = curSpec match {
            case Some(ncomps) if cidx.keySet == (0 until ncomps).toSet =>
              (0 until ncomps).flatMap { ci =>
                val crefs = cidx(ci)
                val ctouched = (removed ++ added.keySet)
                  .map(k => cBucketOf(k, ci, ncomps, nb))
                val prevB = ctouched.toSeq.sorted.map { b =>
                  b -> crefs.get(b)
                    .map(r => forWrite(path, prev)(
                      loadSeg(spark, path, prev, r._2)))
                    .getOrElse(Map.empty[String, Seq[String]])
                }.toMap
                val newB = prevB.map { case (b, es) =>
                  b -> (es --
                    removed.filter(cBucketOf(_, ci, ncomps, nb) == b) ++
                    added.filter { case (k, _) =>
                      cBucketOf(k, ci, ncomps, nb) == b })
                }
                val nrefs = crefs -- newB.filter(_._2.isEmpty).keys ++
                  newB.filter(_._2.nonEmpty).map { case (b, es) =>
                    b -> (es.size,
                      writeSegIfMissing(spark, path, serializeEntries(es)))
                  }
                s"$CIndexMarker\t$ci\t$nb" +:
                  nrefs.toSeq.sortBy(_._1).map { case (b, (n, seg)) =>
                    s"$b\t$n\t$seg" }
              }
            case _ => Nil
          }
          val content = ((Seq(SegMarker, nb.toString, newTotal.toString)
            .mkString("\t") +:
            newRefs.toSeq.sortBy(_._1).map { case (b, (n, seg)) =>
              s"$b\t$n\t$seg" }) ++ cLines).mkString("\n")
          publishHead(spark, path, v, content, genDirs, schema, renames,
            op)
        }
    }
  }

  /** Initial snapshot (version 1). `statsCols` declares the store's
    * data-skipping columns ([[readWhere]]): every commit records per-gen
    * min/max bounds for them in the manifest. Names must be clean
    * identifiers (the blob grammar reserves `; = :`); supported types:
    * integral, floating, date, timestamp, string (string bounds follow
    * the truncate+increment discipline, [[stringBounds]]).
    */
  def write(df: DataFrame, path: String, partCol: String,
            statsCols: Seq[String] = Nil,
            bloomCols: Seq[String] = Nil,
            sortCols: Seq[String] = Nil): Unit = {
    requireAtomicRename(path)
    require(headVersion(df.sparkSession, path).isEmpty,
      s"$path already holds a snapshot store; use merge")
    validatePartCols(partCol, df.schema)
    validateStatsCols(statsCols, df.schema)
    SnapshotBloom.validateBloomCols(bloomCols, df.schema)
    sortCols.foreach(c => require(df.columns.contains(c),
      s"sortCols column '$c' is not in the batch schema " +
        s"(${df.columns.mkString(", ")})"))
    val entries = writeGen(df, path, partCol, statsCols = statsCols,
      sortBy = sortCols, bloomCols = Some(bloomCols))
    commit(df.sparkSession, path, 1,
      entries.map { case (p, d) => p -> Seq(d) },
      entries.values.map(d => d.split("/").take(2).mkString("/"))
        .toSeq.distinct,
      Some(unionSchema(new org.apache.spark.sql.types.StructType(),
        df.schema)), op = "write",
      arityHint = Some(splitPartCols(partCol).size))
    publishStatsCols(df.sparkSession, path, statsCols)
    SnapshotBloom.publishBloomCols(df.sparkSession, path, bloomCols)
    if (sortCols.nonEmpty)
      SnapshotBackfill.replaceColsFile(df.sparkSession, path, "_sortcols",
        sortCols)
    publishPartCol(df.sparkSession, path, partCol)
  }

  /** Lands `nSlices` labelled slices of ONE batch as `nSlices`
    * consecutive store versions — slice 0 as the initial write (v1),
    * slice i as the i-th append — paying a SINGLE Spark pass over the
    * source and one shuffle+write job for all slices, then per-slice
    * metadata-only commits (footer-derived stats, no rescans). Result-
    * equivalent to `write(slice 0)` followed by `append(slice i)` in
    * slice order: same gens-per-version chain, same manifest entry
    * grammar, same side-file publishes — the multi-version chain just
    * stops paying N source scans and N shuffles (guide §1.2: remove
    * whole passes before tuning anything else). This is the bulk-ingest
    * shape: an initial load that must land as day-grain versions (so
    * time travel, changes feeds, and gen-level skipping see real
    * boundaries) prices at one pass over the source.
    *
    * `slice` must evaluate to a non-null int in [0, nSlices) for every
    * row; like the write+append chain it replaces, an EMPTY slice > 0
    * commits nothing (version numbers shift down), while an empty slice
    * 0 still commits the empty v1.
    */
  def writeVersions(df: DataFrame, slice: Column, nSlices: Int,
                    path: String, partCol: String,
                    statsCols: Seq[String] = Nil,
                    bloomCols: Seq[String] = Nil,
                    sortCols: Seq[String] = Nil): Unit = {
    requireAtomicRename(path)
    require(nSlices >= 1, "writeVersions needs at least one slice")
    val spark = df.sparkSession
    require(headVersion(spark, path).isEmpty,
      s"$path already holds a snapshot store; use append/merge")
    validatePartCols(partCol, df.schema)
    validateStatsCols(statsCols, df.schema)
    SnapshotBloom.validateBloomCols(bloomCols, df.schema)
    sortCols.foreach(c => require(df.columns.contains(c),
      s"sortCols column '$c' is not in the batch schema " +
        s"(${df.columns.mkString(", ")})"))
    val dataSchema = df.schema
    // ONE job: hash-cluster by (slice, partition key), rows within each
    // file ordered like writeGen's layout (sortCols when declared)
    val parted = df
      .withColumn("_g", slice.cast("int"))
      .withColumn("_p", partKeyExpr(splitPartCols(partCol)))
      .repartition(col("_g"), col("_p"))
    val laid = parted.sortWithinPartitions(
      (col("_g") +: col("_p") +: sortCols.map(col)): _*)
    val staging =
      s".multiwrite-${java.util.UUID.randomUUID().toString.take(8)}.stage"
    laid.write.mode("overwrite").option("compression", "zstd")
      .partitionBy("_g", "_p").parquet(s"$path/data/$staging")
    // carve each slice dir into a first-class gen (pure renames), then
    // commit the chain with the SAME per-gen codecs every writer uses
    val fs = hfs(spark, path)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val gens: Seq[Option[String]] = (0 until nSlices).map { i =>
      val src = new org.apache.hadoop.fs.Path(s"$path/data/$staging/_g=$i")
      if (!fs.exists(src)) None
      else {
        val gen = "gen-" +
          java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        fc.rename(src, new org.apache.hadoop.fs.Path(s"$path/data/$gen"))
        Some(gen)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/$staging"), true)
    val schema = Some(unionSchema(
      new org.apache.spark.sql.types.StructType(), dataSchema))
    def entriesOf(genOpt: Option[String]): Map[String, String] = {
      val entries: Map[String, String] = genOpt
        .map(g => genEntriesFor(spark, path, g, statsCols, Some(bloomCols),
          dataSchema))
        .getOrElse(Map.empty)
      genOpt.filter(_ => entries.isEmpty).foreach(g => // all-empty slice dir
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/$g"), true))
      entries
    }
    def genDirsOf(entries: Map[String, String]): Seq[String] =
      entries.values.map(_.split("/").take(2).mkString("/")).toSeq.distinct
    // the initial commit, even when slice 0 is empty — write()'s shape,
    // side files published right after v1 wins, exactly like write()
    val first = entriesOf(gens.head)
    var rolling: Map[String, Seq[String]] =
      first.map { case (p, d) => p -> Seq(d) }
    commit(spark, path, 1, rolling, genDirsOf(first), schema, op = "write",
      arityHint = Some(splitPartCols(partCol).size))
    publishStatsCols(spark, path, statsCols)
    SnapshotBloom.publishBloomCols(spark, path, bloomCols)
    if (sortCols.nonEmpty)
      SnapshotBackfill.replaceColsFile(spark, path, "_sortcols", sortCols)
    publishPartCol(spark, path, partCol)
    var v = 1
    gens.drop(1).foreach { genOpt =>
      val entries = entriesOf(genOpt)
      if (entries.nonEmpty) { // empty slice > 0: append() would no-op
        val added = entries.map { case (p, d) =>
          p -> (rolling.getOrElse(p, Nil) :+ d) }
        commitDelta(spark, path, v + 1, v, removed = Set.empty,
          added = added, genDirsOf(entries), schema, op = "append")
        rolling = rolling ++ added
        v += 1
      }
    }
  }

  /** Records the store's PHYSICAL partition column (`_partcol`, published
    * after the initial commit like `_statscols`): a writer-side guard
    * source — [[dropColumn]] consults it to refuse dropping the column
    * every subsequent merge/append needs. Physical names never change, so
    * the record never does either; legacy stores without it simply skip
    * the guard (the next write still fails loudly, just less precisely).
    */
  private def publishPartCol(spark: SparkSession, path: String,
                             partCol: String): Unit = {
    val fs = hfs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path,
      s"._partcol.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(Esc.escapePathName(partCol).getBytes("UTF-8"))
    finally out.close()
    try publishFile(spark, path, tmp,
      new org.apache.hadoop.fs.Path(path, "_partcol"))
    catch { // a racing init/write already recorded it — same value
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
      case e: java.io.IOException =>
        if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_partcol")))
          throw e
        fs.delete(tmp, false)
    }
  }

  /** The CURRENT partition spec — the newest of [[allPartSpecs]]. */
  private[graft] def partColOf(spark: SparkSession,
                               path: String): Option[String] =
    allPartSpecs(spark, path).lastOption

  // ---- partition-spec EVOLUTION (r17) ---------------------------------
  //
  // The Iceberg partition-evolution concept re-derived: a store may
  // EVOLVE its partition spec — `_partcol` stays spec 1 forever (legacy
  // readers parse it unchanged), each evolution publishes the next
  // `_partcol-<k>` through the single-winner file primitive, and
  // [[partColOf]] returns the NEWEST. Old gens keep their era's keys;
  // new writes partition under the current spec; READERS are untouched
  // (fields are spec-agnostic); pruning and merge residency resolve
  // PER ERA (key arity names the era — single-column keys reserve the
  // U+0001 separator, so attribution is injective); and rewrites (DML
  // copy-on-write, compaction, merge) migrate the rows they touch to
  // the current spec — [[compactPartitions]] is the explicit
  // full-migration verb. The exact-key fast path, verdict-side conjunct
  // consumption, and the batched stats job (r18: era-grouped, ≤|eras|
  // jobs) all work ACROSS eras on the injective-attribution argument;
  // the spec list itself is permanent, which is the honest record.

  /** Every partition spec ever declared, oldest first (comma-joined
    * PHYSICAL names). Empty for stores predating the `_partcol` record.
    */
  private[graft] def allPartSpecs(spark: SparkSession,
                                  path: String): Seq[String] = {
    val fs = hfs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path, "_partcol")
    if (!fs.exists(base)) return Nil
    val first = Esc.unescapePathName(readFileUtf8(fs, base).trim)
    val rest = Iterator.from(2).map { k =>
      val p = new org.apache.hadoop.fs.Path(path, s"_partcol-$k")
      if (fs.exists(p)) Some(Esc.unescapePathName(readFileUtf8(fs, p).trim))
      else None
    }.takeWhile(_.isDefined).flatten.toSeq
    first +: rest
  }

  /** EVOLVES the partition spec: subsequent writes/appends/merges
    * partition by `newPartCol` (logical names, possibly composite); old
    * gens keep their era's keys and stay readable/prunable. Loud on a
    * no-op respec and on losing the publish race.
    */
  def evolvePartitionSpec(spark: SparkSession, path: String,
                          newPartCol: String): Unit = {
    requireAtomicRename(path)
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val renames = readRenames(spark, path, head)
    val physSchema = versionSchema(spark, path, head)
    val logicalSchema = org.apache.spark.sql.types.StructType(
      physSchema.fields.map(f =>
        f.copy(name = renames.getOrElse(f.name, f.name))))
    validatePartCols(newPartCol, logicalSchema)
    val specs = allPartSpecs(spark, path)
    require(specs.nonEmpty,
      s"store at $path records no partition column to evolve from")
    val phys = physicalPartCol(newPartCol, renames)
    require(phys != specs.last,
      s"partition spec is already '$newPartCol' — evolution must change it")
    val fs = hfs(spark, path)
    val k = specs.size + 1
    val tmp = new org.apache.hadoop.fs.Path(path,
      s"._partcol-$k.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(Esc.escapePathName(phys).getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(path, s"_partcol-$k")
    try publishFile(spark, path, tmp, dst)
    catch {
      // only the publish COLLISION is the evolution race (the target
      // exists because a concurrent evolver won) — a genuine I/O failure
      // (disk full, permissions) propagates loud instead of masquerading
      // as retryable
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new java.util.ConcurrentModificationException(
          s"lost the partition-spec evolution race at $path (spec $k " +
            "was published concurrently) — re-inspect and retry", e)
      case e: java.io.IOException if fs.exists(dst) =>
        fs.delete(tmp, false)
        throw new java.util.ConcurrentModificationException(
          s"lost the partition-spec evolution race at $path (spec $k " +
            "was published concurrently) — re-inspect and retry", e)
    }
  }

  /** Folds freshly-written per-partition gens into a commit delta,
    * merging gens whose key falls OUTSIDE the touched set (rows that
    * migrated eras under an evolved spec) into any existing untouched
    * entry at that key instead of replacing it. `base` holds the touched
    * partitions' surviving fields (keys ⊆ `removed`); `priorOf` resolves
    * prior entries for the cross keys (pruned-bucket lookup). On a
    * single-spec store `newEntries.keys ⊆ removed` always and this is
    * exactly the old rebuild.
    */
  private[storage] def foldNewEntries(removed: Set[String],
      base: Map[String, Seq[String]],
      newEntries: Map[String, String],
      priorOf: Set[String] => Map[String, Seq[String]])
      : (Set[String], Map[String, Seq[String]]) = {
    val cross = newEntries.keySet -- removed
    val prior = if (cross.isEmpty) Map.empty[String, Seq[String]]
      else priorOf(cross)
    val added = (base.keySet ++ newEntries.keySet).flatMap { p =>
      val fields = base.getOrElse(p,
        if (removed(p)) Nil else prior.getOrElse(p, Nil)) ++
        newEntries.get(p).toSeq
      if (fields.isEmpty) None else Some(p -> fields)
    }.toMap
    (removed ++ cross, added)
  }

  /** The partition KEYS `batch`'s rows may reside under across EVERY
    * recorded spec era — merge residency on an evolved store — and the
    * batch's ROW COUNT, in ONE aggregation job (§1.2: the merge path used
    * to pay three passes over the batch — the residency distinct+collect,
    * the broadcast limit-probe, and the broadcast build; residency and
    * probe now share one pass, the build is the only other).
    *
    * Eras whose components the batch carries enumerate exact keys; an
    * era the batch cannot key (a component the batch lacks) falls back to
    * every shape-candidate key from `allKeys` (a 1-col era is a candidate
    * for separator-free keys only — single-column keys RESERVE U+0001,
    * [[partKeyExprCols]]; an n-col era only for keys with exactly n
    * components). Single-spec stores never consult `allKeys`.
    *
    * The count is `count(*)` — an UPPER BOUND on the batch's distinct
    * keys (exact under the merge contract: the batch is unique per key
    * after resolution), so a broadcast decision sized on it can only err
    * toward NOT broadcasting.
    */
  private[storage] def residencyKeysWithCount(spark: SparkSession,
      path: String, batch: DataFrame, currentSpecLogical: Seq[String],
      renames: Map[String, String], allKeys: => Iterable[String])
      : (Seq[String], Long) = {
    val specs = allPartSpecs(spark, path) match {
      case Nil => Seq(currentSpecLogical)
      case ss => ss.map(s =>
        splitPartCols(s).map(c => renames.getOrElse(c, c))).distinct
    }
    val (computable, blind) =
      specs.partition(_.forall(batch.columns.contains))
    // collect_set drops NULL keys (a legal single-column value) — the
    // max(isNull) flag re-adds them
    val aggExprs: Seq[org.apache.spark.sql.Column] =
      computable.zipWithIndex.flatMap { case (cs, i) =>
        val k = partKeyExpr(cs)
        Seq(collect_set(k).as(s"_ks$i"), max(k.isNull).as(s"_kn$i"))
      } :+ count(lit(1)).as("_n")
    val row = batch.agg(aggExprs.head, aggExprs.tail: _*).head()
    val keys = computable.indices.flatMap { i =>
      val ks = row.getSeq[String](row.fieldIndex(s"_ks$i"))
      val hadNull = !row.isNullAt(row.fieldIndex(s"_kn$i")) &&
        row.getBoolean(row.fieldIndex(s"_kn$i"))
      ks ++ (if (hadNull) Seq(null) else Nil)
    }.distinct
    val n = row.getLong(row.fieldIndex("_n"))
    if (blind.isEmpty) (keys, n)
    else {
      val anyOneCol = blind.exists(_.size == 1)
      val sizes = blind.map(_.size).toSet
      // shape attribution: a 1-col era's keys never carry the separator
      // (reserved at write time — [[partKeyExprCols]]), an n-col era's
      // keys have exactly n parts
      ((keys ++ allKeys.filter { k =>
        val comps = k.split(PartSep, -1).length
        (anyOneCol && comps == 1) || sizes.contains(comps)
      }).distinct, n)
    }
  }

  // ---- composite partition keys (r17) ---------------------------------
  //
  // A store may partition by a TUPLE of columns (MergeTree's
  // `PARTITION BY (a, b)`, Iceberg's multi-field spec): the public
  // `partCol` argument spells it comma-separated ("day,tenant"), the
  // `_partcol` record stores the comma-joined PHYSICAL names, and the
  // partition KEY everywhere else stays ONE string — the U+0001-joined
  // encoding of the component values — so the manifest grammar, bucket
  // hashing, dir layout (`_p=<key>`), merge residency, and the changes
  // feed are untouched. Components are %-escaped ('%'→%25, U+0001→%01,
  // NULL→%00) so no data value can forge the separator or collide with
  // NULL. Single-column stores keep the RAW cast value as the key —
  // byte-identical to every store written before this round.

  private[storage] val PartSep = ""

  /** "day,tenant" → Seq(day, tenant); a plain name → Seq(name). */
  private[graft] def splitPartCols(partCol: String): Seq[String] = {
    val cs = partCol.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(cs.nonEmpty, s"empty partition column spec '$partCol'")
    cs
  }

  /** The composite key EXPRESSION over arbitrary component columns —
    * the exact expression every writer derives `_p` (and every resolver
    * derives residency keys) from.
    *
    * SINGLE-column keys stay the RAW cast value — byte-identical to
    * every store written before composite keys existed — but RESERVE
    * the U+0001 component separator: a value carrying it is REFUSED at
    * write time (loud `raise_error`, never silent mangling). The
    * reservation is what makes key→era attribution INJECTIVE on an
    * evolved store (a separator-free key is a 1-col era's, an n-part
    * key the n-col era's), which in turn keeps partial-constraint
    * pruning, partition-conjunct consumption (metadata counts/drops),
    * and the partition catalog's component decode sound across eras —
    * the alternative (escaping 1-col keys like components) would have
    * broken raw-key addressing everywhere. Composite components were
    * never at risk: they %-encode the separator.
    */
  private[storage] def partKeyExprCols(comps: Seq[org.apache.spark.sql.Column])
      : org.apache.spark.sql.Column =
    if (comps.size == 1) {
      val s = comps.head.cast("string")
      when(s.isNotNull && s.contains(PartSep),
        org.apache.spark.sql.functions.raise_error(concat(
          lit("single-column partition key value carries the reserved " +
            "U+0001 separator: '"), s, lit("'"))).cast("string"))
        .otherwise(s)
    }
    else org.apache.spark.sql.functions.concat_ws(PartSep, comps.map { c =>
      val s = c.cast("string")
      when(s.isNull, lit("%00")).otherwise(
        org.apache.spark.sql.functions.replace(
          org.apache.spark.sql.functions.replace(s, lit("%"), lit("%25")),
          lit(PartSep), lit("%01")))
    }: _*)

  /** [[partKeyExprCols]] over plain column NAMES. */
  private[storage] def partKeyExpr(partCols: Seq[String])
      : org.apache.spark.sql.Column =
    partKeyExprCols(partCols.map(col))

  /** Inverts `_metadata.file_path`'s URI percent-encoding for one path
    * SEGMENT (%XX only — '+' is a literal in path segments, shielded
    * from URLDecoder's form-encoding rule), UTF-8 aware.
    */
  private[storage] def pctDecode(s: String): String =
    if (!s.contains('%')) s
    else java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** Driver-side twin of the component encoding (literal values). */
  private[storage] def encPartValue(v: String): String =
    if (v == null) "%00"
    else v.replace("%", "%25").replace(PartSep, "%01")

  /** The key a row with these component VALUES lands under. */
  private[storage] def compositeKeyOf(values: Seq[String]): String =
    if (values.size == 1) values.head
    else values.map(encPartValue).mkString(PartSep)

  /** PUBLIC form of the key encoding — what callers of
    * [[readPartitions]] (and anything else addressing partitions by raw
    * key) pass for a COMPOSITE store: `partitionKeyOf(Seq(day, tenant))`.
    * Single-column stores: the value itself.
    */
  def partitionKeyOf(values: Seq[String]): String = compositeKeyOf(values)

  /** Inverts one component of the key encoding (%01 first, then %25 —
    * safe because '%' only occurs inside escape pairs and "%25" is
    * always followed by its own digits, never forming "%01").
    */
  private def decPartComponent(s: String): String =
    if (s == "%00") null
    else s.replace("%01", PartSep).replace("%25", "%")

  /** The PARTITION catalog ("SHOW PARTITIONS", the history/tags/
    * branches/constraints family's missing member): one row per live
    * partition of the head — its raw KEY, the decoded component values
    * (singleton for 1-col keys; a key whose shape predates the current
    * spec simply decodes under its own era's shape), the manifest field
    * count, how many of them are FILE-grain, the deletion-vector'd
    * position count, and the exact LIVE row count wherever every field's
    * blob carries counts (None otherwise — declare stats or backfill to
    * make it exact). ONE manifest resolve, no file I/O.
    */
  def partitionInfos(spark: SparkSession, path: String,
      version: Option[Int] = None)
      : Seq[(String, Seq[String], Int, Int, Long, Option[Long])] = {
    val v = version.orElse(headVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no snapshots at $path"))
    // component decode is SPEC-HISTORY gated, never separator-sniffed: a
    // key splits only when its shape matches a RECORDED multi-column
    // era — a single-col era's raw key that happens to embed the
    // separator stays one raw value in an all-single-col store. (In a
    // store whose history mixes a 1-col era with an n-col era, an n-part
    // key is attributed to the n-col era — the irreducible ambiguity a
    // raw value with embedded separators leaves without per-key
    // provenance; the raw KEY column is always the exact identity.)
    val multiNs = allPartSpecs(spark, path).distinct
      .map(splitPartCols(_).size).filter(_ > 1).toSet
    readManifest(spark, path, v).toSeq.sortBy(_._1).map {
      case (p, fields) => partitionInfoOf(p, fields, multiNs)
    }
  }

  /** One partition's catalog row — shared by the driver-side
    * [[partitionInfos]] and the distributed [[partitionInfosDf]].
    */
  private def partitionInfoOf(p: String, fields: Seq[String],
      multiNs: Set[Int])
      : (String, Seq[String], Int, Int, Long, Option[Long]) = {
    val parts = p.split(PartSep, -1)
    val comps =
      if (parts.length > 1 && multiNs.contains(parts.length))
        parts.toSeq.map(decPartComponent)
      else Seq(p)
    val dv = fields.flatMap(f => dvOf(f)).map(_.deleted).sum
    val nFiles = fields.count(f => dirOf(f).endsWith(".parquet"))
    val rows = fields.foldLeft(Option(0L)) { (acc, f) =>
      for (a <- acc;
           st <- statsOf(f).map(parseStats);
           r <- st.values.flatMap(_.rows).headOption)
        yield a + r
    }.map(_ - dv)
    (p, comps, fields.size, nFiles, dv, rows)
  }

  /** [[partitionInfos]] as a DISTRIBUTED scan (r18): on a segmented
    * head the catalog DataFrame is built straight from the SEGMENT
    * FILES — executors parse manifest lines, the driver never
    * materializes a partition-per-row Seq — so
    * `graft_snapshot(path, 'partitions')` aggregates at 1M partitions
    * without a driver-side catalog copy (the Iceberg `partitions`
    * metadata-table posture). Flat heads keep the one-small-parse
    * driver path.
    */
  def partitionInfosDf(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(headVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no snapshots at $path"))
    val multiNs = allPartSpecs(spark, path).distinct
      .map(splitPartCols(_).size).filter(_ > 1).toSet
    import spark.implicits._
    val cols = Seq("partition", "components", "n_fields", "n_files",
      "dv_rows", "rows")
    readHead(spark, path, v) match {
      case SegHead(_, _, refs, _) if refs.nonEmpty =>
        val segs = refs.values.map(r => s"$path/${r._2}").toSeq.sorted
        spark.read.textFile(segs: _*)
          .filter(_.nonEmpty)
          .map { line =>
            val i = line.indexOf('	')
            require(i > 0 && i < line.length - 1,
              s"malformed manifest line (no dirs): '$line'")
            val key = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(line.substring(0, i))
            partitionInfoOf(key,
              scala.collection.immutable.ArraySeq.unsafeWrapArray(
                line.substring(i + 1).split("	")), multiNs)
          }.toDF(cols: _*)
      case _ =>
        partitionInfos(spark, path, Some(v)).toDF(cols: _*)
    }
  }

  /** Partition-spec validation at the create boundary: every component
    * exists in the batch schema, none repeats, and no component name
    * carries a comma (the spec's own separator) or a control character
    * (the key encoding's).
    */
  private[storage] def validatePartCols(partCol: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val cs = splitPartCols(partCol)
    require(cs.distinct.size == cs.size,
      s"partition spec '$partCol' repeats a column")
    cs.foreach { c =>
      require(!c.exists(ch => ch == ',' || ch < ' '),
        s"partition column name '$c' contains a reserved character")
      require(schema.fieldNames.contains(c),
        s"partition column '$c' is not in the batch schema " +
          s"(${schema.fieldNames.mkString(", ")})")
    }
  }

  /** `partCol` (possibly composite, logical names) mapped component-wise
    * to the stable physical names — what `_partcol` records and writers
    * partition by.
    */
  private[storage] def physicalPartCol(partCol: String,
      renames: Map[String, String]): String =
    splitPartCols(partCol).map(physicalCol(_, renames)).mkString(",")

  /** The recorded physical partition spec mapped component-wise to the
    * head's logical names (comma-joined).
    */
  private[storage] def logicalPartCol(physPartCol: String,
      renames: Map[String, String]): String =
    splitPartCols(physPartCol).map(pc => renames.getOrElse(pc, pc))
      .mkString(",")

  /** Fails fast when `partCol` (a head-version LOGICAL name) does not
    * resolve to the store's recorded physical partition column — the
    * guard a declarative writer (the `graft-snapshot` sink) runs before
    * its first append: a second stream (or a restart with a different
    * option value) partitioning new gens by a DIFFERENT column would
    * interleave two partition-key domains in one store, silently
    * mis-resolving every later merge/readPartitions. Legacy stores
    * without a `_partcol` record skip the guard (nothing to check
    * against).
    */
  private[graft] def requirePartCol(spark: SparkSession, path: String,
                                    partCol: String): Unit =
    (partColOf(spark, path), headVersion(spark, path)) match {
      case (Some(recorded), Some(v)) =>
        val phys = physicalPartCol(partCol, readRenames(spark, path, v))
        require(phys == recorded,
          s"partCol '$partCol' (physical '$phys') does not match the " +
            s"store's recorded partition column '$recorded' at $path — " +
            "appending under a second partition key would interleave two " +
            "partition-key domains in one store")
      case _ => ()
    }

  private[storage] def validateStatsCols(statsCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit =
    statsCols.foreach { c =>
      require(!c.exists(ch => ch == ';' || ch == '=' || ch == ':' ||
        ch == '\t' || ch == '\n' || ch < ' '),
        s"stats column name '$c' contains a reserved character")
      if (schema.fieldNames.contains(c))
        require(supportedStatsType(schema(c).dataType),
          s"stats column $c has unsupported type ${schema(c).dataType} " +
            "(integral, floating, date, timestamp, timestamp_ntz, " +
            "string only)")
    }

  /** Published AFTER the initial commit: a crash between the two leaves a
    * store with no declaration — later commits just add no NEW stats,
    * reads stay correct (per-dir blobs are self-describing).
    */
  private def publishStatsCols(spark: SparkSession, path: String,
                               statsCols: Seq[String]): Unit =
    if (statsCols.nonEmpty) {
      val fs = hfs(spark, path)
      val tmp = new org.apache.hadoop.fs.Path(path,
        s"._statscols.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(statsCols.map(Esc.escapePathName).mkString("\n")
        .getBytes("UTF-8"))
      finally out.close()
      publishFile(spark, path, tmp,
        new org.apache.hadoop.fs.Path(path, "_statscols"))
    }

  /** Commits an EMPTY version 1 carrying only a recorded schema — the
    * "create table" verb. Exists for declarative writers (the
    * `graft-snapshot` streaming sink auto-creates through here) whose
    * FIRST batch must already flow through the idempotency-keyed
    * [[append]] path: seeding v1 with that batch's rows via [[write]]
    * would leave batch 0 unkeyed, and a replay would duplicate it.
    * Racing a concurrent init (or any writer) loses the same manifest CAS
    * as every commit — the caller treats an existing store as success.
    */
  def init(spark: SparkSession, path: String,
           schema: org.apache.spark.sql.types.StructType,
           statsCols: Seq[String] = Nil,
           partCol: Option[String] = None,
           bloomCols: Seq[String] = Nil,
           sortCols: Seq[String] = Nil): Unit = {
    requireAtomicRename(path)
    require(headVersion(spark, path).isEmpty,
      s"$path already holds a snapshot store")
    partCol.foreach(validatePartCols(_, schema))
    validateStatsCols(statsCols, schema)
    SnapshotBloom.validateBloomCols(bloomCols, schema)
    sortCols.foreach(c => require(schema.fieldNames.contains(c),
      s"sortCols column '$c' is not in the schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    commit(spark, path, 1, Map.empty, Nil,
      Some(unionSchema(new org.apache.spark.sql.types.StructType(), schema)),
      op = "init")
    publishStatsCols(spark, path, statsCols)
    SnapshotBloom.publishBloomCols(spark, path, bloomCols)
    if (sortCols.nonEmpty)
      SnapshotBackfill.replaceColsFile(spark, path, "_sortcols", sortCols)
    partCol.foreach(publishPartCol(spark, path, _))
  }

  /** Reads snapshot `version` (default: head), or a [[Dml.Branch]]
    * target's staged tip (the WAP audit surface). Untouched partitions
    * are shared by reference across versions, so old snapshots cost no
    * extra read work. An EMPTY version (a fresh [[init]], or every row
    * deleted) reads as zero rows under the version's recorded schema.
    */
  def read(spark: SparkSession, path: String,
           version: Option[Int] = None,
           target: Dml.Target = Dml.Head): DataFrame = {
    val st = Resolved.of(spark, path, target, version)
    st.read(st.allFields())
  }

  /** MERGE `batch` (upsert + insert + delete, latest-wins via
    * `precedenceCol`) as a NEW snapshot: reads only the touched
    * partitions' directories (manifest lookup, no listing, no filter),
    * writes only the touched partitions, commits one manifest. Same
    * semantics contract as [[MergeStore.merge]]. A lost head CAS throws
    * (wrap the call in [[withCasRetry]] to re-run it against the new
    * head); a [[Dml.Branch]] target merges into the staged tip — the
    * CDC-shaped WAP candidate write — and re-runs a lost staged CAS
    * against the new tip. A published merge-bearing branch version is
    * one commit with replaced dirs, so it stays VERSION-ATOMIC for the
    * changes feed.
    */
  def merge(spark: SparkSession, path: String, batch: DataFrame,
            partCol: String, keyCols: Seq[String],
            deleteCol: Option[String] = None,
            precedenceCol: Option[String] = None,
            broadcastRowLimit: Long = Joins.BroadcastRowLimit,
            beforeCommit: () => Unit = () => (),
            target: Dml.Target = Dml.Head): Unit = {
    requireAtomicRename(path)
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(broadcastRowLimit > 0 && broadcastRowLimit < Int.MaxValue,
      s"broadcast row limit out of range: $broadcastRowLimit")
    Resolved.retrying(target) {
      val st = Resolved.of(spark, path, target)
      // one resolution code path with MergeStore — the "same semantics
      // contract" is shared code, not a manually-synced copy
      val (resolved, upserts) = MergeStore.resolveBatch(batch, keyCols,
        deleteCol, precedenceCol)
      // CHECK constraints gate the batch's surviving upserts (deletes and
      // the carried-forward base are existing, already-conforming rows)
      SnapshotConstraints.enforce(spark, path, upserts, st.verb("merge"))
      val keys = resolved.select(keyCols.map(col): _*).distinct()
      // residency across every spec ERA (evolved stores resolve the
      // batch's keys under each era; the lazy full-entry fallback only
      // materializes when an era cannot be keyed from the batch) — fused
      // with the broadcast-decision row count into one batch pass (§1.2)
      val (parts, batchRows) = residencyKeysWithCount(spark, path,
        resolved, splitPartCols(partCol), st.renames,
        st.entries(st.logicalSchema,
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
          .keys)
      if (parts.nonEmpty) {
        // touched-values lookup: on a segmented head this parses only
        // the buckets the batch's partitions hash into — the merge itself
        // never pays the store-wide manifest parse
        val entries = st.priorOf(parts.toSet)
        val touchedDirs = parts.flatMap(entries.get).flatten
        val merged = if (touchedDirs.isEmpty) upserts else {
          // the base reads PHYSICAL and joins in LOGICAL space (batch
          // names); DV'd fields read through the central reader, so a
          // merge over a merge-on-read-deleted slice never resurrects the
          // deleted rows. The broadcast decision rides the fused count —
          // no limit-probe job
          val keysB =
            if (batchRows <= broadcastRowLimit) broadcast(keys) else keys
          upserts.unionByName(
            st.read(touchedDirs).join(keysB, keyCols, "left_anti"),
            allowMissingColumns = true)
        }
        // write boundary: logical names map back to the stable physical
        val newEntries = writeGen(toPhysical(merged, st.renames), path,
          physicalPartCol(partCol, st.renames),
          statsCols = statsColsOf(spark, path))
        beforeCommit() // test seam: a concurrent committer lands here
        // touched partitions whose rows were ALL deleted simply leave the
        // manifest — no directory surgery, the files stay for old
        // versions. foldNewEntries merges gens whose key MIGRATED eras
        // (evolved spec) into any untouched entry at that key.
        val (removed, added) = foldNewEntries(parts.toSet, Map.empty,
          newEntries, st.priorOf)
        st.commit(removed, added, genDirsOf(newEntries),
          unionSchema(st.physSchema, toPhysical(upserts, st.renames).schema),
          "merge")
      }
    }
  }

  /** Insert-only APPEND fast path: writes ONLY the batch's rows as a new
    * gen and commits a manifest where each touched partition keeps its
    * existing dirs PLUS the new one — O(batch) work regardless of store
    * size (a merge rewrites every touched partition whole, so high-rate
    * ingest through merge does O(touched partitions) work per batch; at
    * 100 TB with hot partitions that difference is the ingest budget).
    * The caller guarantees appended keys are NEW (insert-only CDC);
    * duplicate keys need [[merge]]. Appends accumulate small per-partition
    * files by design — [[compactPartitions]] (or any merge touching the
    * partition) collapses them. A [[Dml.Branch]] target appends to the
    * staged tip — the WAP candidate write; its gens land in the store's
    * own `data/` with the store's declared stats, so only the staged
    * metadata distinguishes them from a main-line append.
    *
    * `idempotencyKey` makes redelivery structural-exactly-once (the
    * Iceberg append-by-checkpoint argument, for streaming `foreachBatch`
    * sources whose at-least-once redelivery would otherwise duplicate an
    * insert-only batch): the gen dir name derives from the key, and an
    * append whose gen is already on the target is a no-op (the head:
    * referenced by ANY retained manifest; a branch: by its tip).
    * The pinned dir is published by stage-and-rename (see [[writeGen]]),
    * so concurrent duplicate deliveries — the zombie-writer case — race
    * on the RENAME, never on writes inside one directory; the dir-race
    * loser adopts the published dir and the CAS then serializes the two
    * commits, the second collapsing to a no-op (deduped dir lists). A
    * crash BETWEEN gen publish and commit leaves a complete unreferenced
    * dir the redelivery adopts and commits — either way the batch lands
    * exactly once. The guarantee window is the retention window: once
    * [[expire]] drops every manifest referencing the gen, the key is
    * forgotten (by then the source's own checkpoint has long since
    * sealed the batch).
    */
  def append(df: DataFrame, path: String, partCol: String,
             idempotencyKey: Option[String] = None,
             maxRetries: Int = 5,
             beforeCommit: () => Unit = () => (),
             target: Dml.Target = Dml.Head): Unit = {
    requireAtomicRename(path)
    val spark = df.sparkSession
    val genName = idempotencyKey.map { k =>
      "gen-b" + java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    }
    // append is THE concurrent high-rate path: a CAS loss against a
    // concurrent writer retries against the new head or tip (each attempt
    // re-resolves it; with an idempotencyKey the deterministic gen
    // rewrite is safe, and without one the loser's gen dirs were already
    // cleaned)
    withCasRetry(maxRetries) {
      val st = Resolved.of(spark, path, target)
      // CHECK constraints gate the batch after the keyed-replay check: a
      // replayed no-op must stay a no-op even under a constraint added
      // since the original delivery
      if (!genName.exists(st.applied)) {
        SnapshotConstraints.enforce(spark, path, df, st.verb("append"))
        val newEntries = writeGen(toPhysical(df, st.renames), path,
          physicalPartCol(partCol, st.renames), genName,
          statsCols = statsColsOf(spark, path))
        if (newEntries.nonEmpty) {
          // touched-values lookup (O(batch buckets) on a segmented head):
          // the prior dir lists ONLY of the partitions the batch touches
          val entries = st.priorOf(newEntries.keySet)
          beforeCommit() // test seam: a concurrent committer lands here
          // dir lists are deduped: under a concurrent duplicate delivery
          // the twin may have committed this pinned gen between our
          // applied-check and the resolve, in which case our commit must
          // be a content no-op, not a second reference read() would scan
          // twice
          st.commit(Set.empty,
            newEntries.map { case (p, d) =>
              p -> (entries.getOrElse(p, Nil) :+ d).distinct },
            // a PINNED gen is never cleaned on CAS loss: the winner of the
            // race may be a duplicate delivery of the SAME key whose
            // just-committed manifest references this very dir (deleting
            // it would dangle the winner's files, and the retry would
            // re-publish the dir a second time). An abandoned pinned gen
            // (retries exhausted) is an orphan for expire's age-floored
            // sweep. Random-named gens stay loser-cleaned.
            if (genName.isDefined) Nil else genDirsOf(newEntries),
            unionSchema(st.physSchema, toPhysical(df, st.renames).schema),
            "append")
        }
      }
    }
  }

  /** The gen dirs (`data/<gen>`) a [[writeGen]] result wrote into. */
  private[storage] def genDirsOf(newEntries: Map[String, String])
      : Seq[String] =
    newEntries.values.map(_.split("/").take(2).mkString("/")).toSeq.distinct

  /** Whether pinned gen `g` is referenced by a retained version at or
    * below `head` — the head's keyed-append replay check.
    */
  private[storage] def genApplied(spark: SparkSession, path: String,
      head: Int, g: String): Boolean = {
    // O(1) fresh-key fast path: a pinned gen dir exists only fully
    // written ([[writeGen]]'s stage-and-rename), is NEVER cleaned by a
    // CAS loser ([[append]] commits no cleanup list for pinned gens) and
    // never deleted by [[expire]] while a retained manifest references
    // it — so "dir absent" PROVES the key was never applied (within the
    // retention window; after that the dirs are gone AND the key is
    // documented forgotten). Only when the dir exists (applied, or a
    // crash between write and commit) do we consult the manifests.
    val fs = hfs(spark, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(path, s"data/$g"))) {
      // retained manifests are a CONTIGUOUS suffix of versions (expire
      // deletes a prefix), so scan head-downward and stop at the first
      // MISSING one — probed with fs.exists, so the expired-prefix
      // boundary is distinguished from a MALFORMED retained manifest,
      // which must propagate loudly (swallowing it as "not applied"
      // would permit a duplicate re-append on top of corruption)
      var v = head
      var applied = false
      var exhausted = false
      while (!applied && !exhausted && v >= 1) {
        if (!fs.exists(new org.apache.hadoop.fs.Path(path, s"_manifest-$v")))
          exhausted = true
        else try applied = readManifestDirs(spark, path, v)
          .exists(_.startsWith(s"data/$g/"))
        catch { // swept between the exists probe and the read: boundary
          case e: IllegalArgumentException if versionVanished(e) =>
            exhausted = true
          // the sweep can also land between readHead's OWN exists
          // probe and its open (or between a seg-ref parse and the
          // segment read) — the raw not-found is the same boundary
          case _: java.io.FileNotFoundException =>
            exhausted = true
        }
        v -= 1
      }
      // TAGGED ISLANDS below the contiguous suffix still pin gen dirs:
      // a gen whose only retained reference is a tagged old version
      // (its partition since rewritten, the window since expired) keeps
      // its dir alive — treating "dir exists but unscanned" as
      // not-applied would re-commit those rows into the head on top of
      // the merge that already carried them (duplicate). Rare path:
      // only reached when the dir exists AND the suffix scan missed it.
      if (!applied)
        applied = tags(spark, path).values.toSeq.distinct
          .filter(_ <= v).exists { tv => // the suffix scan covered > v
            try readManifestDirs(spark, path, tv)
              .exists(_.startsWith(s"data/$g/"))
            catch {
              case e: IllegalArgumentException if versionVanished(e) =>
                false // tag dropped + version swept mid-scan
            }
          }
      applied
    } else false
  }

  /** Per-partition small-file compaction, snapshot-committed — the Iceberg
    * "rewrite data files" action: partitions whose manifest entry lists
    * `minDirs`+ dirs (accumulated by [[append]]) are read back and
    * rewritten into ONE fresh gen dir each, then committed as a new
    * version via the same manifest CAS. Pure layout: `read(head)` before
    * and after are row-identical (the declared gate hash-matches the
    * post-compaction read against the relational union), old versions keep
    * their dirs until [[expire]]. Untouched partitions are not read,
    * listed, or rewritten. `values` narrows the sweep; returns the number
    * of partitions compacted. Racing a concurrent merge loses the CAS —
    * re-call to retry against the new head (each call re-reads it).
    *
    * `sortBy` (logical names) writes the compacted generation SORTED
    * within each partition — the OPTIMIZE-with-sort shape: compaction
    * necessarily collapses the append tail's range-disjoint gens (the
    * gen-level skipping [[readWhere]] uses on the tail), and the sorted
    * layout hands that skipping down to parquet row-group stats inside
    * the compacted files instead of losing it.
    */
  def compactPartitions(spark: SparkSession, path: String, partCol: String,
                        values: Option[Seq[String]] = None,
                        minDirs: Int = 2,
                        sortBy: Seq[String] = Nil): Int = {
    requireAtomicRename(path)
    require(minDirs >= 2, "minDirs < 2 would rewrite already-compact partitions")
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val curComps = allPartSpecs(spark, path) match {
      case specs if specs.distinct.size > 1 =>
        Some(splitPartCols(specs.last).size)
      case _ => None
    }
    def oldEraKey(p: String): Boolean =
      curComps.exists(_ != p.split(PartSep, -1).length)
    // discovery with values given is a pruned-bucket lookup; the
    // store-wide sweep (values = None) scans every segment but keeps
    // only QUALIFYING entries — the store-wide map never materializes
    val chosen = (values match {
      case Some(vs) =>
        forWrite(path, head)(readManifestValues(spark, path, head, vs))
      case None =>
        forWrite(path, head)(readHead(spark, path, head)) match {
          case FlatHead(e) => e
          case SegHead(_, _, refs, _) =>
            forWrite(path, head)(loadSegs(spark, path, head,
              refs.values.map(_._2).toSeq,
              keep = (p, dirs) => dirs.size >= minDirs ||
                dirs.exists(f => dvOf(f).nonEmpty) || oldEraKey(p)))
        }
    }).filter { case (p, dirs) =>
      // a partition holding ANY deletion-vector'd field qualifies
      // regardless of dir count (compaction repays MoR debt), and so
      // does a partition whose KEY predates the current spec era
      // (compaction is partition-spec evolution's migration verb; a
      // shape mismatch proves an old era, a coincidental match only
      // delays space reclaim, never correctness)
      (dirs.size >= minDirs || dirs.exists(f => dvOf(f).nonEmpty) ||
        oldEraKey(p)) &&
        values.forall(_.contains(p)) }
    if (chosen.isEmpty) return 0
    val sch = versionSchema(spark, path, head)
    val renames = readRenames(spark, path, head)
    // pure physical round-trip: compaction never leaves physical space
    // (sortBy arrives in LOGICAL names and maps back like every column).
    // Reading through the central field reader MATERIALIZES deletion
    // vectors: a DV'd slice rewrites as clean files, its sidecar refs
    // drop with the replaced field — compaction is the MoR debt collector
    val df = readFields(spark, path, head,
      chosen.values.flatten.toSeq.sorted)
    // MAINTENANCE writes partition by the store's RECORDED current spec,
    // not the caller's argument — a stale caller spec on an evolved
    // store would re-write old-era keys forever instead of migrating
    // (the argument stays the legacy fallback for pre-record stores)
    val newEntries = writeGen(df, path,
      partColOf(spark, path)
        .getOrElse(physicalPartCol(partCol, renames)),
      statsCols = statsColsOf(spark, path),
      sortBy = sortBy.map(physicalCol(_, renames)))
    // compaction rewrites under the CURRENT spec — on an evolved store
    // it is the migration verb: the chosen old-era entries leave and
    // their rows re-enter under current-spec keys (folded into any
    // untouched entry at the same key). Single-spec: keys identical,
    // the fold is the old replace.
    val (removed2, added2) = foldNewEntries(chosen.keySet, Map.empty,
      newEntries, cross => forWrite(path, head)(
        readManifestValues(spark, path, head, cross.toSeq)))
    commitDelta(spark, path, head + 1, head,
      removed = removed2,
      added = added2,
      newEntries.values.map(_.split("/").take(2).mkString("/"))
        .toSeq.distinct,
      Some(sch),
      renames, op = "compact")
    chosen.size
  }

  /** SURGICAL deletion-vector materialization — pay ONLY the MoR debt:
    * each partition's DV'd fields (and nothing else) are read through
    * their vectors and rewritten as one clean gen; every other field of
    * the partition — and every partition without DVs — copies forward
    * verbatim, manifest text and all. [[compactPartitions]] also
    * collects DVs but collapses the WHOLE partition (its contract is
    * layout); at 100 TB a nightly "materialize yesterday's redactions"
    * must not rewrite the partition's untouched 10-gen history to do it.
    * `values` narrows the sweep (pruned-bucket lookup, like
    * compaction's). Returns the number of partitions rewritten; rows are
    * identical before and after (pure layout, spec-pinned). Sidecars no
    * surviving field references age out at the next [[expire]].
    */
  def materializeDvs(spark: SparkSession, path: String,
                     values: Option[Seq[String]] = None): Int = {
    requireAtomicRename(path)
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val partCol = partColOf(spark, path).getOrElse(
      throw new IllegalStateException(
        s"store at $path records no partition column"))
    val entries: Map[String, Seq[String]] = (values match {
      case Some(vs) =>
        forWrite(path, head)(readManifestValues(spark, path, head, vs))
      case None =>
        forWrite(path, head)(readHead(spark, path, head)) match {
          case FlatHead(e) => e
          case SegHead(_, _, refs, _) =>
            forWrite(path, head)(loadSegs(spark, path, head,
              refs.values.map(_._2).toSeq,
              keep = (_, fs) => fs.exists(f => dvOf(f).nonEmpty)))
        }
    }).filter { case (_, fs) => fs.exists(f => dvOf(f).nonEmpty) }
    if (entries.isEmpty) return 0
    val sch = versionSchema(spark, path, head)
    val renames = readRenames(spark, path, head)
    val dvFields = entries.view.mapValues(
      _.filter(f => dvOf(f).nonEmpty)).toMap
    val df = readFields(spark, path, head,
      dvFields.values.flatten.toSeq.sorted)
    val newEntries = writeGen(df, path, partCol,
      statsCols = statsColsOf(spark, path))
    // a partition whose DV'd fields held no live rows (everything
    // deleted) gets no fresh gen; its clean fields alone remain — or the
    // entry leaves the manifest entirely. The fold routes gens whose key
    // migrated eras (evolved spec) into untouched entries.
    val base = entries.map { case (p, fs) =>
      p -> fs.filter(f => dvOf(f).isEmpty) }
    val (removed2, added2) = foldNewEntries(entries.keySet, base,
      newEntries, cross => forWrite(path, head)(
        readManifestValues(spark, path, head, cross.toSeq)))
    commitDelta(spark, path, head + 1, head,
      removed = removed2,
      added = added2,
      newEntries.values.map(_.split("/").take(2).mkString("/"))
        .toSeq.distinct,
      Some(sch),
      renames, op = "materialize_dvs")
    entries.size
  }

  /** Reads only the named partitions of snapshot `version` — the merge
    * path's manifest-lookup pruning exposed to READERS: a one-month query
    * of a 10k-partition store opens one directory, with no listing and no
    * footer reads outside the selection (a plain `read().filter(...)`
    * still lists and footer-probes every partition's files before
    * row-group stats can prune). Unknown values simply select nothing.
    */
  def readPartitions(spark: SparkSession, path: String, values: Seq[String],
                     version: Option[Int] = None): DataFrame = {
    val v = version.orElse(headVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no snapshots at $path"))
    // pruned-bucket lookup: on a segmented head only the requested
    // values' buckets are parsed (the manifest itself is pruned, not just
    // the data read)
    val entries = readManifestValues(spark, path, v, values)
    val dirs = values.distinct.flatMap(entries.get).flatten.sorted
    if (dirs.isEmpty)
      // zero rows, but the VERSION's full union schema — a single
      // "representative" dir (the pre-r11 shape) would nondeterministically
      // miss columns added by later generations, since gen names are
      // random hex and sorting picks an arbitrary one. An EMPTY store
      // (fresh init) takes the same path: read() handles zero dirs.
      read(spark, path, Some(v)).limit(0)
    else applyRenames(readFields(spark, path, v, dirs),
      readRenames(spark, path, v))
  }

  /** Version catalog — the Iceberg "snapshots" metadata-table analog: one
    * row per RETAINED version (expired manifests drop out), with the
    * partition count straight from the manifest and the row count from a
    * parquet metadata read of the version's referenced dirs (Spark's
    * count-star over parquet is footer-only — no data pages). The
    * driver-side loop is bounded by the retained version count, which
    * `expire(keep)` bounds by policy.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = hfs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val versions: Seq[Int] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).map(_.getPath.getName)
        .collect { case n if n.startsWith("_manifest-") =>
          n.stripPrefix("_manifest-").toInt }.toSeq.sorted
    versions.flatMap { v =>
      // a version expired between the listing and this read drops out
      // (the catalog reflects what is still retained), corruption stays
      // loud. Partition count comes from the HEAD file alone (a segmented
      // head carries it in the header — no segment parse for the catalog).
      try {
        val nParts = readHead(spark, path, v).totalEntries
        val nRows = if (nParts == 0) 0L else read(spark, path, Some(v)).count()
        Some((v, operationOf(spark, path, v),
          committedAtOf(spark, path, v), nParts, nRows))
      } catch {
        case e: IllegalArgumentException if versionVanished(e) => None
        // a gen/metadata file swept mid-count is the same vanished-version
        // race in a different exception suit — the catalog reflects what
        // is still retained
        case _: java.io.FileNotFoundException => None
      }
    }.toDF("version", "operation", "committed_at", "n_partitions", "n_rows")
  }

  /** The verb that produced version `v` (`_op-<v>`, Delta's DESCRIBE
    * HISTORY operation column re-derived): write / init / append / merge
    * / delete / update / compact / rollback / rename_column / drop_column
    * / retype_column / publish_branch — "commit" for versions recorded
    * before provenance existed.
    */
  def operationOf(spark: SparkSession, path: String, v: Int): String = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, s"_op-$v")
    if (!fs.exists(p)) "commit"
    else
      // expire deletes `_op-$v` with the version's other metadata; the
      // sweep landing between the probe above and this read is the same
      // vanished-file race class as a swept manifest — fall back to the
      // pre-provenance answer (the caller's version row is on its way
      // out anyway)
      try Esc.unescapePathName(readFileUtf8(fs, p).trim
        .split("\n")(0))
      catch { case _: java.io.FileNotFoundException => "commit" }
  }

  /** When version `v` committed, epoch millis (Delta DESCRIBE HISTORY's
    * timestamp column / the Iceberg snapshot-log committed_at — public
    * concepts, re-derived): line 2 of `_op-<v>`, stamped by the CAS
    * winner and adjusted to be strictly GREATER than the predecessor's
    * stamp (Delta's commit-timestamp monotonicity adjustment), so
    * "newest version at or before ts" is well-defined even when two
    * commits land in one wall-clock millisecond. None for versions
    * recorded before timestamps existed (and for the vanished-file race
    * — same fallback as [[operationOf]]).
    */
  def committedAtOf(spark: SparkSession, path: String, v: Int): Option[Long] = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, s"_op-$v")
    if (!fs.exists(p)) None
    else
      try readFileUtf8(fs, p).trim.split("\n").lift(1)
        .filter(l => l.nonEmpty && l.forall(_.isDigit)).map(_.toLong)
      catch { case _: java.io.FileNotFoundException => None }
  }


  /** Row-level CHANGES between two snapshot versions — the incremental-read
    * feed (Delta CDF / Iceberg incremental-scan shape) that lets a 100 TB
    * downstream consumer process a merge's DELTA instead of re-reading the
    * head: emits `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} plus the full row (updates contribute BOTH images,
    * so sums/counts are maintainable from the feed alone — see
    * [[graft.operators.Ivm]]).
    *
    * Scale story: the two manifests are DIFFED first, and only partitions
    * whose entry changed between the versions are read — on either side.
    * A 3-partition merge into a 10k-partition store diffs by reading 6
    * directories (3 old gens + 3 new gens), never the other 9,997
    * (SnapshotSpec pins `inputFiles` ⊆ changed dirs). Within the changed
    * partitions, identical rows (the copied-over majority of a rewritten
    * partition) cancel in one key-partitioned full-outer join, so the
    * shuffle is batch-partition-sized, not store-sized.
    *
    * `fromVersion > toVersion` is allowed and yields the exact inverse
    * feed (insert↔delete, preimage↔postimage) — the "what would this
    * rollback do" preview.
    */
  /** The two versions' bucket-pruned entry maps plus the set of
    * partitions whose field IDENTITIES differ — the prelude [[changes]]
    * and the changes source's staged-spill admission share. Manifest
    * diff is bucket-pruned when both heads are segmented with the same
    * bucket count: content-addressing makes segment-ref equality ≡
    * bucket-content equality, so only buckets whose refs DIFFER are
    * parsed at all — a 3-partition merge into a 1M-partition store
    * diffs by parsing ~3 buckets per side, never the store-wide
    * manifest. Mixed/boundary-crossing formats fall back to the full
    * parse. Partitions diff by their field IDENTITIES — dir +
    * deletion-vector suffix, never the stats-blob text
    * ([[SnapshotFormat.identityOf]]): dirs are immutable, so equal
    * identity lists PROVE identical LIVE rows — a metadata-only commit
    * (stats backfill) yields an empty feed without reading a single
    * file, while a merge-on-read DML commit (same dirs, new DV suffix)
    * correctly reads both sides and lets the row diff reconstruct its
    * deletes/updates.
    */
  private[graft] def changedMaps(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int)
      : (Map[String, Seq[String]], Map[String, Seq[String]], Set[String]) = {
    val (fromM, toM) =
      (readHead(spark, path, fromVersion), readHead(spark, path, toVersion))
      match {
        case (SegHead(nb1, _, r1, _), SegHead(nb2, _, r2, _)) if nb1 == nb2 =>
          val diff = (r1.keySet ++ r2.keySet)
            .filter(b => r1.get(b).map(_._2) != r2.get(b).map(_._2))
          def load(refs: Map[Int, (Int, String)], v: Int) =
            loadSegs(spark, path, v,
              diff.toSeq.sorted.flatMap(b => refs.get(b).map(_._2)))
          (load(r1, fromVersion), load(r2, toVersion))
        case (FlatHead(e1), FlatHead(e2)) => (e1, e2)
        case _ => (readManifest(spark, path, fromVersion),
          readManifest(spark, path, toVersion))
      }
    val changed = (fromM.keySet ++ toM.keySet)
      .filter(p => fromM.get(p).map(_.map(identityOf).sorted) !=
        toM.get(p).map(_.map(identityOf).sorted))
    (fromM, toM, changed)
  }

  /** The changed partitions between two versions plus each one's
    * involved dirs on BOTH sides (sorted) — what the changes source's
    * staged-spill slicer sizes its per-trigger slices from.
    */
  private[graft] def changedPartitionDirs(spark: SparkSession,
      path: String, fromVersion: Int, toVersion: Int)
      : Seq[(String, Seq[String])] = {
    val (fromM, toM, changed) = changedMaps(spark, path, fromVersion,
      toVersion)
    changed.toSeq.sorted.map(p => p ->
      (fromM.getOrElse(p, Nil) ++ toM.getOrElse(p, Nil))
        .map(dirOf).distinct.sorted)
  }

  def changes(spark: SparkSession, path: String, fromVersion: Int,
              toVersion: Int, keyCols: Seq[String]): DataFrame =
    changesImpl(spark, path, fromVersion, toVersion, keyCols, None)

  /** [[changes]] optionally RESTRICTED to a subset of the changed
    * partitions (`onlyParts`) — the staged-spill slice: each slice's
    * diff is computed independently over its partitions' fields, and a
    * key whose row MOVED across slice boundaries surfaces as
    * delete+insert, which the spill fold re-attributes to the exact
    * update pair the unrestricted diff emits (ChangesSource.foldSpill).
    */
  private[graft] def changesImpl(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int, keyCols: Seq[String],
      onlyParts: Option[Set[String]],
      onlyKeys: Option[DataFrame] = None): DataFrame = {
    require(keyCols.nonEmpty, "changes needs at least one key column")
    val (fromM, toM, changed0) = changedMaps(spark, path, fromVersion,
      toVersion)
    val changed = onlyParts match {
      case Some(op) => changed0.intersect(op)
      case None => changed0
    }
    // fields whose row-content IDENTITY (dir + deletion-vector suffix —
    // [[SnapshotFormat.identityOf]], the same identity changedMaps keys
    // change detection on) appears in BOTH versions of a changed
    // partition hold byte-identical row sets on both sides: under the
    // keyed store's one-row-per-key-per-version invariant their rows can
    // only pair with themselves and cancel, so neither side reads them
    // (the Delta-CDF added/removed-files narrowing). A partition whose
    // change is blob-text-only (e.g. a stats backfill) thus reads ZERO
    // data; an append's feed reads only the appended gen. Copied-over
    // rows (same content, NEW dir) still read on both sides and cancel
    // in the compare, exactly as before.
    val commonIds: Map[String, Set[String]] = changed.iterator.map { p =>
      p -> (fromM.getOrElse(p, Nil).map(identityOf).toSet intersect
        toM.getOrElse(p, Nil).map(identityOf).toSet)
    }.toMap
    def rd(m: Map[String, Seq[String]], v: Int): Option[DataFrame] = {
      val fields = changed.toSeq.flatMap(p =>
        m.getOrElse(p, Nil).filterNot(f =>
          commonIds(p).contains(identityOf(f)))).sorted
      if (fields.isEmpty) None
      else Some(readFields(spark, path, v, fields))
    }
    val (oldPhys, newPhys) = (rd(fromM, fromVersion), rd(toM, toVersion)) match {
      case (Some(o), Some(n)) => (o, n)
      case (Some(o), None) => (o, o.limit(0))
      case (None, Some(n)) => (n.limit(0), n)
      case (None, None) =>
        // no partition differs — an empty feed with the store's schema
        // (read() applies renames; strip back to physical so the rename
        // application below stays uniform)
        val any = readWithSchema(spark, path, toVersion,
          readManifestDirs(spark, path, toVersion).sorted
            .map(d => s"$path/${dirOf(d)}")).limit(0)
        (any, any)
    }
    // a column renamed between the versions is the SAME field (physical
    // names are stable): both sides read under the TO version's logical
    // names, so the feed diffs fields, not labels
    val toRenames = readRenames(spark, path, toVersion)
    val (oldRaw, newRaw) =
      (applyRenames(oldPhys, toRenames), applyRenames(newPhys, toRenames))
    // additive schema evolution across the compared versions: align BOTH
    // sides to the union schema (the newer side's field definitions lead),
    // so a column added between the versions reads as NULL in the legacy
    // preimage and the struct compare stays well-formed
    val fields = newRaw.schema.fields.toSeq ++
      oldRaw.schema.fields.filterNot(f =>
        newRaw.schema.fieldNames.contains(f.name))
    def align(df: DataFrame): DataFrame =
      df.select(fields.map(f =>
        if (!df.columns.contains(f.name))
          lit(null).cast(f.dataType).as(f.name)
        // a column retyped between the versions is the SAME field: cast
        // the narrow side to the TO version's type so a retype alone
        // produces no spurious update pairs (1 == 1L after the cast)
        else if (df.schema(f.name).dataType != f.dataType)
          col(f.name).cast(f.dataType).as(f.name)
        else col(f.name)): _*)
    val (oldDf, newDf) = (align(oldRaw), align(newRaw))
    val cols = oldDf.columns.toSeq
    keyCols.foreach(k => require(cols.contains(k), s"unknown key column $k"))
    val dataCols = cols.filterNot(keyCols.contains)
    // all-columns-are-keys degenerates to presence diff (no update arm)
    def img(df: DataFrame) =
      if (dataCols.isEmpty) struct(lit(true).as("_present"))
      else struct(dataCols.map(col): _*)
    // optional KEY restriction (the IVM fold's narrowing: a merge commit
    // can only have changed the batch's keys, so the caller passes them
    // and rows of untouched keys — which would pair and cancel anyway —
    // never shuffle into the full-outer diff; §3.2 semi-join
    // pre-filter). `onlyKeys` must carry `keyCols` and be BATCH-bounded:
    // it broadcasts (the caller asserting "few keys changed" is the
    // whole point of passing it).
    def keyFiltered(df: DataFrame): DataFrame = onlyKeys match {
      case Some(ks) =>
        df.join(broadcast(ks.select(keyCols.map(col): _*).distinct()),
          keyCols, "left_semi")
      case None => df
    }
    val oldS = keyFiltered(
      oldDf.select(keyCols.map(col) :+ img(oldDf).as("_pre"): _*))
    val newS = keyFiltered(
      newDf.select(keyCols.map(col) :+ img(newDf).as("_post"): _*))
    val j = oldS.join(newS, keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("_pre").isNull,
          array(struct(lit("insert").as("t"), col("_post").as("img"))))
        .when(col("_post").isNull,
          array(struct(lit("delete").as("t"), col("_pre").as("img"))))
        .when(!(col("_pre") <=> col("_post")),
          array(struct(lit("update_preimage").as("t"), col("_pre").as("img")),
            struct(lit("update_postimage").as("t"), col("_post").as("img"))))
        .otherwise(lit(null)) // identical row: explode drops it
        .as("_ch"): _*)
      .select(keyCols.map(col) :+ explode(col("_ch")).as("_e"): _*)
    j.select(col("_e.t").as("_change_type") +:
      cols.map { c =>
        if (keyCols.contains(c)) col(c)
        else col("_e.img").getField(c).as(c)
      }: _*)
  }

  /** Read-only store INTEGRITY REPORT — dangling gen/DV refs (error),
    * malformed fields (error), orphan dirs and crash-leftover staging
    * files (info, expire's to reclaim). A healthy store reports zero
    * rows. See [[SnapshotFsck]].
    */
  def fsck(spark: SparkSession, path: String): DataFrame =
    SnapshotFsck.fsck(spark, path)

  /** Rolls the store back to `toVersion` by committing a NEW head whose
    * manifest is that version's — history is never rewritten (the bad
    * versions stay inspectable until expired), readers see the rollback
    * atomically, and a concurrent merge serializes through the same CAS.
    * The operational "that merge was wrong, undo it" lever.
    */
  def rollback(spark: SparkSession, path: String, toVersion: Int): Unit = {
    requireAtomicRename(path)
    val head = headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    require(toVersion >= 1 && toVersion <= head,
      s"cannot roll back to $toVersion (head is $head)")
    if (toVersion == head) return
    // verbatim head-text copy: the new head IS the target's manifest — on
    // a segmented store the segment refs carry over byte-for-byte (the
    // retained target's segments still exist), so a rollback never parses
    // or rewrites a single segment regardless of store size
    val fs = hfs(spark, path)
    val mf = new org.apache.hadoop.fs.Path(path, s"_manifest-$toVersion")
    require(fs.exists(mf), s"no snapshot version $toVersion at $path")
    publishHead(spark, path, head + 1, readFileUtf8(fs, mf), Nil,
      readSchema(spark, path, toVersion),
      readRenames(spark, path, toVersion), op = "rollback")
  }

  /** Drops manifests older than the newest `keep` and deletes gen dirs no
    * surviving manifest references — the retention dial that bounds the
    * store's history cost.
    *
    * `minAgeMs` is the orphan-age floor (Iceberg's remove-orphan-files
    * argument): a concurrent append/merge/compaction writes its gen dir
    * BEFORE the manifest CAS references it, so an unreferenced-but-young
    * dir may be an in-flight commit, not garbage — deleting it would let
    * the racing committer publish a manifest of dangling files. Only dirs
    * older than the floor are deleted; CAS losers clean their own dirs
    * immediately, so orphans past the floor are crash leftovers. Pass 0
    * only when no writer can be live. (Rollback past the retention window
    * races retention itself — as in Iceberg, don't roll back to versions
    * being expired.)
    */
  def expire(spark: SparkSession, path: String, keep: Int,
             minAgeMs: Long = 3600000L): Unit = {
    requireAtomicRename(path)
    require(keep >= 1, "must keep at least the head snapshot")
    SnapshotRetention.expire(spark, path, keep, minAgeMs)
  }
}
