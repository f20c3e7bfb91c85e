package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MergeTree-analog physical layout (SURVEY R11):
  * `/root/reference/nginx.click:1` declares
  * `PARTITION BY toYYYYMMDD(logdate) ORDER BY (logdate, logdatetime)
  *  SETTINGS index_granularity=8192` — re-expressed for Spark as:
  *
  *  - Hive-style `partitionBy("logdate")` daily directories → Catalyst
  *    partition pruning for every time-filtered dashboard query
  *    (`README.md:283`), the same pruning `toYYYYMMDD` buys ClickHouse;
  *  - `sortWithinPartitions(logdate, logdatetime)` before the write →
  *    clustered parquet row groups whose min/max stats emulate the 8192-row
  *    sparse primary index (row-group/page skipping via parquet filter
  *    pushdown);
  *  - zstd-compressed parquet ≈ MergeTree columnar compression
  *    (`README.md:32`: "it compresses stored data").
  *
  * 100 TB notes: `repartition($"logdate")` shuffles once on the partition key
  * so each day lands in few large files (no small-file explosion from N
  * upstream tasks × M days); within-day ordering costs a per-partition sort,
  * no extra exchange. For heavily skewed days, AQE splits oversized shuffle
  * partitions; `maxRecordsPerFile` caps single-file size.
  */
object LogTableWriter {

  /** Every store write pins `logdatetime` to physical INT64 TIMESTAMP_MICROS
    * for the duration of the write (conf restored after): under the lingering
    * INT96 default, parquet writes NO column min/max at all ("min/max not
    * defined" in the footer), which silently disables the `_filestats`/
    * `_tailstats` sidecars and with them every file-skipping tier of
    * [[readRange]] — results stay exact, but a 300-day store opens all ~4k
    * files for a 1-day window (caught live by ScaleProbe100's 10×
    * opened-vs-total row). The per-write `.option("outputTimestampType",
    * ...)` is NOT honored by the parquet source, so the session conf is the
    * only lever.
    */
  private val pinLock = new Object
  private val pinned =
    scala.collection.mutable.Map.empty[SparkSession, (Int, String)]

  private[graft] def withMicrosTimestamps(df: DataFrame)(f: => Unit): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val s = df.sparkSession
    // REF-COUNTED pin, not set/restore: two concurrent write/append calls
    // on one session would otherwise race — the first to finish restores
    // the original (possibly INT96) value under the other's in-flight
    // write, silently producing stat-less files (skipping lost; results
    // stay exact). The conf flips on the first pin and is restored only
    // when the LAST concurrent pin releases.
    pinLock.synchronized {
      val (depth, prev) = pinned.getOrElse(s, (0, s.conf.get(key)))
      if (depth == 0) s.conf.set(key, "TIMESTAMP_MICROS")
      pinned(s) = (depth + 1, prev)
    }
    try f finally pinLock.synchronized {
      val (depth, prev) = pinned(s)
      if (depth == 1) { s.conf.set(key, prev); pinned.remove(s) }
      else pinned(s) = (depth - 1, prev)
    }
  }

  def write(df: DataFrame, path: String,
            maxRecordsPerFile: Long = 8L * 1024 * 1024): Unit =
    withMicrosTimestamps(df) {
      df.repartition(col("logdate"))
        .sortWithinPartitions(col("logdate"), col("logdatetime"))
        .write
        .mode("overwrite")
        .option("compression", "zstd")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("logdate")
        .parquet(path)
    }

  /** Appends a micro-batch to the store root AND writes a `_tailstats-<id>`
    * sidecar carrying each new file's `(min,max) logdatetime` — so
    * [[readRange]] skips non-overlapping TAIL files too, not only the
    * compacted generation's. Without this, an append-heavy store gets no
    * file-level skipping between compactions (the r6 gap): every dashboard
    * query re-lists and re-opens the whole tail. The writer already sorts
    * within partitions, so each appended file covers a tight time slice and
    * the footer-derived stats are cheap and selective.
    *
    * Concurrency: the sidecar is attempt-uniquely named (no shared file to
    * contend on); the new-file set is a before/after listing diff, and
    * mis-attributing a concurrent appender's file is harmless — stats come
    * from that file's own footer either way. Files appended WITHOUT this
    * method simply carry no stats and are conservatively never skipped.
    */
  def append(df: DataFrame, path: String,
             maxRecordsPerFile: Long = 8L * 1024 * 1024): Unit = {
    val spark = df.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val before = dataFiles(fs, root, listing(fs, root)).keySet
    withMicrosTimestamps(df) {
      df.repartition(col("logdate"))
        .sortWithinPartitions(col("logdate"), col("logdatetime"))
        .write
        .mode("append")
        .option("compression", "zstd")
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("logdate")
        .parquet(path)
    }
    val fresh = dataFiles(fs, root, listing(fs, root)).filter { case (rel, _) =>
      !before.contains(rel) }.toSeq.sortBy(_._1)
    val lines = footerStatsLines(spark, fresh)
    if (lines.exists(!_.endsWith(s"\t${Long.MinValue}\t${Long.MaxValue}"))) {
      val sidecar = new org.apache.hadoop.fs.Path(root,
        s"_tailstats-${java.util.UUID.randomUUID.toString.take(8)}")
      val out = fs.create(sidecar, false)
      out.write(lines.mkString("\n").getBytes("UTF-8"))
      out.close()
    }
  }

  /** Reads the store through the manifest indirection: the newest
    * `_manifest-<k>` names the active compacted generation dir (`gen-<k>`)
    * plus the root files it absorbed; the table view is
    * `generation ∪ (root appends \ absorbed)`. The root side is always an
    * EXPLICIT file list (never a naked directory read), so an in-flight
    * generation write — visible on disk but not yet committed by its
    * manifest — can never leak into a reader's view, and a store that was
    * never compacted reads identically to plain parquet layout.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readView(spark, path, None)

  /** Time-ranged read with FILE-level skipping (the sparse-index analog one
    * level above row groups — `nginx.click:1`'s ORDER BY index): partition
    * pruning drops non-matching days, parquet row-group stats skip within a
    * file, but a plain read still LISTS AND OPENS every file of a matching
    * day. Here the compacted generation carries a footer-derived
    * `(min,max) logdatetime` per file in its `_filestats-<genDir>` sidecar,
    * so read planning drops non-overlapping generation files WITHOUT
    * opening them. The un-compacted root tail is skipped the same way
    * through the `_tailstats-*` sidecars [[append]] writes; a tail file no
    * sidecar covers is kept. The range predicate is also applied as a
    * filter, so results are exact regardless of stats. Inclusive bounds.
    */
  def readRange(spark: SparkSession, path: String,
                from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame = {
    val fromUs = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaTimestamp(from)
    val toUs = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaTimestamp(to)
    readView(spark, path, Some((fromUs, toUs)))
      .filter(col("logdatetime") >= lit(from) && col("logdatetime") <= lit(to))
  }

  private def readView(spark: SparkSession, path: String,
                       rangeUs: Option[(Long, Long)]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    val root = new org.apache.hadoop.fs.Path(path)
    // the one root listing this call plans from: manifest, sidecars, tail
    val top = listing(fs, root)
    def overlaps(mn: Long, mx: Long): Boolean =
      rangeUs.forall { case (fromUs, toUs) => mx >= fromUs && mn <= toUs }
    // Every relation gets its schema from footers read here, on the driver,
    // by the rule Spark's inference applies — so planning runs no Spark job
    // (inference would launch one per relation, even for a single footer).
    // `skip`: every file is skipped; keep the view's schema, read no rows.
    def scan(base: org.apache.hadoop.fs.Path,
             paths: Seq[org.apache.hadoop.fs.Path],
             schemaFooters: Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata],
             skip: Boolean): DataFrame = {
      val schema = org.apache.spark.sql.graftshim.StreamingBatchShim
        .parquetSchema(spark, schemaFooters.map(_.getFileMetaData))
      val df = spark.read.schema(schema)
        .option("basePath", base.toString).parquet(paths.map(_.toString): _*)
      if (skip) df.filter(lit(false)) else df
    }
    // The root tail (files no manifest absorbed), skipped through the
    // `_tailstats-*` sidecars of [[append]]; a file no sidecar covers
    // (foreign writer, pre-stats append) is conservatively kept. Its schema
    // merges EVERY live file's footer: the reference's evolution contract is
    // additive append-at-the-end columns (`README.md:49`), so appends may
    // carry columns older files lack, and the view's shape must not depend
    // on the window. The tail is bounded (compaction absorbs it).
    def tail(absorbed: Set[String]): Option[DataFrame] = {
      val live = dataFiles(fs, root, top).filter { case (rel, _) => !absorbed(rel) }
      val stats = if (rangeUs.isEmpty) Map.empty[String, (Long, Long)]
                  else readTailStats(fs, top)
      val kept = live.filter { case (rel, _) =>
        stats.get(rel).forall { case (mn, mx) => overlaps(mn, mx) } }
      if (live.isEmpty) None
      else Some(scan(root,
        (if (kept.isEmpty) live else kept).values.map(_.getPath).toSeq,
        live.values.map(Footers.read(conf, _)).toSeq, skip = kept.isEmpty))
    }
    newestManifest(fs, root, top) match {
      case None => tail(Set.empty)
        .getOrElse(spark.read.parquet(path)) // empty store: native error
      case Some((_, genDir, absorbed)) =>
        // A generation dir is one self-consistent rewrite: one footer gives
        // its schema, the one file non-merge inference reads.
        val genPath = new org.apache.hadoop.fs.Path(root, genDir)
        def genFile(rel: String) = new org.apache.hadoop.fs.Path(genPath, rel)
        val gen = rangeUs.flatMap(_ => readFileStats(fs, top, genDir)) match {
          case Some(stats) =>
            val overlapping = stats.collect {
              case (rel, mn, mx) if overlaps(mn, mx) => genFile(rel) }
            val files = if (overlapping.nonEmpty) overlapping
                        else Seq(genFile(stats.head._1))
            scan(genPath, files, Seq(Footers.read(conf, files.head)),
              skip = overlapping.isEmpty)
          // unranged read or pre-stats generation: the whole directory
          case None => scan(genPath, Seq(genPath), Seq(Footers.read(conf,
            dataFiles(fs, genPath, listing(fs, genPath)).minBy(_._1)._2)),
            skip = false)
        }
        // allowMissingColumns: pre-evolution generation vs evolved tail
        // (or vice versa after compaction) — absent columns read as NULL,
        // the same semantics ClickHouse gives added columns on old parts.
        tail(absorbed).fold(gen)(gen.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Retention (the `ALTER TABLE … DROP PARTITION` / MergeTree-TTL analog,
    * reference R11): drop every daily partition strictly older than
    * `cutoff`. Expressed as a compaction that retains only the live range,
    * so expiry inherits the manifest commit protocol for free — readers see
    * the old view until the new manifest lands, then the expired days are
    * gone and their bytes are GC'd with the previous generation.
    */
  def expire(spark: SparkSession, path: String,
             cutoff: java.time.LocalDate): Unit =
    compact(spark, path,
      retain = col("logdate") >= lit(java.sql.Date.valueOf(cutoff)))

  /** Compacts a streaming-written store: micro-batch appends leave one file
    * per batch per day (the small-file problem — at 100 TB, file-listing and
    * footer overhead dominate scans long before data does). Rewrites the
    * current view into few large sorted files per partition — the Spark
    * analog of MergeTree's background merges — into a NEW generation dir,
    * made visible by atomically creating the next `_manifest-<k>` file.
    *
    * Concurrency contract: every instant presents a complete,
    * duplicate-free view. Before the manifest lands, readers resolve the
    * old view; after, the new generation plus any root file NOT absorbed —
    * so appends landing mid-compaction (after the input file-listing) stay
    * visible and simply remain un-compacted until the next pass. The input
    * listing is taken from the very DataFrame the compaction reads
    * (`df.inputFiles`), so a file appended between planning and writing can
    * never be both compacted and retained. Deleting the absorbed files and
    * the previous generation is pure garbage collection — the manifest
    * already excludes them (a reader holding open handles across GC is the
    * one transient race, same as any part-GC store).
    *
    * Scale note: this is the minimal slice of a table format (one manifest,
    * one generation). At 100 TB with many concurrent writers you'd use the
    * real thing (Iceberg/Delta) — the read/commit protocol here is the same
    * shape.
    */
  def compact(spark: SparkSession, path: String,
              maxRecordsPerFile: Long = 8L * 1024 * 1024,
              beforeSwap: () => Unit = () => (),
              retain: org.apache.spark.sql.Column = lit(true)): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val prev = newestManifest(fs, root, listing(fs, root))
    val gen = prev.map(_._1 + 1).getOrElse(1)
    // Attempt-unique generation dir: two concurrent compactors racing to the
    // same generation number must never write into the SAME directory, or the
    // loser's rewrite could clobber data the winner's manifest already
    // committed. The manifest body names the winning dir; orphans are GC'd.
    val genDir = s"gen-$gen-${java.util.UUID.randomUUID.toString.take(8)}"
    // Build the input df FIRST and derive the absorbed set from the very
    // listing it scans — not from a separate walk that could race appends.
    val input = read(spark, path)
    val base = root.toUri.getPath.stripSuffix("/") + "/"
    val absorbedNow = input.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)
      .filter(_.startsWith(base)).map(_.stripPrefix(base))
      .filterNot(_.startsWith("gen-")) // prev generation dies wholesale below
      .toSet
    val genPath = new org.apache.hadoop.fs.Path(root, genDir)
    write(input.filter(retain), genPath.toString, maxRecordsPerFile)
    // fully-expired store: a partitioned write of 0 rows leaves no
    // schema-bearing file — replace with one plain empty parquet file so
    // the store stays readable (logdate becomes a regular NULL-able column)
    if (dataFiles(fs, genPath, listing(fs, genPath)).isEmpty)
      input.filter(retain).coalesce(1)
        .write.mode("overwrite").parquet(genPath.toString)
    // Per-file (min,max) logdatetime sidecar for readRange's file skipping:
    // derived from parquet FOOTERS only (no data IO), written before the
    // manifest rename so any committed generation's stats are complete.
    // Named by the attempt-unique genDir — racing compactors never collide.
    writeFileStats(spark, fs, root, genDir)
    beforeSwap() // test seam: simulate concurrent work landing here
    // Atomic CAS commit: write the manifest sideways under an attempt-unique
    // tmp name, then rename onto `_manifest-<gen>` with Rename.NONE, which
    // FAILS if the destination exists (the FileContext analog of
    // create(overwrite=false) — the same single-winner commit primitive
    // Delta's HDFS LogStore uses). Exactly one racing compactor wins the
    // name; the loser aborts, GCs its orphan generation, and surfaces the
    // conflict so the caller can retry against the new view.
    val tmp = new org.apache.hadoop.fs.Path(root, s"._manifest-$gen.$genDir.tmp")
    val out = fs.create(tmp, true)
    out.write((genDir +: absorbedNow.toSeq.sorted).mkString("\n")
      .getBytes("UTF-8"))
    out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      root.toUri, spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(root, s"_manifest-$gen")
    try fc.rename(tmp, manifest)  // default = Rename.NONE: no overwrite
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        fs.delete(genPath, true)
        fs.delete(new org.apache.hadoop.fs.Path(root, s"_filestats-$genDir"), false)
        throw new java.util.ConcurrentModificationException(
          s"compaction of $path lost the commit race for generation $gen " +
            "(another compactor committed first); this attempt was aborted " +
            "and its orphan generation removed — re-run to compact the new view",
          e)
      case e: java.io.IOException if fs.exists(manifest) =>
        // some FileContext impls signal an existing destination as a plain
        // IOException — same outcome: we lost, clean up and abort
        fs.delete(tmp, false)
        fs.delete(genPath, true)
        fs.delete(new org.apache.hadoop.fs.Path(root, s"_filestats-$genDir"), false)
        throw new java.util.ConcurrentModificationException(
          s"compaction of $path lost the commit race for generation $gen", e)
    }
    // GC (winner only): previous generation, its manifest + stats, absorbed
    // root files.
    prev.foreach { case (k, d, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(root, d), true)
      fs.delete(new org.apache.hadoop.fs.Path(root, s"_manifest-$k"), false)
      fs.delete(new org.apache.hadoop.fs.Path(root, s"_filestats-$d"), false)
    }
    absorbedNow.foreach { rel =>
      fs.delete(new org.apache.hadoop.fs.Path(root, rel), false)
    }
    // The day directories the absorbed files leave empty go too, deepest
    // first: every later root walk would list them again. Non-recursive: a
    // directory a concurrent append just landed a file in is not empty, so
    // its delete is refused and the file stays.
    absorbedNow.toSeq
      .flatMap(_.split('/').toSeq.init.inits.filter(_.nonEmpty))
      .distinct.sortBy(-_.size).foreach { dir =>
        try fs.delete(new org.apache.hadoop.fs.Path(root, dir.mkString("/")), false)
        catch { case _: java.io.IOException => () }
      }
    // Tail-stats GC against the LIVE listing (post-absorb): a sidecar is
    // dead when none of its entries names a still-existing root file — not
    // only when THIS compaction absorbed them all. A sidecar whose files
    // were absorbed across two different compactions (an append landing
    // mid-compaction) would otherwise survive forever and be re-read by
    // every readRange. A sidecar still naming ANY live file survives; its
    // stale entries are ignored by readers.
    // ORDER MATTERS: list the sidecars FIRST, the live files AFTER — a
    // concurrent append writes its data files before its sidecar, so any
    // sidecar this listing sees has its files visible to the LATER
    // dataFiles listing; snapshotting liveTail first would wrongly GC a
    // sidecar that landed in between.
    val sidecars = listing(fs, root).map(_.getPath)
      .filter(_.getName.startsWith("_tailstats-"))
    val liveTail = dataFiles(fs, root, listing(fs, root)).keySet
    sidecars.foreach { p =>
      if (!parseStatsFile(fs, p).exists { case (rel, _, _) =>
          liveTail.contains(rel) })
        fs.delete(p, false)
    }
  }

  /** One `relpath\tminUs\tmaxUs` line per file, min/max from the parquet
    * footers' INT64 (TIMESTAMP_MICROS) `logdatetime` column statistics —
    * metadata-only IO, no row reads. A file whose footer lacks usable stats
    * (absent column, all-null, non-INT64 encoding) records the FULL range,
    * i.e. is conservatively never skipped.
    */
  private def footerStatsLines(spark: SparkSession,
                               files: Seq[(String, org.apache.hadoop.fs.FileStatus)])
      : Seq[String] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { case (rel, st) =>
      val footer = Footers.read(conf, st)
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var usable = true
      val blocks = footer.getBlocks.asScala
      if (blocks.isEmpty) usable = false
      blocks.foreach { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == "logdatetime") match {
          case Some(c) => c.getStatistics match {
            case st: org.apache.parquet.column.statistics.LongStatistics
                if !st.isEmpty && st.hasNonNullValue =>
              mn = math.min(mn, st.getMin)
              mx = math.max(mx, st.getMax)
            case _ => usable = false
          }
          case None => usable = false
        }
      }
      if (!usable) { mn = Long.MinValue; mx = Long.MaxValue }
      s"$rel\t$mn\t$mx"
    }
  }

  /** Writes `_filestats-<genDir>`: one `relpath\tminUs\tmaxUs` line per data
    * file of the generation, min/max taken from the parquet footers'
    * INT64 (TIMESTAMP_MICROS) `logdatetime` column statistics — metadata-only
    * IO, no row reads. A file whose footer lacks usable stats (absent
    * column, all-null, non-INT64 encoding) records the FULL range, i.e. is
    * conservatively never skipped. Stores without a `logdatetime` column
    * write no sidecar at all, and `readRange` falls back to the plain view.
    */
  private def writeFileStats(spark: SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path,
                             genDir: String): Unit = {
    val genPath = new org.apache.hadoop.fs.Path(root, genDir)
    val lines = footerStatsLines(spark,
      dataFiles(fs, genPath, listing(fs, genPath)).toSeq.sortBy(_._1))
    // no logdatetime stats anywhere (e.g. a generic store): skip the sidecar
    if (lines.exists(!_.endsWith(s"\t${Long.MinValue}\t${Long.MaxValue}"))) {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(root, s"_filestats-$genDir"), true)
      out.write(lines.mkString("\n").getBytes("UTF-8"))
      out.close()
    }
  }

  /** One stats sidecar parsed to (relpath, minUs, maxUs) rows. */
  private def parseStatsFile(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path)
      : Seq[(String, Long, Long)] = {
    val in = fs.open(p)
    val body = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    in.close()
    body.split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val Array(rel, mn, mx) = line.split("\t")
      (rel, mn.toLong, mx.toLong)
    }
  }

  /** `_filestats-<genDir>` parsed to (relpath, minUs, maxUs), if the root
    * listing `top` has it.
    */
  private def readFileStats(fs: org.apache.hadoop.fs.FileSystem,
                            top: Seq[org.apache.hadoop.fs.FileStatus],
                            genDir: String): Option[Seq[(String, Long, Long)]] =
    top.find(_.getPath.getName == s"_filestats-$genDir")
      .map(st => parseStatsFile(fs, st.getPath))

  /** Union of every `_tailstats-*` sidecar ([[append]]) in the root listing
    * `top`: live-root relpath → (minUs, maxUs). Entries for files already
    * absorbed/GC'd are harmless — lookups key on the CURRENT live listing.
    */
  private def readTailStats(fs: org.apache.hadoop.fs.FileSystem,
                            top: Seq[org.apache.hadoop.fs.FileStatus])
      : Map[String, (Long, Long)] =
    top.map(_.getPath)
      .filter(_.getName.startsWith("_tailstats-"))
      .flatMap(p => parseStatsFile(fs, p))
      .map { case (rel, mn, mx) => rel -> (mn, mx) }.toMap

  /** Newest (generation, genDir, absorbed-root-files) manifest in the root
    * listing `top`, if any.
    */
  private def newestManifest(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path,
                             top: Seq[org.apache.hadoop.fs.FileStatus])
      : Option[(Int, String, Set[String])] = {
    val manifests = top
      .map(_.getPath.getName)
      .filter(_.matches("_manifest-\\d+"))
      .map(n => n.stripPrefix("_manifest-").toInt)
    if (manifests.isEmpty) None
    else {
      val k = manifests.max
      val in = fs.open(new org.apache.hadoop.fs.Path(root, s"_manifest-$k"))
      val body = new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      in.close()
      val lines = body.split("\n").toSeq
      Some((k, lines.head, lines.tail.toSet))
    }
  }

  /** `dir`'s entries; none when it does not exist. */
  private def listing(fs: org.apache.hadoop.fs.FileSystem,
                      dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty

  /** Recursive ROOT data-file listing, walked down from the root's entries
    * `top`, as store-relative path → file status (metadata files like
    * _SUCCESS/.crc excluded, and generation dirs skipped — those are only
    * reachable through a committed manifest). A directory that vanishes
    * mid-walk (compaction GC of an emptied day) holds no files.
    */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        root: org.apache.hadoop.fs.Path,
                        top: Seq[org.apache.hadoop.fs.FileStatus])
      : Map[String, org.apache.hadoop.fs.FileStatus] = {
    val base = root.toUri.getPath.stripSuffix("/") + "/"
    val out = scala.collection.mutable.Map.empty[String, org.apache.hadoop.fs.FileStatus]
    def walk(entries: Seq[org.apache.hadoop.fs.FileStatus]): Unit =
      entries.foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (!name.startsWith("gen-"))
            walk(try fs.listStatus(st.getPath).toSeq
                 catch { case _: java.io.FileNotFoundException => Seq.empty })
        }
        else if (!name.startsWith("_") && !name.startsWith("."))
          out(st.getPath.toUri.getPath.stripPrefix(base)) = st
      }
    walk(top)
    out.toMap
  }
}
