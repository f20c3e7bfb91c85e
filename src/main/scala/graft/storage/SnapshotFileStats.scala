package graft.storage

import org.apache.spark.sql.SparkSession

/** Per-FILE column statistics from parquet FOOTERS — the grain below the
  * manifest's per-(partition, gen) blobs, read on demand by the DML
  * copy-on-write planner ([[SnapshotDml]]). The Delta deletion-vector
  * problem ("one matching row rewrites a 10 GB slice") is answered here
  * with the cheaper public idea first: Iceberg keeps per-FILE stats in
  * its manifests and rewrites only matching files; this store keeps its
  * manifests at gen grain (they stay small and copy forward verbatim)
  * and recovers the file grain lazily — footers are only opened for the
  * few slices the gen-level verdict left AMBIGUOUS, and the blobs they
  * yield ride the SAME grammar, so a kept file enters the manifest as a
  * first-class field (`data/gen/_p=v/part-...parquet` + blob) that every
  * reader, pruner, compactor, and the changes feed already understand.
  *
  * Trust model: the store writes every one of its files itself
  * ([[SnapshotStore.writeGen]], Spark's parquet writer — unsigned-order
  * binary stats, MICROS timestamps), so footer statistics are
  * trustworthy by construction; anything missing, unexpected, or
  * non-finite degrades that column to counts-only or to no field at all
  * — the same conservative ladder [[SnapshotStore.genStats]] rides.
  * Declared-but-absent columns (schema evolution) record the all-NULL
  * counts field, exactly like the gen-level codec.
  */
private[graft] object SnapshotFileStats {
  import SnapshotFormat.{escapeStatValue, stringBounds, NoBoundsCode}

  private val Esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  // ---- gen-LEVEL stats from footers (r18) ------------------------------
  //
  // [[SnapshotStore.genStats]]'s per-(partition-dir) blobs, derived from
  // the gen's parquet FOOTERS instead of a second full scan of the
  // just-written data — O(files) metadata reads on the driver (threaded),
  // ZERO Spark jobs per commit (guide §6: stats belong to write-time
  // metadata, not a re-read; Iceberg's write-time file stats, re-derived).
  // The contract is strict BYTE PARITY with the aggregate codec: the
  // footer path serves a gen only when the footer evidence PROVES the
  // exact blob the aggregate would render — every other shape returns
  // None and the caller runs the aggregate. Typing comes from the
  // EMBEDDED WRITER SCHEMA (`org.apache.spark.sql.parquet.row.metadata`
  // in the footer's key-value metadata) — the exact schema
  // `spark.read.parquet`'s inference resolves for Spark-written files,
  // so the domain code ([[SnapshotFormat.statCode]]) can never diverge
  // from the aggregate's; a file without it (not Spark-written) falls
  // back. Per type (pinned by SnapshotFooterStatsSpec):
  //
  //  - integral/date/timestamp/ntz → raw footer longs ARE the blob's
  //    canonical domain (epoch days / epoch MICROS — the physical shape
  //    is verified against the type: a MILLIS or INT96 file falls back;
  //    rebase-free because store files carry Spark 3+ writer metadata,
  //    read under CORRECTED mode).
  //  - FLOAT/DOUBLE → 'd' with the aggregate's exact NaN/∞ discipline:
  //    any non-finite merged bound degrades to counts-only, matching the
  //    aggregate (Spark's max returns NaN when present; finite() drops
  //    it). parquet-mr DROPS float bounds when NaN is present
  //    (PARQUET-1225) — with null counts set and live rows that drop is
  //    itself NaN evidence → counts-only, same text. A footer ±0.0
  //    boundary is ambiguous (PARQUET-1222 normalizes zero signs) and
  //    falls back.
  //  - STRING → 's' through the SAME [[stringBounds]] truncation +
  //    v3 exactness flags, merged in UTF-8 byte order (footer stats are
  //    untruncated by default — parquet-mr's statistics truncation is
  //    opt-in; files whose stats were DROPPED for oversized values fail
  //    the evidence check below and fall back).
  //  - types outside supportedStatsType (boolean/decimal/binary…):
  //    counts-only fields from the chunks' null counts, exactly what the
  //    aggregate renders; nested groups fall back (no single chunk
  //    carries the group's null count).
  //
  // Evidence checks (any failure ⇒ None): every block's chunk carries
  // statistics with null counts set; a chunk with rows but no usable
  // bounds (dropped stats) only passes when provably all-NULL or
  // NaN-dropped float bounds; column presence is uniform across the
  // gen's files; no Hive default-partition dir (the aggregate keys those
  // rows under a NULL group no consumer can address — rather than
  // replicate that, fall back).

  /** One column's typed bound pair, merged across blocks/files. */
  private sealed trait GB
  private final case class LGB(mn: Long, mx: Long) extends GB
  private final case class DGB(mn: Double, mx: Double) extends GB
  private final case class SGB(mn: String, mx: String) extends GB

  /** One column's merged footer evidence within one file: domain code
    * (statCode, or [[NoBoundsCode]] for counts-only types), null count,
    * bounds (None = all-NULL so far). Left(rows) = column absent from
    * the file (reads all-NULL under the union schema).
    */
  private final case class ColEv(dom: Char, nulls: Long, b: Option[GB])

  /** UTF-8 byte order — the order parquet's writer merged string stats
    * in and the order every blob comparison uses.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  private def mergeGB(a: GB, b: GB): Option[GB] = (a, b) match {
    case (LGB(m1, x1), LGB(m2, x2)) =>
      Some(LGB(math.min(m1, m2), math.max(x1, x2)))
    case (DGB(m1, x1), DGB(m2, x2)) =>
      // java.lang.Math propagates NaN — the detector below degrades any
      // NaN-poisoned merge to counts-only, like the aggregate
      Some(DGB(math.min(m1, m2), math.max(x1, x2)))
    case (SGB(m1, x1), SGB(m2, x2)) =>
      Some(SGB(if (utf8Lt(m1, m2)) m1 else m2, if (utf8Lt(x1, x2)) x2 else x1))
    case _ => None
  }

  /** The Spark schema the WRITER embedded in the footer — exactly what
    * `spark.read.parquet`'s inference resolves for store-written files,
    * so typing decisions made from it reproduce the aggregate's. None
    * for files not written by Spark — those fall back to the aggregate.
    */
  private def embeddedSchema(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Option[org.apache.spark.sql.types.StructType] = {
    import scala.jdk.CollectionConverters._
    Option(footer.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap { json =>
        try org.apache.spark.sql.types.DataType.fromJson(json) match {
          case st: org.apache.spark.sql.types.StructType => Some(st)
          case _ => None
        } catch { case scala.util.control.NonFatal(_) => None }
      }
  }

  /** Checks the parquet primitive shape actually carries the Spark
    * type's canonical encoding (the one whose raw stats values equal the
    * aggregate's rendering): e.g. a TimestampType column must be INT64
    * TIMESTAMP(MICROS) — a MILLIS or INT96 file's raw bounds are a
    * different domain and must fall back.
    */
  private def shapeMatches(dt: org.apache.spark.sql.types.DataType,
      pt: org.apache.parquet.schema.PrimitiveType): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.spark.sql.types._
    val name = pt.getPrimitiveTypeName
    val ann = pt.getLogicalTypeAnnotation
    dt match {
      case ByteType | ShortType | IntegerType => name == INT32 && (ann match {
        case null => true
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
        case _ => false
      })
      case LongType => name == INT64 && (ann match {
        case null => true
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
        case _ => false
      })
      case FloatType => name == FLOAT
      case DoubleType => name == DOUBLE
      case DateType => name == INT32 &&
        ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
      case TimestampType | TimestampNTZType => name == INT64 && (ann match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => false
      })
      case StringType => name == BINARY &&
        ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case _ => false
    }
  }

  /** One column's evidence from one file's footer: Right(Left(rows)) =
    * absent column, Right(Right(ev)) = merged chunk evidence,
    * Left(()) = unprovable — the caller falls back to the aggregate.
    * `sparkType` is the column's type per the embedded writer schema —
    * the exact type inference would resolve, so [[SnapshotFormat.statCode]]
    * on it names the same domain the aggregate renders.
    */
  private def colEvidence(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      c: String, sparkType: Option[org.apache.spark.sql.types.DataType])
      : Either[Unit, Either[Long, ColEv]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics._
    val schema = footer.getFileMetaData.getSchema
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val dt = sparkType.getOrElse(return Right(Left(rows)))
    val fieldOpt = schema.getFields.asScala.find(_.getName == c)
    if (fieldOpt.isEmpty) return Right(Left(rows))
    val field = fieldOpt.get
    val dom =
      if (!SnapshotFormat.supportedStatsType(dt)) NoBoundsCode
      else if (field.isPrimitive && shapeMatches(dt, field.asPrimitiveType()))
        SnapshotFormat.statCode(dt)
      else return Left(())
    if (dom == NoBoundsCode && !field.isPrimitive)
      // nested types: no single column chunk carries the group's null
      // count — the aggregate's count(col) cannot be reproduced here
      return Left(())
    var nulls = 0L
    var bound: Option[GB] = None
    blocks.foreach { b =>
      if (b.getRowCount > 0L) {
        val chunk = b.getColumns.asScala
          .find(_.getPath.toDotString == c).getOrElse(return Left(()))
        val st = chunk.getStatistics
        if (st == null || !st.isNumNullsSet) return Left(())
        nulls += st.getNumNulls
        if (dom != NoBoundsCode) {
          if (st.hasNonNullValue) {
            val gb: GB = st match {
              case s: IntStatistics => LGB(s.getMin.toLong, s.getMax.toLong)
              case s: LongStatistics => LGB(s.getMin, s.getMax)
              case s: FloatStatistics =>
                DGB(s.getMin.doubleValue, s.getMax.doubleValue)
              case s: DoubleStatistics => DGB(s.getMin, s.getMax)
              case s: BinaryStatistics =>
                SGB(s.genericGetMin.toStringUsingUTF8,
                  s.genericGetMax.toStringUsingUTF8)
              case _ => return Left(())
            }
            val shapeOk = (dom, gb) match {
              case ('l' | 'a' | 't' | 'n', _: LGB) => true
              case ('d', _: DGB) => true
              case ('s', _: SGB) => true
              case _ => false
            }
            if (!shapeOk) return Left(())
            gb match {
              // PARQUET-1222: writers normalize a 0.0 min to -0.0 and a
              // -0.0 max to 0.0 for sort-order safety — a zero boundary
              // in the footer cannot name the exact value the aggregate
              // would render, so fall back
              case DGB(mn, mx) if mn == 0.0d || mx == 0.0d =>
                return Left(())
              case _ => ()
            }
            bound = bound match {
              case None => Some(gb)
              case Some(prev) =>
                Some(mergeGB(prev, gb).getOrElse(return Left(())))
            }
          } else if (st.getNumNulls != b.getRowCount) {
            if (dom == 'd')
              // PARQUET-1225: a float/double chunk with live rows but
              // dropped bounds is NaN evidence (stats were written —
              // numNulls is set — and only NaN suppresses float bounds);
              // the aggregate's NaN-poisoned min/max degrades to
              // counts-only the same way. NaN here poisons the merge.
              bound = Some(bound.fold[GB](DGB(Double.NaN, Double.NaN)) {
                prev => mergeGB(prev, DGB(Double.NaN, Double.NaN))
                  .getOrElse(return Left(()))
              })
            else
              // rows exist but bounds were dropped (oversized values):
              // the aggregate would still have exact bounds — fall back
              return Left(())
          }
        }
      }
    }
    Right(Right(ColEv(dom, nulls, bound)))
  }

  /** Renders one column's merged evidence with the aggregate's exact
    * ladder ([[SnapshotStore.blobOfRow]]'s shapes): counts always; bounds
    * only when finite/renderable; strings through [[stringBounds]] with
    * v3 exactness flags.
    */
  private def renderEvidence(key: String, ev: ColEv, total: Long)
      : String = {
    val counts = s":${ev.nulls}:$total"
    def countsOnly = s"$key=$NoBoundsCode::$counts"
    ev.b match {
      case None => countsOnly // all-NULL (or counts-only domain)
      case Some(LGB(mn, mx)) => s"$key=${ev.dom}:$mn:$mx$counts"
      case Some(DGB(mn, mx)) =>
        if (mn.isNaN || mn.isInfinite || mx.isNaN || mx.isInfinite)
          countsOnly
        else s"$key=d:$mn:$mx$counts"
      case Some(SGB(mn, mx)) =>
        stringBounds(mn, mx).map { case (lo, hi) =>
          val flags = (if (lo == mn) 1 else 0) | (if (hi == mx) 2 else 0)
          s"$key=s:${escapeStatValue(lo)}:${escapeStatValue(hi)}" +
            s"$counts:$flags"
        }.getOrElse(countsOnly)
    }
  }

  /** [[SnapshotStore.genStats]] served from footers: Some(map) iff every
    * partition dir's blob is footer-PROVABLE (byte-identical to the
    * aggregate's); None ⇒ the caller runs the aggregate. Footers are read
    * on a small driver pool — O(files) metadata work, no Spark job.
    */
  private[graft] def genBlobs(spark: SparkSession, path: String, gen: String,
      statsCols: Seq[String]): Option[Map[String, String]] = {
    if (statsCols.isEmpty) return Some(Map.empty)
    if (statsCols.contains("_p")) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val genPath = new org.apache.hadoop.fs.Path(s"$path/data/$gen")
    val fs = genPath.getFileSystem(conf)
    val dirs =
      try fs.listStatus(genPath).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith("_p="))
      catch { case scala.util.control.NonFatal(_) => return None }
    if (dirs.isEmpty) return None
    if (dirs.exists(_.getName.stripPrefix("_p=") == Esc.DEFAULT_PARTITION_NAME))
      return None
    val work: Seq[(String, org.apache.hadoop.fs.FileStatus)] = dirs.toSeq.flatMap {
      d =>
        val value = Esc.unescapePathName(d.getName.stripPrefix("_p="))
        val visible = fs.listStatus(d).filter { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        // the aggregate (spark.read.parquet) reads EVERY non-hidden file
        // regardless of extension (and recurses into non-hidden dirs) —
        // an externally-laid gen with a data file that lacks the
        // `.parquet` suffix must fall back rather than serve a blob that
        // silently omits that file's rows (ADVICE r18)
        if (visible.exists(st =>
            !st.isFile || !st.getPath.getName.endsWith(".parquet")))
          return None
        visible.map(st => value -> st)
    }
    if (work.isEmpty) return None
    // footer reads on a bounded pool: pure metadata, a few KB per file
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, work.size)))
    val futures = work.map { case (value, file) =>
      value -> pool.submit(
        new java.util.concurrent.Callable[
            Option[(Long, Seq[Either[Long, ColEv]])]] {
          def call(): Option[(Long, Seq[Either[Long, ColEv]])] =
            try {
              import scala.jdk.CollectionConverters._
              val footer = Footers.read(conf, file)
              // a file written under LEGACY datetime rebase stores
              // Julian-rebased raw date/timestamp values that Spark's
              // reader (hence the aggregate) converts on read — raw
              // footer longs would name a different domain (ADVICE r18)
              if (footer.getFileMetaData.getKeyValueMetaData
                  .containsKey("org.apache.spark.legacyDateTime"))
                return None
              val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
              val ss = embeddedSchema(footer).getOrElse(return None)
              val evs = statsCols.map(c =>
                colEvidence(footer, c,
                  ss.fields.find(_.name == c).map(_.dataType)) match {
                  case Left(_) => return None
                  case Right(ev) => ev
                })
              Some((rows, evs))
            } catch { case scala.util.control.NonFatal(_) => None }
        })
    }
    val perFile: Seq[(String, (Long, Seq[Either[Long, ColEv]]))] =
      try futures.map { case (v, f) =>
        f.get() match {
          case Some(r) => v -> r
          case None => return None
        }
      } finally pool.shutdown()
    // uniform presence across the WHOLE gen's files, not per dir group
    // (ADVICE r18): the aggregate's single-footer schema inference
    // (mergeSchema=false) resolves each column gen-wide, so a column
    // present in some dirs but absent in others could render divergent
    // per-dir blobs here — fall back instead
    statsCols.indices.foreach { i =>
      val evs = perFile.map(_._2._2(i))
      if (evs.exists(_.isLeft) && evs.exists(_.isRight)) return None
    }
    val out = perFile.groupBy(_._1).map { case (value, files) =>
      val total = files.map(_._2._1).sum
      if (total <= 0L) return None
      val fields = statsCols.indices.map { i =>
        val evs = files.map(_._2._2(i))
        if (evs.forall(_.isLeft)) {
          val key = Esc.escapePathName(statsCols(i))
          s"$key=$NoBoundsCode:::$total:$total"
        } else if (evs.exists(_.isLeft)) return None
        else {
          val cols = evs.map(_.toOption.get)
          val dom = cols.head.dom
          if (cols.exists(_.dom != dom)) return None
          val nulls = cols.map(_.nulls).sum
          val merged = cols.flatMap(_.b) match {
            case Seq() => None
            case bs => Some(bs.reduce((a, b) =>
              mergeGB(a, b).getOrElse(return None)))
          }
          // a bounds-capable column with live rows but no bounds at all
          // is dropped-stats evidence the per-chunk check should have
          // caught — fall back rather than render a weaker blob
          if (dom != NoBoundsCode && merged.isEmpty && nulls != total)
            return None
          renderEvidence(Esc.escapePathName(statsCols(i)),
            ColEv(dom, nulls, merged), total)
        }
      }
      value -> fields.mkString(";")
    }
    Some(out)
  }

  /** Lists `leafDir`'s data files (store-relative paths, sorted) and
    * derives one stats blob per file for the declared `statsCols`
    * (PHYSICAL names, same grammar as the manifest's gen-level blobs —
    * v3 exactness flags on strings included). A file whose footer lacks
    * usable statistics for a column simply omits that column's bounds
    * (counts still recorded when null counts are present); a file with
    * no usable footer at all yields None — the caller treats it as
    * might-match, never as empty.
    */
  def fileBlobs(spark: SparkSession, path: String, leafDir: String,
                statsCols: Seq[String],
                physSchema: org.apache.spark.sql.types.StructType)
      : Seq[(String, Option[String])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val dirPath = new org.apache.hadoop.fs.Path(s"$path/$leafDir")
    val files = fs.listStatus(dirPath)
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
      }.sortBy(_.getPath.getName)
    files.toSeq.map { st =>
      s"$leafDir/${st.getPath.getName}" ->
        blobOfFooter(conf, st, statsCols, physSchema)
    }
  }

  /** One file's blob (None = unreadable/empty footer — might-match). */
  private def blobOfFooter(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.FileStatus, statsCols: Seq[String],
      physSchema: org.apache.spark.sql.types.StructType): Option[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    try {
      val footer = Footers.read(conf, file)
      // LEGACY datetime rebase: raw footer longs are Julian-rebased —
      // a different domain than what the reader serves (ADVICE r18)
      if (footer.getFileMetaData.getKeyValueMetaData
          .containsKey("org.apache.spark.legacyDateTime"))
        return None
      val blocks = footer.getBlocks.asScala.toSeq
      if (blocks.isEmpty) return None
      val rows = blocks.map(_.getRowCount).sum
      if (rows <= 0L) return None
      val fileCols = footer.getFileMetaData.getSchema
        .getFields.asScala.map(_.getName).toSet
      val fields = statsCols.flatMap { c =>
        val key = Esc.escapePathName(c)
        if (!physSchema.fieldNames.contains(c)) None
        else if (!fileCols.contains(c))
          // absent column: reads NULL under the union schema — the
          // all-NULL counts field, same as the gen-level codec
          Some(s"$key=$NoBoundsCode:::$rows:$rows")
        else {
          val chunks = blocks.map(b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c))
          if (chunks.exists(_.isEmpty)) None
          else {
            val stats = chunks.flatten.map(_.getStatistics)
            val countsOk = stats.forall(st =>
              st != null && st.isNumNullsSet)
            val nulls = if (countsOk) Some(stats.map(_.getNumNulls).sum)
              else None
            val counts = nulls.map(n => s":$n:$rows").getOrElse("")
            def countsOnly =
              nulls.map(_ => s"$key=$NoBoundsCode::$counts")
            if (nulls.contains(rows)) countsOnly // all-NULL slice
            else {
              val boundsOk = stats.forall(st => st != null && !st.isEmpty &&
                st.hasNonNullValue)
              if (!boundsOk) countsOnly
              else renderBounds(key, physSchema(c).dataType, stats, counts)
                .orElse(countsOnly)
            }
          }
        }
      }
      if (fields.isEmpty) None else Some(fields.mkString(";"))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Merges the blocks' typed statistics into one blob field; None when
    * the footer's physical shape does not match the column's declared
    * type (a store never writes such files — stay conservative, not
    * loud, because DML correctness never depends on stats).
    */
  private def renderBounds(key: String,
      dt: org.apache.spark.sql.types.DataType,
      stats: Seq[org.apache.parquet.column.statistics.Statistics[_]],
      counts: String): Option[String] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.column.statistics._
    def longs: Option[(Long, Long)] = {
      val ls = stats.map {
        case st: IntStatistics => Some((st.getMin.toLong, st.getMax.toLong))
        case st: LongStatistics => Some((st.getMin, st.getMax))
        case _ => None
      }
      if (ls.exists(_.isEmpty)) None
      else Some((ls.flatten.map(_._1).min, ls.flatten.map(_._2).max))
    }
    def doubles: Option[(Double, Double)] = {
      val ds = stats.map {
        case st: FloatStatistics =>
          Some((st.getMin.doubleValue, st.getMax.doubleValue))
        case st: DoubleStatistics => Some((st.getMin, st.getMax))
        case _ => None
      }
      if (ds.exists(_.isEmpty)) None
      else Some((ds.flatten.map(_._1).min, ds.flatten.map(_._2).max))
    }
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        longs.map { case (mn, mx) => s"$key=l:$mn:$mx$counts" }
      case DateType => // parquet int32 = epoch days, the blob's domain
        longs.map { case (mn, mx) => s"$key=a:$mn:$mx$counts" }
      case TimestampType => // Spark writes TIMESTAMP(MICROS)
        longs.map { case (mn, mx) => s"$key=t:$mn:$mx$counts" }
      case TimestampNTZType =>
        longs.map { case (mn, mx) => s"$key=n:$mn:$mx$counts" }
      case FloatType | DoubleType =>
        doubles.filter { case (mn, mx) =>
          !mn.isNaN && !mn.isInfinite && !mx.isNaN && !mx.isInfinite }
          .map { case (mn, mx) =>
            s"$key=d:$mn:$mx$counts" }
      case StringType =>
        val bs = stats.map {
          case st: BinaryStatistics =>
            Some((st.genericGetMin.toStringUsingUTF8,
              st.genericGetMax.toStringUsingUTF8))
          case _ => None
        }
        if (bs.exists(_.isEmpty)) None
        else {
          // merge in UTF-8 byte order — the order the writer's stats and
          // every blob comparison use (Java String order diverges above
          // the BMP)
          def lt(a: String, b: String): Boolean = {
            val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
            val n = math.min(x.length, y.length)
            var i = 0
            while (i < n) {
              val d = (x(i) & 0xff) - (y(i) & 0xff)
              if (d != 0) return d < 0
              i += 1
            }
            x.length < y.length
          }
          val mn = bs.flatten.map(_._1).reduce((a, b) => if (lt(a, b)) a else b)
          val mx = bs.flatten.map(_._2).reduce((a, b) => if (lt(a, b)) b else a)
          stringBounds(mn, mx).map { case (lo, hi) =>
            val flags = (if (lo == mn) 1 else 0) | (if (hi == mx) 2 else 0)
            // v3 flags need the 6-field shape; without null counts the
            // field degrades to v1 (parses inexact — conservative)
            if (counts.isEmpty)
              s"$key=s:${escapeStatValue(lo)}:${escapeStatValue(hi)}"
            else
              s"$key=s:${escapeStatValue(lo)}:${escapeStatValue(hi)}" +
                s"$counts:$flags"
          }
        }
      case _ => None
    }
  }
}
