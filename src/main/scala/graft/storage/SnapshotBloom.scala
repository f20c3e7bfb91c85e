package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}

/** NEEDLE files for the [[SnapshotStore]] — per-gen bloom filters over
  * declared high-cardinality columns, consulted by
  * [[SnapshotStore.readWhere]] AFTER min/max stats pruning: an
  * equality / IN predicate on a declared bloom column drops every gen
  * whose filter proves the value absent, without listing or opening a
  * single data file in it. The layer min/max bounds cannot serve —
  * a uniformly-distributed key overlaps every gen's range, so the
  * needle-in-haystack lookup ("find THIS document id / session / url
  * hash across a year of ingest") scans everything under bounds alone;
  * with needle files it opens the one gen that holds it. The Delta
  * bloom-filter-index / parquet-bloom idea (public concepts) re-derived
  * at GEN granularity, where the win is not row-group skipping but
  * never paying the per-gen LISTING on an object store.
  *
  * Layout: one `_bloom-<physCol>` file at each gen's root (inside the
  * gen dir, so expiry and orphan sweeps carry it for free; parquet
  * readers ignore `_`-prefixed files). Built by [[SnapshotStore.writeGen]]
  * from the just-written gen (page-hot read-back, same discipline as the
  * stats pass) with Spark's public `DataFrameStatFunctions.bloomFilter`
  * sketch, published complete-or-absent via tmp + rename. Values enter
  * the filter in ONE canonical form — the column cast to string — and
  * probes render predicate literals the same way, so build/probe hashing
  * cannot diverge; declared columns are restricted to integral + string
  * types (exactly the types whose cast-to-string is literal-faithful).
  *
  * Sizing: the filter targets 1% FPR at the gen's row count, capped at
  * [[MaxItems]] expected items (~2.4 MB). A gen larger than the cap
  * still gets a filter with every value inserted — a bloom filter
  * overfilled beyond its sizing RAISES its false-positive rate but can
  * never go false-NEGATIVE, so pruning stays sound and merely less
  * selective on outsized gens.
  *
  * Conservative everywhere: a gen without a sidecar (written before the
  * declaration, or a pre-bloom store) is never pruned; correctness never
  * rests on the filter — [[SnapshotStore.readWhere]] applies the full
  * predicate to whatever survives.
  */
private[storage] object SnapshotBloom {
  import SnapshotFormat.readFileUtf8

  private val Esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  /** FPR-sizing cap: ~9.6 MB per filter at 1% — trivial beside the
    * multi-GB gen it indexes, and enough that a 15M-row ingest batch
    * only overfills ~2× (FPR a few percent, still pruning most gens).
    * Past the cap a filter is built overfilled (sound — FPR rises, never
    * false-negative) rather than unbounded.
    */
  val MaxItems: Long = 8000000L

  private def hfs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Declared bloom columns (physical names); empty when never declared.
    * Writer-side hint like `_statscols`: readers trust per-gen sidecar
    * presence, never this file.
    */
  private[graft] def bloomColsOf(spark: SparkSession,
                                 path: String): Seq[String] = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, "_bloomcols")
    if (!fs.exists(p)) Nil
    else readFileUtf8(fs, p).split("\n").filter(_.nonEmpty)
      .map(Esc.unescapePathName).toSeq
  }

  private[storage] def validateBloomCols(bloomCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    bloomCols.foreach { c =>
      require(!c.exists(ch => ch < ' '),
        s"bloom column name '$c' contains a control character")
      require(schema.fieldNames.contains(c),
        s"bloom column '$c' is not in the schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      val dt = schema(c).dataType
      require(dt match {
        case ByteType | ShortType | IntegerType | LongType |
             StringType => true
        case _ => false
      }, s"bloom column '$c' has unsupported type $dt (needle files " +
        "serve integral and string equality — the types whose " +
        "cast-to-string canonical form is literal-faithful)")
    }
  }

  private[storage] def publishBloomCols(spark: SparkSession, path: String,
                                        bloomCols: Seq[String]): Unit =
    if (bloomCols.nonEmpty) {
      val fs = hfs(spark, path)
      val tmp = new org.apache.hadoop.fs.Path(path,
        s"._bloomcols.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(bloomCols.map(Esc.escapePathName).mkString("\n")
        .getBytes("UTF-8"))
      finally out.close()
      SnapshotStore.publishFile(spark, path, tmp,
        new org.apache.hadoop.fs.Path(path, "_bloomcols"))
    }

  /** Builds and publishes `_bloom-<col>` sidecars for the just-written
    * gen — read back from its own page-hot files (never a lineage
    * recompute), the same discipline as the stats pass. A declared
    * column absent from the gen's files records no sidecar (its rows
    * read NULL; an equality can never select them, and absent = never
    * pruned keeps the conservative contract).
    */
  private[storage] def buildFor(spark: SparkSession, path: String,
                                gen: String,
                                bloomCols: Seq[String],
                                schemaHint: Option[
                                  org.apache.spark.sql.types.StructType] =
                                  None): Unit = {
    if (bloomCols.isEmpty) return
    val genPath = s"$path/data/$gen"
    // row count from the footers on the driver (metadata, no Spark job)
    // and the data schema from the writer when it knows it (r18): the
    // only scan a commit pays for its needles is the filter build itself
    val fs = hfs(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val files =
      try fs.listStatus(new org.apache.hadoop.fs.Path(genPath))
        .filter(_.isDirectory).flatMap(d => fs.listStatus(d.getPath))
        .filter(_.isFile).filter { st =>
          // every non-hidden file regardless of extension: the filter
          // build below reads the whole gen dir the same way, so a data
          // file without the .parquet suffix must still count toward
          // `expected` or the FPP degrades (ADVICE r18)
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
      catch { case _: java.io.FileNotFoundException => Array.empty }
    val rows = files.map { st =>
      import scala.jdk.CollectionConverters._
      Footers.read(conf, st).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
    if (rows == 0) return
    val schema = schemaHint.getOrElse(spark.read.parquet(genPath).schema)
    val present = bloomCols.filter(schema.fieldNames.contains)
    if (present.isEmpty) return
    val expected = math.max(64L, math.min(rows, MaxItems))
    present.foreach { c =>
      // single-column pinned read: no schema inference, and the scan
      // decodes only the declared column
      val df = spark.read.schema(
        org.apache.spark.sql.types.StructType(Seq(schema(c))))
        .parquet(genPath)
      val bf = df.select(org.apache.spark.sql.functions.col(c)
        .cast("string").as(c)).stat.bloomFilter(c, expected, 0.01)
      val tmp = new org.apache.hadoop.fs.Path(genPath,
        s"._bloom-tmp-${java.util.UUID.randomUUID.toString.take(8)}")
      val out = fs.create(tmp, true)
      try bf.writeTo(out) finally out.close()
      // complete-or-absent publish; racing duplicate deliveries of a
      // pinned gen build byte-identical filters (same rows, same puts),
      // so overwrite-rename is adoption either way
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, new org.apache.hadoop.fs.Path(genPath,
        s"_bloom-${Esc.escapePathName(c)}"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      // the raw rename leaves the staging checksum sidecar behind; the
      // published file never carries one (reads are unverified, like
      // every fc-renamed artifact) — tidy the orphan now instead of
      // waiting for the gen's expiry
      fs.delete(new org.apache.hadoop.fs.Path(genPath,
        s".${tmp.getName}.crc"), false)
    }
  }

  /** The equality/IN probes `expr`'s top-level CONJUNCTS pin on declared
    * bloom columns: physical column → the set of canonical string forms
    * the predicate allows (an empty map: nothing to probe). Only shapes
    * whose literal renders faithfully through cast-to-string participate
    * (integral and string literals — the declaration already restricted
    * the column types).
    */
  private[storage] def probesOf(
      expr: org.apache.spark.sql.catalyst.expressions.Expression,
      logicalToPhysical: Map[String, String],
      bloomCols: Set[String]): Map[String, Set[String]] = {
    import org.apache.spark.sql.catalyst.expressions._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def attr(x: Expression): Option[String] = x match {
      case a: AttributeReference =>
        val phys = logicalToPhysical.getOrElse(a.name, a.name)
        if (bloomCols.contains(phys)) Some(phys) else None
      case _ => None
    }
    def canon(l: Literal): Option[String] = l match {
      case Literal(null, _) => None
      case Literal(v, dt) => dt match {
        case org.apache.spark.sql.types.StringType => Some(v.toString)
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => Some(v.toString)
        case _ => None
      }
    }
    val sets: Seq[(String, Set[String])] = conjuncts(expr).flatMap {
      case EqualTo(a, l: Literal) =>
        attr(a).flatMap(p => canon(l).map(v => p -> Set(v)))
      case EqualTo(l: Literal, a) =>
        attr(a).flatMap(p => canon(l).map(v => p -> Set(v)))
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        attr(a).flatMap(p => canon(l).map(v => p -> Set(v)))
      case EqualNullSafe(l: Literal, a) if l.value != null =>
        attr(a).flatMap(p => canon(l).map(v => p -> Set(v)))
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        attr(a).flatMap { p =>
          val vs = list.collect { case l: Literal => l }
            .filter(_.value != null).flatMap(canon)
          // every non-null element must canonicalize, else the probe
          // under-approximates the allowed set — skip the conjunct
          if (vs.size == list.count {
            case l: Literal => l.value != null
            case _ => false
          }) Some(p -> vs.toSet) else None
        }
      case _ => None
    }
    // multiple conjuncts on one column intersect (each must pass)
    sets.groupBy(_._1).map { case (p, ss) =>
      p -> ss.map(_._2).reduce(_ intersect _)
    }
  }

  /** Drops from `dirs` (store-relative `data/<gen>/_p=...`) every gen
    * whose needle files prove the probe values absent. One sidecar read
    * per (surviving gen, probed column), cached within the call; absent
    * or column-less gens are never pruned.
    */
  private[storage] def prune(spark: SparkSession, path: String,
                             dirs: Seq[String],
                             probes: Map[String, Set[String]]): Seq[String] = {
    if (probes.isEmpty || dirs.isEmpty) return dirs
    val fs = hfs(spark, path)
    val cache = scala.collection.mutable.Map
      .empty[(String, String), Option[org.apache.spark.util.sketch.BloomFilter]]
    def filterOf(gen: String, c: String) =
      cache.getOrElseUpdate((gen, c), {
        val p = new org.apache.hadoop.fs.Path(path,
          s"data/$gen/_bloom-${Esc.escapePathName(c)}")
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
          finally in.close()
        }
      })
    dirs.filter { d =>
      val gen = d.split("/").lift(1).getOrElse("")
      gen.isEmpty || probes.forall { case (c, values) =>
        filterOf(gen, c) match {
          case None => true // no sidecar: conservative
          case Some(bf) =>
            // the gen survives when ANY allowed value might be present;
            // an empty allowed set (contradictory conjuncts) prunes
            values.exists(bf.mightContainString)
        }
      }
    }
  }
}
