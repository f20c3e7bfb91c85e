package graft.catalog

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

import graft.storage.{CatalogBridge, SnapshotStore}

/** The catalog path's distributed writer: each task writes rows into
  * per-partition parquet files inside ONE staging gen dir (hidden
  * `.part-*.tmp` names, renamed into place at task commit — zombie
  * attempts stay invisible to every dot-skipping reader), the driver
  * then blobs/needles the gen through the store's own codecs and
  * commits the manifest:
  *
  *   - Append: touched entries gain the new dir field — an O(touched
  *     buckets) delta commit with a bounded CAS retry loop.
  *   - Overwrite (INSERT OVERWRITE): the new entries REPLACE the map —
  *     one full commit.
  */
private[catalog] class GraftBatchWrite(path: String,
    physSchema: StructType, physPartCols: Seq[String],
    mode: GraftWriteMode.Value, spark: SparkSession)
    extends BatchWrite {

  private val gen = "gen-" + java.util.UUID.randomUUID.toString
    .replace("-", "").take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val ordinals = physPartCols.map(c => physSchema.fieldIndex(c))
    val confMap = mutable.Map[String, String]()
    // the session's hadoop conf WITH every SQL conf injected — exactly
    // what Spark's own parquet write tasks see, so the row codec reads
    // the same knobs (legacy format, timestamp type, rebase modes, ...)
    val hc = spark.sessionState.newHadoopConf()
    val it = hc.iterator()
    while (it.hasNext) { val e = it.next(); confMap(e.getKey) = e.getValue }
    confMap("org.apache.spark.sql.parquet.row.attributes") = physSchema.json
    val sc = spark.sessionState.conf
    // newHadoopConf injects only EXPLICITLY-SET sql confs; the parquet
    // row codec asserts these are present — resolve them (defaults
    // included) the way Spark's own prepareWrite does
    import org.apache.spark.sql.internal.SQLConf
    import scala.language.reflectiveCalls
    // ConfigEntry's type is spark-private; a structural type reads the
    // two members this needs
    def put(e: { def key: String; def defaultValueString: String }): Unit =
      confMap(e.key) = sc.getConfString(e.key, e.defaultValueString)
    put(SQLConf.PARQUET_WRITE_LEGACY_FORMAT)
    put(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE)
    put(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED)
    put(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
    put(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
    put(SQLConf.PARQUET_REBASE_MODE_IN_WRITE)
    put(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE)
    put(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED)
    new GraftWriterFactory(path, gen, physSchema, ordinals,
      physPartCols.size, sc.sessionLocalTimeZone, confMap.toMap)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val keys = messages.flatMap {
      case GraftCommitMessage(ks) => ks
      case other => throw new IllegalStateException(s"alien $other")
    }.toSet
    val fsRoot = new org.apache.hadoop.fs.Path(path)
    val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (keys.isEmpty) {
      // an empty write: Append/Overwrite-to-empty still commit their
      // (possibly emptying) manifests; clean the fileless staging dir
      fs.delete(new org.apache.hadoop.fs.Path(path, s"data/$gen"), true)
      if (mode == GraftWriteMode.Append) return
    }
    // the store's own per-gen codecs: stats blobs + needle sidecars
    val blobs: Map[String, String] =
      if (keys.isEmpty) Map.empty
      else CatalogBridge.genStats(spark, path, gen)
    if (keys.nonEmpty) CatalogBridge.buildBloom(spark, path, gen)
    val newFields: Map[String, Seq[String]] = keys.iterator.map { k =>
      val dir = s"data/$gen/${CatalogBridge.dirNameOf(k)}"
      k -> Seq(CatalogBridge.fieldWithBlob(dir, blobs.get(k)))
    }.toMap
    def cleanup(): Unit =
      fs.delete(new org.apache.hadoop.fs.Path(path, s"data/$gen"), true)
    mode match {
      case GraftWriteMode.Append =>
        try SnapshotStore.withCasRetry() {
          val h = SnapshotStore.headVersion(spark, path).getOrElse(
            throw new IllegalArgumentException(s"no snapshots at $path"))
          val prior = CatalogBridge.priorFields(spark, path, h,
            newFields.keys.toSeq)
          val added = newFields.map { case (k, fs0) =>
            k -> (prior.getOrElse(k, Nil) ++ fs0) }
          val schema = Some(CatalogBridge.unionSchema(
            CatalogBridge.physicalSchema(spark, path, h), physSchema))
          CatalogBridge.commitDelta(spark, path, h + 1, h, Set.empty,
            added, Nil, schema, op = "append")
        } catch {
          case e: java.util.ConcurrentModificationException =>
            cleanup(); throw e
        }
      case GraftWriteMode.Overwrite =>
        val h = SnapshotStore.headVersion(spark, path).getOrElse(1)
        val schema = Some(CatalogBridge.unionSchema(
          CatalogBridge.physicalSchema(spark, path, h), physSchema))
        try CatalogBridge.commitFull(spark, path, h + 1, newFields, Nil,
          schema, "overwrite")
        catch { case e: Throwable => cleanup(); throw e }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, s"data/$gen"), true)
  }
}

private[catalog] case class GraftCommitMessage(keys: Seq[String])
    extends WriterCommitMessage

/** Serializable per-task writer factory. `confMap` rebuilds the Hadoop
  * conf on the executor (plus the parquet write-support keys).
  */
private[catalog] class GraftWriterFactory(path: String, gen: String,
    physSchema: StructType, partOrdinals: Seq[Int], nComps: Int,
    zoneId: String, confMap: Map[String, String])
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(path, gen, physSchema, partOrdinals, nComps,
      zoneId, confMap, partitionId, taskId)
}

/** One task's writer: derives each row's partition KEY through the same
  * Cast-to-string the declarative writer uses (so dir names and manifest
  * keys are byte-identical to [[SnapshotStore.writeGen]]'s), keeps one
  * open parquet writer per key (rows arrive clustered by the write's
  * required distribution), writes hidden `.tmp` names and renames them
  * into place only at task COMMIT — the Hadoop-commit-protocol argument
  * in one writer: a speculative or zombie attempt's files stay invisible
  * (dot-prefixed) and age out, so dir-grain manifest fields never see
  * duplicate rows.
  */
private[catalog] class GraftDataWriter(path: String, gen: String,
    physSchema: StructType, partOrdinals: Seq[Int], nComps: Int,
    zoneId: String, confMap: Map[String, String], partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}

  private val conf = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    confMap.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private val keyProj = {
    val casts = partOrdinals.map { i =>
      val f = physSchema(i)
      Cast(BoundReference(i, f.dataType, f.nullable),
        org.apache.spark.sql.types.StringType, Option(zoneId))
    }
    org.apache.spark.sql.catalyst.expressions.SafeProjection.create(casts)
  }

  // open writer + its tmp/final paths, per manifest key
  private case class Open(
      writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow],
      tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path)
  private val open = mutable.LinkedHashMap[String, Open]()

  private def keyOf(row: InternalRow): String = {
    val comps = keyProj(row)
    if (nComps == 1) {
      val v = if (comps.isNullAt(0)) null else comps.getUTF8String(0).toString
      if (v == null)
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME
      else {
        require(!v.contains(CatalogBridge.partSep),
          "single-column partition key value carries the reserved " +
            s"U+0001 separator: '$v'")
        v
      }
    } else {
      (0 until nComps).map { i =>
        CatalogBridge.encComponent(
          if (comps.isNullAt(i)) null else comps.getUTF8String(i).toString)
      }.mkString(CatalogBridge.partSep)
    }
  }

  private def writerFor(key: String): Open =
    open.getOrElseUpdate(key, {
      val dir = s"$path/data/$gen/${CatalogBridge.dirNameOf(key)}"
      val base = s"part-$partitionId-$taskId-" +
        java.util.UUID.randomUUID.toString.take(8)
      val tmp = new org.apache.hadoop.fs.Path(dir, s".$base.tmp")
      val dst = new org.apache.hadoop.fs.Path(dir, s"$base.zstd.parquet")
      // ParquetWriteSupport is Spark-internal but its bytecode is public;
      // reflective construction sidesteps the Scala access modifier while
      // staying on the pinned Spark version's own row codec
      val support = Class.forName(
        "org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport")
        .getDeclaredConstructor().newInstance()
        .asInstanceOf[org.apache.parquet.hadoop.api.WriteSupport[InternalRow]]
      val writer = new org.apache.parquet.hadoop.ParquetWriter[InternalRow](
        tmp,
        support,
        org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD,
        128 * 1024 * 1024, 1024 * 1024, 1024 * 1024,
        true, false,
        org.apache.parquet.column.ParquetProperties.WriterVersion.PARQUET_1_0,
        conf)
      Open(writer, tmp, dst)
    })

  override def write(row: InternalRow): Unit =
    writerFor(keyOf(row)).writer.write(row)

  override def commit(): WriterCommitMessage = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    open.values.foreach { o =>
      o.writer.close()
      if (!fs.rename(o.tmp, o.dst))
        throw new java.io.IOException(s"rename ${o.tmp} -> ${o.dst} failed")
      // drop the checksum sidecar of the tmp name (its content hash no
      // longer matches a file by that name)
      fs.delete(new org.apache.hadoop.fs.Path(o.tmp.getParent,
        s".${o.tmp.getName}.crc"), false)
    }
    GraftCommitMessage(open.keys.toSeq)
  }

  override def abort(): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    open.values.foreach { o =>
      try o.writer.close() catch { case _: Throwable => () }
      fs.delete(o.tmp, false)
      fs.delete(new org.apache.hadoop.fs.Path(o.tmp.getParent,
        s".${o.tmp.getName}.crc"), false)
    }
  }

  override def close(): Unit = ()
}
