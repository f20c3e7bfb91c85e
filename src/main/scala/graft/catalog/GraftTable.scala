package graft.catalog

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.{CatalogBridge, SnapshotStore}

/** One catalog table = one snapshot store ([[GraftCatalog]] scaladoc for
  * the execution posture). Reads bridge to [[SnapshotStore.readWhere]]
  * (the full skipping ladder) through `V1Scan`; writes run a real
  * distributed [[GraftBatchWrite]]; DELETE takes the store's predicate
  * DML when the whole condition converts; MERGE/UPDATE run group-based
  * copy-on-write row-level operations pinned to one head version.
  */
private[catalog] class GraftTable(path: String, ident: String)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsDeleteV2
    with SupportsMetadataColumns {

  /** The row's partition KEY (`_p`) as a metadata column — selectable
    * by users, and the metadata attribute the row-level operations
    * declare so Spark engages its data/metadata row projections (the
    * writer then receives exactly the table columns).
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_p"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = true
    })

  private def spark: SparkSession = SparkSession.active

  private def head: Int = SnapshotStore.headVersion(spark, path).getOrElse(
    throw new IllegalArgumentException(s"no snapshots at $path"))

  override def name(): String = ident

  override def schema(): StructType =
    CatalogBridge.logicalSchema(spark, path, head)

  override def partitioning(): Array[Transform] =
    SnapshotStore.partColOf(spark, path).toArray.flatMap(pc =>
      logicalPartCols(pc).map(c => Expressions.identity(c)))

  private def logicalPartCols(physSpec: String): Seq[String] = {
    val renames = CatalogBridge.renames(spark, path, head)
    SnapshotStore.splitPartCols(physSpec).map(c => renames.getOrElse(c, c))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(path, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(path, info.schema(), GraftWriteMode.Append, None)

  // ---- native MERGE / UPDATE / residual DELETE ---------------------------

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder = {
    // pin ONE head version for the whole statement: the scan reads it,
    // the replacing commit diffs against it, and the CAS on head+1
    // surfaces any concurrent commit as a loud conflict instead of a
    // lost update
    val pinned = head
    val staging = s"$path/_tmp/replace-scan-" +
      java.util.UUID.randomUUID.toString.take(8)
    // the statement's group-filter handshake: when Spark's runtime
    // group filtering narrows the scan to the partition keys that can
    // hold matches, the replacing write commits a DELTA over exactly
    // those groups (untouched partitions keep their manifest fields
    // verbatim); when it never fires — MERGE with NOT MATCHED BY SOURCE
    // clauses, staged shapes, conf off — the write stays the full
    // replacing commit. Statement-scoped: scan and write share it.
    val groupFilter = new GroupFilterState
    () => new RowLevelOperation {
      override def command(): RowLevelOperation.Command = info.command()
      override def newScanBuilder(options: CaseInsensitiveStringMap)
          : ScanBuilder =
        // NO static pushdown here: group-based copy-on-write replaces
        // what the scan produced, so the scan must read every live row
        // of every group that can hold a match (the rewritten plan
        // itself drops/updates rows). Group narrowing happens at
        // RUNTIME through SupportsRuntimeV2Filtering — exact, not a
        // heuristic — so a selective statement rewrites only the
        // touched partitions; the TVF verbs remain the other
        // O(touched) DML surface (SURVEY §2.B records the trade).
        new GraftReplaceScanBuilder(path, pinned, staging, groupFilter)
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(Expressions.column("_p"))
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new GraftWriteBuilder(path, info.schema(),
          GraftWriteMode.ReplaceAll, Some(pinned), Some(staging),
          Some(groupFilter))
    }
  }

  // ---- metadata/predicate DELETE (SupportsDeleteV2) ----------------------

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    predicates.forall(p =>
      V2PredicateConv.toColumn(p).isDefined)

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    // empty conjunction = TRUE = delete everything (the default
    // truncateTable also routes here)
    val pred = predicates.foldLeft(org.apache.spark.sql.functions.lit(true)) {
      (acc, p) => acc && V2PredicateConv.toColumn(p).getOrElse(
        throw new UnsupportedOperationException(
          s"cannot convert $p — canDeleteWhere should have refused"))
    }
    SnapshotStore.deleteWhere(spark, path, pred)
  }
}

/** Scan builder: filter pushdown is PRUNING-ONLY (the store's manifest
  * restriction + stats/bloom skipping inside [[SnapshotStore.readWhere]])
  * — every filter is also returned as post-scan, so Spark re-evaluates
  * and exactness never depends on the convert.
  */
private[catalog] class GraftScanBuilder(path: String, full: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(V1FilterConv.toColumn(_).isDefined)
    filters // all re-applied by Spark — pruning-only pushdown
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val pred = pushed.flatMap(V1FilterConv.toColumn(_))
        .reduceOption(_ && _)
      val requiredCols = required.fieldNames.toSeq
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = {
          val spark = context.sparkSession
          val base0 = pred match {
            case Some(c) => SnapshotStore.readWhere(spark, path, c)
            case None => SnapshotStore.read(spark, path)
          }
          // `_p` (the partition-key metadata column) computes on demand
          val base =
            if (requiredCols.contains("_p"))
              base0.withColumn("_p", CatalogBridge.partKeyColumn(spark,
                path, SnapshotStore.headVersion(spark, path).getOrElse(1)))
            else base0
          base.select(requiredCols.map(col): _*).rdd
        }
      }.asInstanceOf[T]
    }
  }
}

private[catalog] object GraftWriteMode extends Enumeration {
  val Append, Overwrite, ReplaceAll = Value
}

/** Write builder → [[GraftBatchWrite]]. `truncate()` turns an INSERT
  * into a full overwrite; `ReplaceAll` is the row-level operations'
  * replacing write against a pinned head.
  */
private[catalog] class GraftWriteBuilder(path: String,
    writeSchema: StructType, mode: GraftWriteMode.Value,
    pinnedHead: Option[Int], stagingToClean: Option[String] = None,
    groupFilter: Option[GroupFilterState] = None)
    extends WriteBuilder with SupportsTruncate {

  override def truncate(): WriteBuilder =
    new GraftWriteBuilder(path, writeSchema, GraftWriteMode.Overwrite,
      pinnedHead, stagingToClean)

  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    private val spark = SparkSession.active
    private val headNow = pinnedHead.getOrElse(
      SnapshotStore.headVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"no snapshots at $path")))
    private val renames = CatalogBridge.renames(spark, path, headNow)
    private val logicalToPhys = renames.map(_.swap)
    // rows arrive under LOGICAL names; parquet records PHYSICAL names
    private val physSchema = StructType(writeSchema.fields.map(f =>
      f.copy(name = logicalToPhys.getOrElse(f.name, f.name))))
    private val physPartCols = SnapshotStore.partColOf(spark, path)
      .map(SnapshotStore.splitPartCols).getOrElse(
        throw new IllegalArgumentException(
          s"store at $path records no partition spec"))
    private val logicalPartCols =
      physPartCols.map(c => renames.getOrElse(c, c))

    override def requiredDistribution(): Distribution =
      Distributions.clustered(
        logicalPartCols.toArray.map(c =>
          Expressions.column(c)
            .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]))

    override def requiredOrdering(): Array[SortOrder] = Array.empty

    override def toBatch: BatchWrite = {
      physPartCols.foreach(c => require(
        physSchema.fieldNames.contains(c),
        s"write schema lacks partition column '$c' " +
          s"(${physSchema.fieldNames.mkString(", ")})"))
      new GraftBatchWrite(path, physSchema, physPartCols, mode, headNow,
        spark, stagingToClean, groupFilter)
    }
  }
}
