package graft.catalog

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.{CatalogBridge, SnapshotStore}

/** One catalog table = one snapshot store ([[GraftCatalog]] scaladoc for
  * the execution posture): a plain read / write / truncate table. Reads
  * bridge to [[SnapshotStore.readWhere]] (the full skipping ladder)
  * through `V1Scan`; writes run a real distributed [[GraftBatchWrite]];
  * TRUNCATE is the store's delete of every row. MERGE / UPDATE / DELETE
  * never reach the table: [[GraftDmlStrategy]] plans them as the store's
  * own verbs.
  */
private[catalog] class GraftTable(val path: String, ident: String)
    extends Table with SupportsRead with SupportsWrite
    with TruncatableTable with SupportsMetadataColumns {

  /** The row's partition KEY (`_p`) as a metadata column, selectable by
    * users.
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
    new GraftWriteBuilder(path, info.schema(), GraftWriteMode.Append)

  override def truncateTable(): Boolean = {
    SnapshotStore.deleteWhere(spark, path, lit(true))
    true
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
  val Append, Overwrite = Value
}

/** Write builder → [[GraftBatchWrite]]. `truncate()` turns an INSERT
  * into a full overwrite.
  */
private[catalog] class GraftWriteBuilder(path: String,
    writeSchema: StructType, mode: GraftWriteMode.Value)
    extends WriteBuilder with SupportsTruncate {

  override def truncate(): WriteBuilder =
    new GraftWriteBuilder(path, writeSchema, GraftWriteMode.Overwrite)

  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    private val spark = SparkSession.active
    private val headNow = SnapshotStore.headVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
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
      new GraftBatchWrite(path, physSchema, physPartCols, mode, spark)
    }
  }
}
