package graft.catalog

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.graft.PlanGlue
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.SnapshotStore

/** A Spark DSv2 `TableCatalog` over snapshot stores — the catalog
  * surface that lets the engine's tables be addressed as
  * `graft.<namespace...>.<table>` in PLAIN Spark SQL:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.graft = graft.catalog.GraftCatalog
  *               spark.sql.catalog.graft.root = /lake
  *   CREATE TABLE graft.db.events (k BIGINT, d STRING, v DOUBLE)
  *     PARTITIONED BY (d) TBLPROPERTIES ('stats_cols' = 'k')
  *   INSERT INTO graft.db.events ...
  *   SELECT ... FROM graft.db.events WHERE d = '2024-01-01'
  *   DELETE FROM graft.db.events WHERE d = '2024-01-01'
  *   UPDATE graft.db.events SET v = 0 WHERE k < 10
  *   MERGE INTO graft.db.events t USING src s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * A table IS a snapshot store at `<root>/<ns...>/<table>` — every TVF
  * verb (`graft_snapshot`, `graft_merge_into`, time travel, DML,
  * maintenance) keeps working on the same path, and they remain the
  * documented SCALE path. Reference anchor: the ClickHouse DDL surface
  * (reference `nginx.click:1`) generalized to a catalog.
  *
  * Execution posture, stated plainly:
  *   - SELECT reads bridge to the store's own pruned reader
  *     ([[SnapshotStore.readWhere]] — manifest restriction, stats/bloom
  *     skipping) through the public `V1Scan` adapter, so catalog reads
  *     inherit the full skipping ladder.
  *   - INSERT INTO appends through a REAL distributed `BatchWrite`
  *     (per-task parquet writers clustered by the partition columns,
  *     manifest delta commit — O(touched buckets)).
  *   - DELETE / UPDATE / MERGE INTO run the store's own verbs
  *     ([[SnapshotStore.dml]] / [[SnapshotStore.mergeInto]]), planned by
  *     [[GraftDmlStrategy]], which [[initialize]] installs in the
  *     session: the same plan and semantics as the `graft_delete_where`
  *     / `graft_update_where` / `graft_merge_into` TVFs — partitions
  *     resolved from the manifest, stats-refuted slices kept verbatim,
  *     partition-confined MERGE key matching. TRUNCATE deletes every row
  *     through the same DML verb.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.root"))
    PlanGlue.addStrategy(SparkSession.active, GraftDmlStrategy)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathOf(ident: Identifier): String =
    (root +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def isStore(p: String): Boolean =
    SnapshotStore.headVersion(spark, p).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new org.apache.hadoop.fs.Path(
      (root +: namespace.toSeq).mkString("/"))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => isStore((root +: namespace.toSeq :+ n).mkString("/")))
      .map(Identifier.of(namespace, _))
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (!isStore(p)) throw new NoSuchTableException(ident)
    new GraftTable(p, ident.toString)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val p = pathOf(ident)
    if (isStore(p)) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft tables partition by identity columns only, got $other")
    }
    require(partCols.nonEmpty,
      "graft tables need PARTITIONED BY (at least one identity column)")
    def csv(key: String): Seq[String] =
      Option(properties.get(key)).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    SnapshotStore.init(spark, p, schema,
      statsCols = csv("stats_cols"),
      partCol = Some(partCols.mkString(",")),
      bloomCols = csv("bloom_cols"),
      sortCols = csv("sort_cols"))
    new GraftTable(p, ident.toString)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "ALTER TABLE is served by the maintenance TVFs (graft_rename_column," +
        " graft_retype_column, graft_backfill_stats, ...)")

  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    if (!isStore(p)) return false
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported; snapshot stores are path-addressed")

  // ---- namespaces (directories under the root) ---------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val r = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(r)) return Array.empty
    fs.listStatus(r).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => isStore(s"$root/$n")).map(Array(_))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val ns = new org.apache.hadoop.fs.Path(
      (root +: namespace.toSeq).mkString("/"))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => isStore(
        (root +: namespace.toSeq :+ n).mkString("/")))
      .map(namespace :+ _)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fs.exists(new org.apache.hadoop.fs.Path(
        (root +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      (root +: namespace.toSeq).mkString("/")))
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = new org.apache.hadoop.fs.Path(
      (root +: namespace.toSeq).mkString("/"))
    if (!fs.exists(p)) return false
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(p, true)
  }
}
