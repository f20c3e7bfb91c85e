package graft.storage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The narrow seam the DSv2 catalog (`graft.catalog`) rides on: the few
  * `private[storage]` format/verb details a catalog-routed read/write
  * needs, re-exported `private[graft]` so the connector package never
  * reaches into the store's codec directly. Everything here is a thin
  * forwarder — policy stays in [[SnapshotStore]].
  */
private[graft] object CatalogBridge {

  private val Esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  /** The version's PHYSICAL schema (recorded at commit; inference
    * fallback inside).
    */
  def physicalSchema(spark: SparkSession, path: String, v: Int): StructType =
    SnapshotStore.versionSchema(spark, path, v)

  /** physical → logical renames for `v`. */
  def renames(spark: SparkSession, path: String, v: Int): Map[String, String] =
    SnapshotStore.readRenames(spark, path, v)

  /** The version's LOGICAL schema (physical schema + rename layer). */
  def logicalSchema(spark: SparkSession, path: String, v: Int): StructType =
    StructType(physicalSchema(spark, path, v).fields.map(f =>
      f.copy(name = renames(spark, path, v).getOrElse(f.name, f.name))))

  /** A manifest dir field carrying a stats blob (the write-path text
    * [[SnapshotStore.writeGen]] produces).
    */
  def fieldWithBlob(dir: String, blob: Option[String]): String = blob match {
    case Some(b) if b.nonEmpty => s"$dir${SnapshotFormat.StatsSep}$b"
    case _ => dir
  }

  /** Per-partition stats blobs for one freshly written gen — the commit
    * path's own codec.
    */
  def genStats(spark: SparkSession, path: String,
               gen: String): Map[String, String] =
    SnapshotStore.genStats(spark, path, gen,
      SnapshotStore.statsColsOf(spark, path))

  /** Needle (bloom) sidecars for one freshly written gen, per the
    * store's declarations.
    */
  def buildBloom(spark: SparkSession, path: String, gen: String): Unit =
    SnapshotBloom.buildFor(spark, path, gen,
      SnapshotBloom.bloomColsOf(spark, path))

  /** The dir name a partition KEY lands under (`_p=<escaped>`; a NULL
    * single-column key uses Spark's Hive default-partition name — the
    * exact naming the partitioned write produces).
    */
  def dirNameOf(key: String): String =
    "_p=" + (if (key == null) Esc.DEFAULT_PARTITION_NAME
             else Esc.escapePathName(key))

  /** Driver-side composite-component encoding (for key assembly in the
    * connector's writers — matches [[SnapshotStore.partKeyExprCols]]).
    */
  def encComponent(v: String): String = SnapshotStore.encPartValue(v)

  def partSep: String = SnapshotStore.PartSep

  /** The CURRENT spec's partition-key expression over the version's
    * LOGICAL column names (the `_p` metadata column the catalog
    * exposes).
    */
  def partKeyColumn(spark: SparkSession, path: String,
                    v: Int): org.apache.spark.sql.Column = {
    val rn = renames(spark, path, v)
    val comps = SnapshotStore.splitPartCols(
      SnapshotStore.partColOf(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"store at $path records no partition spec")))
      .map(c => rn.getOrElse(c, c))
    SnapshotStore.partKeyExprCols(
      comps.map(org.apache.spark.sql.functions.col))
  }

  /** Prior manifest fields for `keys` at `v` (pruned-bucket lookup —
    * the append path's fold base).
    */
  def priorFields(spark: SparkSession, path: String, v: Int,
                  keys: Seq[String]): Map[String, Seq[String]] =
    SnapshotStore.readManifestValues(spark, path, v, keys)

  /** Delta-commit `v` over `prev` (touched-bucket writes only). */
  def commitDelta(spark: SparkSession, path: String, v: Int, prev: Int,
                  removed: Set[String], added: Map[String, Seq[String]],
                  genDirs: Seq[String], schema: Option[StructType],
                  op: String): Unit =
    SnapshotStore.commitDelta(spark, path, v, prev, removed, added,
      genDirs, schema, renames(spark, path, prev), op)

  /** Full commit of `entries` as version `v`. */
  def commitFull(spark: SparkSession, path: String, v: Int,
                 entries: Map[String, Seq[String]], genDirs: Seq[String],
                 schema: Option[StructType], op: String): Unit =
    SnapshotStore.commit(spark, path, v, entries, genDirs, schema,
      if (v > 1) renames(spark, path, v - 1) else Map.empty, op)

  /** Additive union of the store's prior physical schema and a write's
    * schema (the append path's evolution rule).
    */
  def unionSchema(prior: StructType, next: StructType): StructType =
    SnapshotStore.unionSchema(prior, next)
}
