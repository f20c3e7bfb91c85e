package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.catalog.V1FilterConv
import graft.storage.{Dml, SnapshotStore}

/** `spark.read.format("graft-snapshot")` — the BATCH read relation over a
  * [[SnapshotStore]], completing the standard-API triangle (the streaming
  * side already has both directions: `graft-snapshot-changes` source and
  * `graft-snapshot` sink). Plain-`WHERE` users get the store's manifest
  * stats / needle / partition-key pruning WITHOUT knowing the TVF names:
  * Spark pushes the query's filters into [[PrunedFilteredScan.buildScan]],
  * the relation translates them back into a predicate and delegates to
  * [[SnapshotStore.readWhere]] (or the branch/as-of readers), so the gens
  * a filter provably cannot touch are never listed. Filters are used for
  * PRUNING only — [[BaseRelation.unhandledFilters]] is left at its
  * default (all filters re-evaluated by Spark on top), so an untranslated
  * or partially-translated predicate can only cost performance, never
  * correctness.
  *
  * Options: `path` (or `load(path)`), and at most one of `version` (int),
  * `tag` (named ref), `branch` (WAP tip), `asOfTimestamp` (epoch millis
  * or ISO-8601 instant — [[SnapshotStore.versionAsOf]] semantics).
  *
  * Scale note: DSv1's naive shape pays a per-row `Row ⇄ InternalRow`
  * conversion on every surfaced row. This relation opts out via
  * `needConversion = false` — the public connector idiom (the same move
  * spark-redshift/snowflake ship): `buildScan` executes the inner
  * DataFrame's OWN physical plan (`queryExecution.toRdd` — vectorized
  * parquet scan, whole-stage codegen, the DV anti-join when slices carry
  * deletion vectors) and hands Spark the resulting `InternalRow`s
  * directly, so the only DSv1 residue is the scan-node boundary itself.
  * The TVFs (`graft_snapshot_where`) and the library readers remain the
  * zero-boundary path for bulk reads.
  */
class GraftSnapshotSource extends RelationProvider
    with CreatableRelationProvider {
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot needs a path: spark.read.format(\"graft-snapshot\")" +
          ".load(\"/store\") or .option(\"path\", ...)"))
    val refs = Seq("version", "tag", "branch", "asOfTimestamp")
      .filter(parameters.contains)
    require(refs.size <= 1,
      s"graft-snapshot takes at most one of version/tag/branch/" +
        s"asOfTimestamp, got ${refs.mkString(", ")}")
    new GraftSnapshotRelation(sqlContext, path,
      parameters.get("version").map(_.trim.toInt),
      parameters.get("tag"), parameters.get("branch"),
      parameters.get("asOfTimestamp").map(GraftSnapshotSource.parseTs))
  }

  /** BATCH write under the same format — `df.write.format
    * ("graft-snapshot").option("partCol", ...).save(path)`:
    * `ErrorIfExists`/`Overwrite` CREATE the store (overwrite refuses an
    * EXISTING store rather than silently dropping history — versioned
    * history is the product; use the library's rollback/DML for
    * mutation), `Append` runs the store's append (CHECK constraints,
    * declared stats/needles/sort, idempotency via an
    * `idempotencyKey` option). Options on create: `partCol` (required),
    * `statsCols`/`bloomCols`/`sortCols` (comma-separated).
    */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot needs a path: .save(\"/store\") or " +
          ".option(\"path\", ...)"))
    def csv(k: String): Seq[String] = parameters.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val exists = SnapshotStore.headVersion(spark, path).isDefined
    mode match {
      case Append =>
        require(exists,
          s"graft-snapshot append: no store at $path — create it first " +
            "(mode=ErrorIfExists with partCol)")
        val partCol = parameters.getOrElse("partCol",
          SnapshotStore.partColOf(spark, path).getOrElse(
            throw new IllegalArgumentException(
              s"graft-snapshot append to $path needs partCol (the store " +
                "predates the _partcol record)")))
        SnapshotStore.append(data, path, partCol,
          idempotencyKey = parameters.get("idempotencyKey"))
      case ErrorIfExists | Overwrite =>
        // Overwrite does NOT drop an existing store: its versioned
        // history is the product, and a silent drop would be the one
        // irreversible verb in the API. Loud either way.
        require(!exists,
          s"graft-snapshot: $path already holds a snapshot store — " +
            "append to it (mode=append), mutate it (graft_delete/" +
            "graft_update/merge), or expire+remove it explicitly; " +
            "overwrite will not drop versioned history")
        val partCol = parameters.getOrElse("partCol",
          throw new IllegalArgumentException(
            "graft-snapshot create needs .option(\"partCol\", ...)"))
        SnapshotStore.write(data, path, partCol,
          statsCols = csv("statsCols"), bloomCols = csv("bloomCols"),
          sortCols = csv("sortCols"))
      case Ignore =>
        if (!exists) {
          val partCol = parameters.getOrElse("partCol",
            throw new IllegalArgumentException(
              "graft-snapshot create needs .option(\"partCol\", ...)"))
          SnapshotStore.write(data, path, partCol,
            statsCols = csv("statsCols"), bloomCols = csv("bloomCols"),
            sortCols = csv("sortCols"))
        }
    }
    createRelation(sqlContext, Map("path" -> path))
  }
}

object GraftSnapshotSource {
  /** Spec seam: the inner DataFrame of the most recent [[GraftSnapshot
    * Relation.buildScan]] on this JVM — PlanSpec pins `inputFiles ⊆
    * surviving gens` through it (the DSv1 scan node exposes no files of
    * its own).
    */
  @volatile private[graft] var lastScan: Option[DataFrame] = None

  private[graft] def parseTs(raw: String): Long =
    try raw.trim.toLong catch {
      case _: NumberFormatException =>
        try java.time.Instant.parse(raw.trim).toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              "graft-snapshot asOfTimestamp must be epoch millis or an " +
                s"ISO-8601 instant (e.g. 2026-08-15T10:00:00Z), got '$raw'")
        }
    }
}

private[sources] class GraftSnapshotRelation(
    override val sqlContext: SQLContext, path: String,
    version: Option[Int], tag: Option[String], branch: Option[String],
    asOfMillis: Option[Long])
    extends BaseRelation with PrunedFilteredScan {

  private def spark = sqlContext.sparkSession

  private def resolvedVersion: Option[Int] =
    tag.map(t => SnapshotStore.readTag(spark, path, t))
      .orElse(asOfMillis.map(ts => SnapshotStore.versionAsOf(spark, path, ts)))
      .orElse(version)

  private def target: Dml.Target =
    branch.fold[Dml.Target](Dml.Head)(Dml.Branch(_))

  override val schema: StructType =
    SnapshotStore.read(spark, path, resolvedVersion, target).schema

  /** InternalRow hand-off (see the provider doc): with this false,
    * Spark treats [[buildScan]]'s rows as `InternalRow`s verbatim — no
    * per-row conversion on either side of the relation boundary.
    */
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val pred = filters.flatMap(V1FilterConv.toColumn(_))
      .reduceOption(_ && _)
    val base = pred match {
      case Some(p) =>
        SnapshotStore.readWhere(spark, path, p, resolvedVersion, target)
      case None => SnapshotStore.read(spark, path, resolvedVersion, target)
    }
    GraftSnapshotSource.lastScan = Some(base)
    // the inner plan executes NATIVELY (vectorized parquet + codegen up
    // to this boundary); a zero-column projection serves the count-star
    // shape with empty InternalRows, one per surviving row
    val projected =
      if (requiredColumns.isEmpty) base.select()
      else base.select(requiredColumns.map(col).toSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
