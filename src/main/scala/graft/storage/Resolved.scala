package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** One store target — the head at a version, or a WAP branch tip —
  * resolved for one verb attempt: the version it reads, the physical
  * schema and renames in force, and the target's steps. Every verb body
  * ([[SnapshotStore.read]], `readWhere`, `countWhere`, `minMaxWhere`,
  * `append`, `merge`, [[SnapshotDml.dml]]) runs once over these steps,
  * so a branch verb is the head verb over a different resolution:
  *
  *  - `allFields`: every manifest field (the unrestricted read);
  *  - `fields`: the read path's manifest FIELDS the analyzed predicate
  *    might touch (partition-key restricted);
  *  - `entries`: the write path's value-keyed entries the predicate might
  *    touch (the same restriction);
  *  - `readPhys`: reads fields under the target's schema, physical names;
  *  - `priorOf`: the entries at the given keys;
  *  - `applied`: whether a pinned (idempotency-keyed) gen is already
  *    referenced by the target;
  *  - `commit`: (removed keys, added entries, new gen dirs a lost head CAS
  *    cleans, schema, op) as the target's next version.
  */
private[storage] final class Resolved(val spark: SparkSession,
    val target: Dml.Target, val version: Int, schema: => StructType,
    val renames: Map[String, String],
    val allFields: () => Seq[String],
    val fields: (StructType, Expression) => Seq[String],
    val entries: (StructType, Expression) => Map[String, Seq[String]],
    readPhys: Seq[String] => DataFrame,
    val priorOf: Set[String] => Map[String, Seq[String]],
    val applied: String => Boolean,
    val commit: (Set[String], Map[String, Seq[String]], Seq[String],
      StructType, String) => Unit) {
  /** Resolved on first use: an unrestricted read of a non-empty version
    * never needs it (the reader applies the recorded schema itself), so
    * reading an expired version fails on its missing manifest.
    */
  lazy val physSchema: StructType = schema
  lazy val logicalSchema: StructType = StructType(physSchema.fields.map(f =>
    f.copy(name = renames.getOrElse(f.name, f.name))))
  val logicalToPhysical: Map[String, String] = renames.map(_.swap)

  /** `fields` under logical names; none reads as the empty frame under
    * the target's schema directly (no scan planned over zero dirs).
    */
  def read(fields: Seq[String]): DataFrame = SnapshotStore.applyRenames(
    if (fields.isEmpty) spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      physSchema)
    else readPhys(fields), renames)

  /** `v` as named in refusals and CHECK-constraint errors. */
  def verb(v: String): String = target match {
    case Dml.Head => v
    case _: Dml.Branch => s"branch $v"
  }
}

private[storage] object Resolved {
  import SnapshotStore._

  /** Resolves `target`; `version` selects a past head version (time
    * travel) and is refused on a branch, whose staged chain has no
    * public version numbers.
    */
  def of(spark: SparkSession, path: String, target: Dml.Target,
      version: Option[Int] = None): Resolved = target match {
    // time travel to an expired version is the caller's error
    // (`IllegalArgumentException`); a head that vanishes under the verb is
    // a lost race (`ConcurrentModificationException`, see `forWrite`)
    case Dml.Head => version match {
      case Some(v) => head(spark, path, v, schemaAt(spark, path, v))
      case None =>
        val v = headVersion(spark, path).getOrElse(
          throw new IllegalArgumentException(s"no snapshots at $path"))
        head(spark, path, v, versionSchema(spark, path, v))
    }
    case Dml.Branch(name) =>
      require(version.isEmpty, s"branch '$name' reads its tip; version " +
        s"${version.get} selects a head version")
      branch(spark, path, name)
  }

  /** Runs `body` by `target`'s retry rule: a branch re-runs a lost staged
    * CAS against the new tip; the head throws it (wrap the call in
    * [[SnapshotStore.withCasRetry]] to re-run against the new head).
    */
  def retrying[T](target: Dml.Target)(body: => T): T = target match {
    case Dml.Head => body
    case _: Dml.Branch => withCasRetry()(body)
  }

  private def head(spark: SparkSession, path: String, v: Int,
      schema: => StructType): Resolved = {
    val renames = readRenames(spark, path, v)
    new Resolved(spark, Dml.Head, v, schema, renames,
      // the dirs-only fast path when unrestricted (no value map built)
      allFields = () => readManifestDirs(spark, path, v),
      fields = (logicalSchema, expr) =>
        fieldsForExpr(spark, path, v, renames, logicalSchema, expr),
      // O(touched buckets) on a segmented head; a partial composite
      // constraint ("day = X" over day×tenant) rides the component index
      entries = (logicalSchema, expr) => forWrite(path, v)(
        partitionValuesOf(spark, path, renames, logicalSchema, expr) match {
          case Some(values) =>
            readManifestValues(spark, path, v, values.toSeq)
          case None =>
            partialEntries(spark, path, v, renames, logicalSchema, expr)
              .getOrElse(readManifest(spark, path, v))
        }),
      readPhys = fields => readFields(spark, path, v, fields),
      priorOf = keys => forWrite(path, v)(
        readManifestValues(spark, path, v, keys.toSeq)),
      applied = gen => genApplied(spark, path, v, gen),
      commit = (removed, added, newDirs, schema, op) =>
        commitDelta(spark, path, v + 1, v, removed, added, newDirs,
          Some(schema), renames, op))
  }

  /** The tip's whole (flat) entry map is already loaded, so the
    * partition-key restriction filters it in memory — the same keys the
    * head's manifest lookups resolve.
    */
  private def branch(spark: SparkSession, path: String,
      name: String): Resolved = {
    val st = SnapshotBranch.readStaged(spark, path, name)
    def restricted(logicalSchema: StructType, expr: Expression)
        : Map[String, Seq[String]] =
      partitionValuesOf(spark, path, st.renames, logicalSchema, expr) match {
        case Some(values) => st.entries.filter { case (k, _) => values(k) }
        case None =>
          partitionKeyPredOf(spark, path, st.renames, logicalSchema, expr)
            .fold(st.entries)(f => st.entries.filter { case (k, _) => f(k) })
      }
    new Resolved(spark, Dml.Branch(name), st.k, st.schema, st.renames,
      allFields = () => st.entries.values.flatten.toSeq,
      fields = (logicalSchema, expr) =>
        restricted(logicalSchema, expr).values.flatten.toSeq,
      entries = restricted,
      readPhys = fields => readFieldsPhys(spark, path, fields,
        Some(st.schema)),
      priorOf = keys => st.entries.filter { case (k, _) => keys(k) },
      applied = gen => st.entries.valuesIterator.flatten
        .exists(d => dirOf(d).startsWith(s"data/$gen/")),
      // a branch stage never cleans: its gens age out under the orphan
      // sweep like any unreferenced gen
      commit = (removed, added, _, schema, _) =>
        SnapshotBranch.stageNext(spark, path, name, st,
          st.entries -- removed ++ added, schema))
  }
}
