package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.storage.{Dml, SnapshotStore}

/** Structured Streaming SINK into a [[graft.storage.SnapshotStore]] — the
  * declarative form of the `foreachBatch` + idempotency-keyed `append`
  * pattern the `s_append_compact` gate proves:
  *
  * {{{
  * df.writeStream
  *   .format("graft-snapshot")          // or classOf[SnapshotSinkProvider].getName
  *   .option("path", storeDir)
  *   .option("partCol", "o_orderpriority")
  *   .option("checkpointLocation", ck)  // or an explicit option("ingestId", …)
  *   .start()
  * }}}
  *
  * Every micro-batch appends as one snapshot version through
  * [[SnapshotStore.append]] with `idempotencyKey = <ingest id> + batchId`,
  * so the engine's at-least-once redelivery becomes structural
  * exactly-once: a replayed batch's pinned gen is already referenced by a
  * retained manifest and the append no-ops — the sink carries NO state of
  * its own (no sink log; the store's manifests ARE the commit record).
  * Append-only by contract (`OutputMode.Append` enforced): insert-new-rows
  * is what `append`'s O(batch) fast path means; an update/delete stream
  * belongs in `foreachBatch` + `merge` (the `s_merge_cdc` shape).
  *
  * A missing store is AUTO-CREATED as an empty v1 ([[SnapshotStore.init]])
  * carrying the stream's schema (+ optional `statsCols` declaration) —
  * deliberately NOT seeded with batch 0's rows: the first batch must flow
  * through the same keyed append path as every other batch, or its replay
  * after a crash would duplicate it. Composes with everything the store
  * has: declared stats columns bound every appended gen (time-ordered
  * ingest → range-disjoint gens → `readWhere` skips), `graft_compact`
  * collapses the accumulated dirs, tags pin ingest milestones, and the
  * `graft-changes` SOURCE on the same store completes a store-to-store
  * streaming pipeline.
  */
class SnapshotSinkProvider extends StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-snapshot is an append-only sink (got $outputMode); " +
        "update/delete streams go through foreachBatch + SnapshotStore.merge")
    new SnapshotSink(sqlContext, parameters)
  }

  /** BATCH read under the same format name (the one-provider-two-
    * directions shape every lakehouse source uses): `spark.read
    * .format("graft-snapshot").load(path)` resolves here and delegates
    * to [[graft.sources.GraftSnapshotSource]] — pushed-filter gen
    * pruning, version/tag/branch/asOfTimestamp options.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation =
    new graft.sources.GraftSnapshotSource().createRelation(sqlContext,
      parameters)

  /** BATCH write under the same format name — create (`partCol` +
    * optional `statsCols`/`bloomCols`/`sortCols`) or append (constraint-
    * gated, optionally idempotency-keyed); `overwrite` refuses to drop a
    * store's versioned history. Delegates to
    * [[graft.sources.GraftSnapshotSource]].
    */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation =
    new graft.sources.GraftSnapshotSource().createRelation(sqlContext,
      mode, parameters, data)
}

class SnapshotSink(sqlContext: SQLContext,
                   parameters: Map[String, String]) extends Sink {

  private val spark = sqlContext.sparkSession
  private val path = parameters.getOrElse("path",
    throw new IllegalArgumentException("graft-snapshot requires 'path'"))
  private val partCol = parameters.getOrElse("partCol",
    throw new IllegalArgumentException("graft-snapshot requires 'partCol'"))
  private val statsCols: Seq[String] = parameters.get("statsCols")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
  // needle-file declaration, mirroring statsCols: the auto-init records
  // it, every appended micro-batch's gens then build bloom sidecars
  private val bloomCols: Seq[String] = parameters.get("bloomCols")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** STREAMING WAP: with `branch` set, every micro-batch stages on that
    * branch instead of committing to the main line — the stream fills a
    * candidate corpus that a human (or a validation job) audits via
    * `read(..., target = Dml.Branch(name))` /
    * `graft_snapshot(path, 'branch:<name>')` and then
    * publishes or drops in one decision. Idempotency rides the same
    * key (`<ingest scope> + batchId`) through the branch's pinned-gen
    * dedup, so engine redelivery stays structural-exactly-once on the
    * branch. A missing store auto-inits (empty v1) exactly as main-line
    * mode and the branch forks from it — streaming a candidate corpus
    * into a brand-new store and publishing it as v2 just works; the
    * branch itself is auto-created on the first batch.
    */
  private val branch: Option[String] = parameters.get("branch")

  /** Idempotency-key namespace: one logical INGEST. Two distinct streams
    * appending to one store must not collide on `batchId`, so the key is
    * scoped by the checkpoint (each stream has its own) or an explicit
    * `ingestId` — required, because a silently shared default would make
    * two streams' batch 0 deduplicate against each other.
    */
  private val ingestId: String = parameters.get("ingestId")
    .orElse(parameters.get("checkpointLocation"))
    .map(s => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12))
    .getOrElse(throw new IllegalArgumentException(
      "graft-snapshot requires an explicit 'checkpointLocation' or " +
        "'ingestId' option to scope its idempotency keys — the session's " +
        "spark.sql.streaming.checkpointLocation default cannot serve: " +
        "the engine derives a per-start subdirectory under it, so the " +
        "scope would not survive a restart and replayed batches would " +
        "stop deduplicating"))

  /** The head version the partCol validation last PASSED against — the
    * per-batch metadata round-trips (`_partcol`, `_renames`, branch
    * listing) are O(1) small driver reads, but at a high trigger rate
    * they were the bulk of the sink's per-batch latency on an object
    * store. The validation inputs only change when the MAIN HEAD moves
    * (a rename/drop commits a version; `_partcol` is written once at
    * init), so the check is keyed on the observed head: steady-state
    * batches pay ONE head probe, a mid-stream rename re-validates on the
    * next batch, and a RESTART with a changed `partCol` option constructs
    * a fresh sink whose first batch always validates — the fail-fast
    * contract survives the cache (SnapshotSinkSpec pins it).
    */
  @volatile private var validatedAtHead: Option[Int] = None

  /** Branch existence, validated once per sink instance: an externally
    * dropped/published branch surfaces as the branch append's loud "no
    * branch" failure, on which the cache resets and the branch is
    * re-created from the current head (the exact per-batch behavior the
    * uncached sink had, paid only on failure).
    */
  @volatile private var branchValidated = false

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // rebind off the micro-batch's incremental plan before append
    // re-plans it through a normal write action
    val batch = org.apache.spark.sql.graftshim.StreamingBatchShim.asBatch(data)
    val head0 = SnapshotStore.headVersion(spark, path)
    val head = head0.orElse {
      try SnapshotStore.init(spark, path, batch.schema, statsCols,
        partCol = Some(partCol), bloomCols = bloomCols)
      catch {
        // lost the init race (a concurrent stream/writer created the
        // store between the probe and our commit): the store exists,
        // which is all init was for
        case _: java.util.ConcurrentModificationException => ()
        case e: IllegalArgumentException
          if e.getMessage.contains("already holds") => ()
      }
      SnapshotStore.headVersion(spark, path)
    }
    // fail fast on a partCol that doesn't resolve to the store's recorded
    // partition column (a restart with a different option value, or a
    // second stream configured differently, must not interleave a second
    // partition-key domain into the store) — keyed on the observed head,
    // so a steady stream validates once, not per trigger
    if (validatedAtHead != head) {
      SnapshotStore.requirePartCol(spark, path, partCol)
      validatedAtHead = head
    }
    branch match {
      case Some(br) =>
        // a missing store was auto-inited (empty v1) above, so the
        // branch always has a fork point — streaming a candidate corpus
        // into a brand-new store and publishing it as v2 just works
        def ensureBranch(): Unit = if (!branchValidated) {
          if (SnapshotStore.branches(spark, path).get(br).isEmpty) {
            try SnapshotStore.branchCreate(spark, path, br)
            catch { // lost the create race to a concurrent batch/stream
              case e: IllegalArgumentException
                if e.getMessage.contains("already exists") => ()
              case _: java.util.ConcurrentModificationException => ()
            }
          }
          branchValidated = true
        }
        ensureBranch()
        try SnapshotStore.append(batch, path, partCol,
          idempotencyKey = Some(s"sink-$ingestId-$batchId"),
          target = Dml.Branch(br))
        catch {
          case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("no branch") =>
            // the branch vanished under the cache (published or dropped
            // externally): re-create from the current head and retry once
            branchValidated = false
            ensureBranch()
            SnapshotStore.append(batch, path, partCol,
              idempotencyKey = Some(s"sink-$ingestId-$batchId"),
              target = Dml.Branch(br))
        }
      case None =>
        SnapshotStore.append(batch, path, partCol,
          idempotencyKey = Some(s"sink-$ingestId-$batchId"))
        // our own append moved the head — advance the validation key so a
        // steady single-writer stream validates once, not per trigger. A
        // FOREIGN commit interleaving before this probe is adopted
        // unvalidated for one batch; the next head movement re-validates,
        // and append itself re-resolves renames per attempt — the same
        // two-unsynchronized-actors residual the store prices elsewhere.
        validatedAtHead = SnapshotStore.headVersion(spark, path)
    }
  }

  override def toString: String = s"SnapshotSink[$path]"
}
