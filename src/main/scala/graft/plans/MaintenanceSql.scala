package graft.plans

import graft.storage.{Dml, SnapshotStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SQL reach for the [[graft.storage.SnapshotStore]] MAINTENANCE verbs —
  * the operations half of R13's "regular SQL syntax" story
  * (`/root/reference/README.md:7,32`): reads already have `graft_snapshot`
  * / `graft_changes`; these CALL-style TVFs give compaction, rollback and
  * retention the same reach, so an operator on a SQL-only surface (a
  * scheduled `spark-sql` job, a JDBC gateway) can run the store's
  * housekeeping without a Scala deployment.
  *
  * {{{
  *   SELECT * FROM graft_compact('/data/orders_snap', 'o_orderdate')
  *   SELECT * FROM graft_rollback('/data/orders_snap', '3')
  *   SELECT * FROM graft_expire('/data/orders_snap', '2', '0')
  * }}}
  *
  * Each returns ONE status row (verb, path, outcome fields, the head
  * version after the verb) — the `CALL procedure` result-set shape, carried
  * by a TVF because Spark exposes table functions, not procedures, through
  * `SparkSessionExtensions`. One code path with the store: the TVF calls
  * the SAME `compactPartitions`/`rollback`/`expire` the DataFrame API
  * uses, so CAS discipline, retention floors and manifest formats cannot
  * drift between the two surfaces (the [[NearDupSql]] argument).
  *
  * Execution model: the verb runs when the statement is ANALYZED —
  * `spark.sql(...)` on these is eager, like a DDL command, not lazy like a
  * query. That is the correct shape for a maintenance verb (the caller
  * wants the side effect; the returned row is a receipt) and is pinned by
  * SqlSurfaceSpec. The flip side is an explicit contract: ANY analysis of
  * a statement containing one of these TVFs executes the verb — including
  * `EXPLAIN SELECT * FROM graft_rollback(...)` (there is no dry-run), and
  * re-resolving a view that wraps one. Do not wrap maintenance verbs in
  * views, and treat EXPLAIN on them as execution; SqlSurfaceSpec pins the
  * EXPLAIN-executes behavior so it is a documented contract, not a
  * surprise. (All verbs are idempotent-or-monotonic — a re-run compacts /
  * re-tags / re-expires the same target — so an accidental double
  * analysis degrades to wasted work, never corruption.)
  */
object MaintenanceSql {

  private def str(name: String, args: Seq[Expression], i: Int): String = {
    val e = args(i)
    require(e.foldable && e.dataType ==
      org.apache.spark.sql.types.StringType,
      s"$name argument ${i + 1} must be a string literal, got ${e.sql}")
    val v = e.eval()
    require(v != null, s"$name argument ${i + 1} must not be NULL")
    v.toString
  }

  private def num(name: String, args: Seq[Expression], i: Int,
                  what: String): Long = {
    val s = str(name, args, i)
    try s.trim.toLong catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$name argument ${i + 1} ($what) must be an integer, got '$s'")
    }
  }

  private def statusRow(spark: SparkSession, verb: String, path: String,
                        detail: Long): LogicalPlan = {
    import spark.implicits._
    val head = graft.storage.SnapshotStore.headVersion(spark, path)
      .map(_.toLong).getOrElse(-1L)
    Seq((verb, path, detail, head))
      .toDF("verb", "path", "detail", "head_version")
      .queryExecution.analyzed
  }

  /** `graft_compact(path, partCol [, minDirs])` — compacts partitions whose
    * manifest entry accumulated `minDirs`+ append dirs; `detail` = number
    * of partitions compacted (0 = nothing to do, no version committed).
    */
  object Compact {
    val name = "graft_compact"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_compact(path, partCol[, minDirs[, sortBy]]) - compacts " +
        "SnapshotStore partitions holding minDirs+ (default 2) append " +
        "dirs into one dir each, as a new snapshot version; sortBy " +
        "(comma-separated columns) writes the compacted generation " +
        "sorted within partitions; returns one status row (detail = " +
        "partitions compacted); string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size >= 2 && args.size <= 4,
        s"$name takes (path, partCol[, minDirs[, sortBy]]); got " +
          s"${args.size} arguments")
      val spark = SparkSession.active
      val minDirs =
        if (args.size >= 3) num(name, args, 2, "minDirs").toInt else 2
      val sortBy =
        if (args.size == 4) str(name, args, 3).split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        else Nil
      val n = graft.storage.SnapshotStore.compactPartitions(
        spark, str(name, args, 0), str(name, args, 1), None, minDirs, sortBy)
      statusRow(spark, "compact", str(name, args, 0), n.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_rollback(path, toVersion)` — commits a new head whose manifest
    * is `toVersion`'s (history is never rewritten); `detail` = the version
    * rolled back to.
    */
  object Rollback {
    val name = "graft_rollback"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_rollback(path, toVersion) - rolls a SnapshotStore back to " +
        "toVersion by committing its manifest as a NEW head (old versions " +
        "stay readable until expired); returns one status row; " +
        "string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, toVersion); got ${args.size} arguments")
      val spark = SparkSession.active
      val to = num(name, args, 1, "toVersion").toInt
      graft.storage.SnapshotStore.rollback(spark, str(name, args, 0), to)
      statusRow(spark, "rollback", str(name, args, 0), to.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_rename(path, oldName, newName)` — metadata-only logical
    * column rename (the store's field-ID layer: physical names in files
    * never change); `detail` = 1.
    */
  object Rename {
    val name = "graft_rename"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_rename(path, oldName, newName) - renames a SnapshotStore " +
        "column as a metadata-only new version (old versions keep their " +
        "names; data files are untouched); returns one status row; " +
        "string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 3,
        s"$name takes (path, oldName, newName); got ${args.size} arguments")
      val spark = SparkSession.active
      graft.storage.SnapshotStore.renameColumn(
        spark, str(name, args, 0), str(name, args, 1), str(name, args, 2))
      statusRow(spark, "rename", str(name, args, 0), 1L)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_retype(path, name, newType)` — metadata-only SAFE-WIDENING
    * retype (int→long and friends; the store's evolution matrix is
    * add/rename/drop/widen); `newType` is a Spark DDL type name
    * (`long`, `double`, `timestamp_ntz`); `detail` = 1.
    */
  object Retype {
    val name = "graft_retype"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_retype(path, column, newType) - widens a SnapshotStore " +
        "column's type as a metadata-only new version (old gens keep " +
        "their narrow physical type; the reader upcasts); only exact " +
        "widenings (byte/short/int -> wider integral or double, float " +
        "-> double, date -> timestamp_ntz) are accepted; returns one " +
        "status row; string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 3,
        s"$name takes (path, column, newType); got ${args.size} arguments")
      val spark = SparkSession.active
      val dt =
        try org.apache.spark.sql.types.DataType.fromDDL(str(name, args, 2))
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"$name: unknown type '${str(name, args, 2)}'", e)
        }
      graft.storage.SnapshotStore.retypeColumn(
        spark, str(name, args, 0), str(name, args, 1), dt)
      statusRow(spark, "retype", str(name, args, 0), 1L)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_merge(path, sourceView, partCol, keyCols [, deleteCol])` —
    * merges a registered view/table as one new snapshot version (upsert +
    * insert, plus deletes where `deleteCol` is true), completing the
    * WRITE side of the SQL surface: a SQL-only session can now ingest,
    * not just read and maintain. `detail` = source row count. One code
    * path with [[graft.storage.SnapshotStore.merge]] — resolution,
    * schema-evolution union, CAS discipline, stats recording all the
    * store's. A missing store is created from the source
    * ([[graft.storage.SnapshotStore.write]]).
    */
  object Merge {
    val name = "graft_merge"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_merge(path, sourceView, partCol, keyCols[, deleteCol]) - " +
        "merges the named view/table into a SnapshotStore as a new " +
        "version (creating the store if absent); keyCols is a " +
        "comma-separated list; rows with deleteCol = true delete; " +
        "returns one status row (detail = versions committed; 0 = no-op); string-literal " +
        "arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 4 || args.size == 5,
        s"$name takes (path, sourceView, partCol, keyCols[, deleteCol]); " +
          s"got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val src = spark.table(str(name, args, 1))
      val partCol = str(name, args, 2)
      val keys = str(name, args, 3).split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      val deleteCol = if (args.size == 5) Some(str(name, args, 4)) else None
      val before = graft.storage.SnapshotStore.headVersion(spark, path)
      if (before.isEmpty) {
        require(deleteCol.isEmpty,
          s"$name: cannot create a store FROM a delete-bearing batch")
        graft.storage.SnapshotStore.write(src, path, partCol)
      } else
        graft.storage.SnapshotStore.merge(spark, path, src, partCol, keys,
          deleteCol = deleteCol)
      // detail = versions committed (0 = empty batch no-op) — a row count
      // would re-evaluate the whole source view just for the receipt
      statusRow(spark, "merge", path,
        (graft.storage.SnapshotStore.headVersion(spark, path).getOrElse(0) -
          before.getOrElse(0)).toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_append(path, sourceView, partCol [, idempotencyKey])` — the
    * O(batch) insert-only fast path from SQL; with a key, redelivery of
    * the same statement no-ops (the store's exactly-once append
    * contract). `detail` = source row count.
    */
  object Append {
    val name = "graft_append"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_append(path, sourceView, partCol[, idempotencyKey]) - " +
        "appends the named view/table (new keys only) to a SnapshotStore " +
        "as a new version; with an idempotencyKey a replayed statement " +
        "no-ops; returns one status row (detail = source rows); " +
        "string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 3 || args.size == 4,
        s"$name takes (path, sourceView, partCol[, idempotencyKey]); " +
          s"got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val src = spark.table(str(name, args, 1))
      val key = if (args.size == 4) Some(str(name, args, 3)) else None
      val before = graft.storage.SnapshotStore.headVersion(spark, path)
      graft.storage.SnapshotStore.append(src, path, str(name, args, 2),
        idempotencyKey = key)
      // detail = versions committed: 0 means the keyed statement was a
      // REPLAY and no-opped — the receipt carries the exactly-once fact
      statusRow(spark, "append", path,
        (graft.storage.SnapshotStore.headVersion(spark, path).getOrElse(0) -
          before.getOrElse(0)).toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** The eight predicate-DML TVFs — {delete, update} × {copy-on-write,
    * merge-on-read} × {head, WAP branch} — one row each in a table over
    * [[graft.storage.SnapshotStore.dml]]: SQL's `DELETE FROM t WHERE p` /
    * `UPDATE t SET c = e WHERE p`, carried by a TVF because Spark routes
    * DML statements to catalog tables.
    *
    * {{{
    *   graft_delete(path, predicate)
    *   graft_update(path, predicate, col, expr[, col2, expr2 ...])
    *   graft_delete_branch(path, branch, predicate)
    *   graft_update_branch(path, branch, predicate, col, expr[, ...])
    * }}}
    *
    * and the same four with a `_mor` suffix (merge-on-read: positions go
    * to a deletion-vector sidecar, only an update's new images are
    * written; `graft_compact` materializes the debt). Each returns ONE
    * receipt row that makes the scan cost observable from SQL.
    * Copy-on-write: `dropped_dirs` (all-match slices deleted as pure
    * metadata — always 0 for an update, which writes the rows it
    * changes) and `rewritten_dirs` (slices or files that paid
    * copy-on-write). Merge-on-read: `dropped_dirs` for a delete or
    * `appended_dirs` (new image gens) for an update, then `dv_dirs`
    * (fields annotated) and `dv_rows` (positions written). The last
    * column is `head_version`, or `tip_version` (the branch's staged
    * counter) for a branch; a provable no-op commits no version. Every
    * update expr sees the PRE-update row and casts to the column's
    * existing type; the CHECK gate applies.
    */
  final class DmlTvf private[MaintenanceSql] (val name: String,
      update: Boolean, mor: Boolean, branch: Boolean, usage: String) {
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name, usage, "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      val lead = if (branch) 3 else 2 // path[, branch], predicate
      require(
        if (update) args.size >= lead + 2 && (args.size - lead) % 2 == 0
        else args.size == lead,
        s"$name takes (path, ${if (branch) "branch, " else ""}predicate" +
          s"${if (update) ", col, expr[, col2, expr2 ...]" else ""}); " +
          s"got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val op =
        if (!update) Dml.Delete
        else Dml.Update((lead until args.size by 2).map(i =>
          str(name, args, i) ->
            org.apache.spark.sql.functions.expr(str(name, args, i + 1))))
      val target = if (branch) Dml.Branch(str(name, args, 1)) else Dml.Head
      val r = SnapshotStore.dml(spark, path, op,
        org.apache.spark.sql.functions.expr(str(name, args, lead - 1)),
        target, if (mor) Dml.MoR else Dml.CoW)
      val verb = name.stripPrefix("graft_")
      val version = if (branch) "tip_version" else "head_version"
      import spark.implicits._
      (if (mor)
        Seq((verb, path,
          if (update) r.rewrittenDirs.toLong else r.droppedDirs.toLong,
          r.dvDirs.toLong, r.dvRows, r.version.toLong))
          .toDF("verb", "path",
            if (update) "appended_dirs" else "dropped_dirs",
            "dv_dirs", "dv_rows", version)
      else
        Seq((verb, path, r.droppedDirs.toLong, r.rewrittenDirs.toLong,
          r.version.toLong))
          .toDF("verb", "path", "dropped_dirs", "rewritten_dirs", version))
        .queryExecution.analyzed
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  val Delete = new DmlTvf("graft_delete",
    update = false, mor = false, branch = false,
    "graft_delete(path, predicate) - deletes a SnapshotStore's rows " +
      "matching the predicate as one new version (copy-on-write, " +
      "stats-pruned; provably-all-match slices delete as pure " +
      "metadata); returns one receipt row (dropped_dirs, " +
      "rewritten_dirs, head_version); string-literal arguments")
  val Update = new DmlTvf("graft_update",
    update = true, mor = false, branch = false,
    "graft_update(path, predicate, col, expr[, col2, expr2 ...]) - " +
      "updates a SnapshotStore's rows matching the predicate as one " +
      "new version (copy-on-write, stats-pruned; each expr sees the " +
      "pre-update row); returns one receipt row (dropped_dirs, " +
      "rewritten_dirs, head_version); string-literal arguments")
  val DeleteMor = new DmlTvf("graft_delete_mor",
    update = false, mor = true, branch = false,
    "graft_delete_mor(path, predicate) - merge-on-read DELETE: " +
      "records matching rows' positions in a deletion-vector sidecar " +
      "instead of rewriting files (all-match slices still drop as " +
      "pure metadata); returns one receipt row (dropped_dirs, " +
      "dv_dirs, dv_rows, head_version); string-literal arguments")
  val UpdateMor = new DmlTvf("graft_update_mor",
    update = true, mor = true, branch = false,
    "graft_update_mor(path, predicate, col, expr[, col2, expr2 ...]) " +
      "- merge-on-read UPDATE: deletion-vectors the matched rows and " +
      "appends their updated images (each expr sees the pre-update " +
      "row); returns one receipt row (appended_dirs, dv_dirs, " +
      "dv_rows, head_version); string-literal arguments")
  val DeleteBranch = new DmlTvf("graft_delete_branch",
    update = false, mor = false, branch = true,
    "graft_delete_branch(path, branch, predicate) - deletes the " +
      "branch tip's rows matching the predicate, staged as the " +
      "branch's next version (main untouched); returns one receipt " +
      "row (dropped_dirs, rewritten_dirs, tip_version); " +
      "string-literal arguments")
  val UpdateBranch = new DmlTvf("graft_update_branch",
    update = true, mor = false, branch = true,
    "graft_update_branch(path, branch, predicate, col, expr[, col2, " +
      "expr2 ...]) - updates the branch tip's rows matching the " +
      "predicate, staged as the branch's next version (each expr sees " +
      "the pre-update row; main untouched); returns one receipt row " +
      "(dropped_dirs, rewritten_dirs, tip_version); string-literal " +
      "arguments")
  val DeleteBranchMor = new DmlTvf("graft_delete_branch_mor",
    update = false, mor = true, branch = true,
    "graft_delete_branch_mor(path, branch, predicate) - merge-on-read " +
      "DELETE over the branch tip (positions recorded, no file " +
      "rewritten; main untouched); returns one receipt row " +
      "(dropped_dirs, dv_dirs, dv_rows, tip_version); string-literal " +
      "arguments")
  val UpdateBranchMor = new DmlTvf("graft_update_branch_mor",
    update = true, mor = true, branch = true,
    "graft_update_branch_mor(path, branch, predicate, col, expr[, " +
      "col2, expr2 ...]) - merge-on-read UPDATE over the branch tip " +
      "(hits deletion-vector'd, updated images appended; main " +
      "untouched); returns one receipt row (appended_dirs, dv_dirs, " +
      "dv_rows, tip_version); string-literal arguments")

  /** `graft_materialize_dvs(path[, value ...])` — surgical deletion-
    * vector materialization: each partition's DV'd fields rewrite as one
    * clean gen, every other field copies forward verbatim (graft_compact
    * also collects DVs but collapses the whole partition). Optional
    * partition values narrow the sweep.
    */
  object MaterializeDvs {
    val name = "graft_materialize_dvs"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_materialize_dvs(path[, value ...]) - rewrites ONLY the " +
        "deletion-vector'd fields of each (optionally named) partition " +
        "as clean gens; untouched fields copy forward verbatim; returns " +
        "one receipt row (partitions, head_version); string-literal " +
        "arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.nonEmpty,
        s"$name takes (path[, value ...]); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val values =
        if (args.size == 1) None
        else Some((1 until args.size).map(i => str(name, args, i)))
      val n = graft.storage.SnapshotStore.materializeDvs(spark, path,
        values)
      import spark.implicits._
      Seq(("materialize_dvs", path, n.toLong,
        graft.storage.SnapshotStore.headVersion(spark, path)
          .getOrElse(0).toLong))
        .toDF("verb", "path", "partitions", "head_version")
        .queryExecution.analyzed
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_declare_sort(path, col[, col2 ...])` — declares (or
    * replaces) the store's clustering columns: every subsequent writer
    * path sorts rows within each partition slice by them
    * ([[graft.storage.SnapshotStore.declareSortCols]] — the reference's
    * own `ORDER BY (logdate, logdatetime)` discipline, nginx.click:1,
    * as a store property). Existing gens re-cluster at the next
    * graft_compact.
    */
  object DeclareSort {
    val name = "graft_declare_sort"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_declare_sort(path, col[, col2 ...]) - declares the store's " +
        "clustering columns (every writer sorts partition slices by " +
        "them; graft_compact re-clusters existing gens); returns one " +
        "status row; string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size >= 2,
        s"$name takes (path, col[, col2 ...]); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val cols = (1 until args.size).map(i => str(name, args, i))
      graft.storage.SnapshotStore.declareSortCols(spark, path, cols)
      statusRow(spark, "declare_sort", path, cols.size.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_evolve_partition(path, spec)` — EVOLVES the store's
    * partition spec (Iceberg partition evolution, re-derived): new
    * writes partition by `spec` (comma-separated for a composite tuple),
    * old gens keep their era's keys and stay readable/prunable;
    * `graft_compact` is the explicit full migration.
    */
  object EvolvePartition {
    val name = "graft_evolve_partition"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_evolve_partition(path, spec) - evolves the partition spec " +
        "(comma-separated columns for a composite tuple); new writes " +
        "use it, old gens keep their era's keys; graft_compact " +
        "migrates; returns one status row; string-literal arguments",
      "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, spec); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val spec = str(name, args, 1)
      graft.storage.SnapshotStore.evolvePartitionSpec(spark, path, spec)
      statusRow(spark, "evolve_partition", path,
        graft.storage.SnapshotStore.allPartSpecs(spark, path).size.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_merge_into(path, sourceView, keyCsv, clause [, clause ...])`
    * — the general conditional MERGE as a TVF (Spark routes `MERGE INTO`
    * statements to catalog tables, so the path-addressed store carries
    * it as a function). Each clause is one string:
    *
    * {{{
    *   matched [if <cond>] then update_all
    *   matched [if <cond>] then delete
    *   matched [if <cond>] then set a = <expr>; b = <expr>
    *   not_matched [if <cond>] then insert_all
    *   not_matched_by_source [if <cond>] then delete
    *   not_matched_by_source [if <cond>] then set a = <expr>
    * }}}
    *
    * Conditions and RHS expressions are Spark SQL over `t.` (target) and
    * `s.` (source) qualified columns; clause order is first-match-wins.
    * Receipt: rows per outcome + `kept_dirs` (slices the
    * not-matched-by-source conditions provably cannot touch).
    */
  object MergeInto {
    val name = "graft_merge_into"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_merge_into(path, sourceView, keyCsv, clause[, clause ...]) " +
        "- conditional MERGE: clauses like 'matched if s.v > t.v then " +
        "set v = s.v', 'matched then delete', 'not_matched then " +
        "insert_all', 'not_matched_by_source if <cond> then delete'; " +
        "first-match-wins; returns one receipt row (updated, deleted, " +
        "inserted, copied, kept_dirs, head_version); string-literal " +
        "arguments", "", "")

    private[plans] def parseClause(raw: String):
        (String, Option[org.apache.spark.sql.Column],
          graft.storage.SnapshotMergeInto.MergeAction) = {
      import graft.storage.SnapshotMergeInto._
      import org.apache.spark.sql.functions.{expr => sqlExpr}
      val thenIdx = raw.toLowerCase.indexOf(" then ")
      require(thenIdx > 0, s"merge clause needs ' then ': '$raw'")
      val headPart = raw.substring(0, thenIdx).trim
      val actPart = raw.substring(thenIdx + 6).trim
      val ifIdx = headPart.toLowerCase.indexOf(" if ")
      val (kind, cond) =
        if (ifIdx < 0) (headPart.toLowerCase, None)
        else (headPart.substring(0, ifIdx).trim.toLowerCase,
          Some(sqlExpr(headPart.substring(ifIdx + 4).trim)))
      require(Set("matched", "not_matched",
        "not_matched_by_source")(kind),
        s"merge clause kind must be matched / not_matched / " +
          s"not_matched_by_source, got '$kind'")
      val action: MergeAction = actPart.toLowerCase match {
        case "update_all" => UpdateAll
        case "delete" => DeleteRow
        case "insert_all" =>
          require(kind == "not_matched",
            "insert_all belongs to not_matched clauses")
          UpdateAll // placeholder; not_matched carries no action object
        case s if s.startsWith("set ") =>
          UpdateSet(actPart.substring(4).split(";").toSeq.map { a =>
            val eq = a.indexOf('=')
            require(eq > 0, s"malformed assignment '$a'")
            a.substring(0, eq).trim -> sqlExpr(a.substring(eq + 1).trim)
          })
        case other =>
          throw new IllegalArgumentException(
            s"merge clause action must be update_all / delete / " +
              s"insert_all / set ..., got '$other'")
      }
      // a not_matched row has no target image to delete or set — the
      // only action is insert_all. Refusing here (rather than letting
      // the builder's collect drop the action) keeps a typo'd clause
      // from silently executing as an INSERT.
      require(kind != "not_matched" || actPart.toLowerCase == "insert_all",
        s"not_matched supports only 'insert_all' (no target row exists " +
          s"to delete or set), got '$actPart'")
      (kind, cond, action)
    }

    private[plans] def builderWith(mor: Boolean, verbName: String)(
        args: Seq[Expression]): LogicalPlan = {
      import graft.storage.SnapshotMergeInto._
      require(args.size >= 4,
        s"$verbName takes (path, sourceView, keyCsv, clause[, clause " +
          s"...]); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(verbName, args, 0)
      val source = spark.table(str(verbName, args, 1))
      val keys = str(verbName, args, 2).split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      val parsed = (3 until args.size).map(i =>
        parseClause(str(verbName, args, i)))
      val m = parsed.collect { case ("matched", c, a) => WhenMatched(c, a) }
      val nms = parsed.collect { case ("not_matched", c, _) =>
        WhenNotMatched(c) }
      require(nms.size <= 1,
        s"$verbName supports at most ONE not_matched clause (all are " +
          s"insert_all; fold conditions with OR), got ${nms.size}")
      val nm = nms.headOption
      val nmbs = parsed.collect { case ("not_matched_by_source", c, a) =>
        WhenNotMatchedBySource(c, a) }
      val r =
        if (mor) graft.storage.SnapshotStore.mergeIntoMor(spark,
          path, source, keys, m, nm, nmbs)
        else graft.storage.SnapshotStore.mergeInto(spark, path,
          source, keys, m, nm, nmbs)
      import spark.implicits._
      Seq((verbName.stripPrefix("graft_"), path, r.updated, r.deleted,
        r.inserted, r.copied, r.keptDirs.toLong, r.dvRows,
        r.version.toLong))
        .toDF("verb", "path", "updated", "deleted", "inserted", "copied",
          "kept_dirs", "dv_rows", "head_version")
        .queryExecution.analyzed
    }
    def builder(args: Seq[Expression]): LogicalPlan =
      builderWith(mor = false, name)(args)
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_merge_into_mor(path, sourceView, keyCsv, clause [, ...])` —
    * [[MergeInto]] with MERGE-ON-READ economics: update/delete
    * pre-images become deletion-vector positions, only changed images
    * append (`dv_rows` in the receipt counts the DV'd pre-images).
    */
  object MergeIntoMor {
    val name = "graft_merge_into_mor"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_merge_into_mor(path, sourceView, keyCsv, clause[, clause " +
        "...]) - conditional MERGE with merge-on-read economics: same " +
        "clause grammar as graft_merge_into; pre-images pay deletion " +
        "vectors, only changed images append; string-literal arguments",
      "", "")
    def builder(args: Seq[Expression]): LogicalPlan =
      MergeInto.builderWith(mor = true, name)(args)
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_fsck(path)` — the read-only store integrity report: one row
    * per finding (dangling gen/DV refs and malformed fields = `error`;
    * orphan dirs and crash-leftover staging files = `info`, expire's to
    * reclaim). Zero rows = healthy. Never mutates anything — the dry-run
    * complement to `graft_expire`.
    */
  object Fsck {
    val name = "graft_fsck"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_fsck(path) - read-only integrity report over a " +
        "SnapshotStore: (severity, kind, subject, detail) rows; " +
        "dangling refs and malformed fields are errors, orphans and " +
        "staging leftovers are info; zero rows = healthy; " +
        "string-literal argument", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 1,
        s"$name takes (path); got ${args.size} arguments")
      val spark = SparkSession.active
      graft.storage.SnapshotStore.fsck(spark, str(name, args, 0))
        .queryExecution.analyzed
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_declare_zorder(path, colA, colB)` — declares 2-D Z-ORDER
    * clustering: every writer sorts partition slices by the Morton
    * interleave of the two dims, so per-file footer bounds stay tight on
    * BOTH columns (box probes touch ~sqrt of the files a lexicographic
    * sort leaves them); `graft_compact` re-clusters existing gens.
    */
  object DeclareZorder {
    val name = "graft_declare_zorder"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_declare_zorder(path, colA, colB) - declares 2-D z-order " +
        "clustering (writers sort partition slices by the Morton " +
        "interleave of both dims; graft_compact re-clusters existing " +
        "gens); returns one status row; string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 3,
        s"$name takes (path, colA, colB); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      graft.storage.SnapshotStore.declareSortCols(spark, path,
        Seq(str(name, args, 1), str(name, args, 2)), zorder = true)
      statusRow(spark, "declare_zorder", path, 2L)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_add_constraint(path, name, predicate)` — adds a CHECK
    * constraint (write-boundary quality gate: later appends / merges /
    * branch writes / updates refuse batches violating it; NULL passes,
    * SQL CHECK semantics). The current head must already satisfy the
    * predicate — validated with a stats-pruned scan, refused loudly
    * otherwise. `graft_drop_constraint` retires one (`detail` = 1 if it
    * existed); the `'constraints'` selector of `graft_snapshot` lists
    * them.
    */
  object AddConstraint {
    val name = "graft_add_constraint"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_add_constraint(path, name, predicate) - adds a CHECK " +
        "constraint to a SnapshotStore after validating the current " +
        "head satisfies it; later writes refuse violating batches; " +
        "returns one status row; string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 3,
        s"$name takes (path, name, predicate); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      graft.storage.SnapshotStore.addConstraint(spark, path,
        str(name, args, 1), str(name, args, 2))
      statusRow(spark, "add_constraint", path,
        graft.storage.SnapshotStore.constraints(spark, path).size.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  object DropConstraint {
    val name = "graft_drop_constraint"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_drop_constraint(path, name) - drops a CHECK constraint; " +
        "returns one status row (detail = 1 if it existed); " +
        "string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, name); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val existed = graft.storage.SnapshotStore.dropConstraint(spark, path,
        str(name, args, 1))
      statusRow(spark, "drop_constraint", path, if (existed) 1L else 0L)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_backfill_stats(path, statsCols [, bloomCols])` — declare-later
    * data skipping: adds the comma-separated columns to the store's
    * stats / needle declarations and backfills every retained head gen
    * (blobs into the manifest, bloom sidecars into the gen dirs) with
    * zero data rewritten; an empty string for either list declares none
    * of that kind. `detail` = the committed version.
    */
  object BackfillStats {
    val name = "graft_backfill_stats"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_backfill_stats(path, statsCols[, bloomCols]) - declares " +
        "skipping columns on an existing SnapshotStore and backfills " +
        "every retained head gen's stats/needle metadata, no data " +
        "rewritten; comma-separated lists ('' = none); returns one " +
        "status row (detail = committed version); string-literal " +
        "arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2 || args.size == 3,
        s"$name takes (path, statsCols[, bloomCols]); got ${args.size} " +
          "arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      def cols(i: Int): Seq[String] =
        if (args.size <= i) Nil
        else str(name, args, i).split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
      val v = graft.storage.SnapshotStore.backfillStats(spark, path,
        statsCols = cols(1), bloomCols = cols(2))
      statusRow(spark, "backfill_stats", path, v.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_tag(path, name [, version])` — tags a version (default: head)
    * as an IMMUTABLE named ref that [[graft.storage.SnapshotStore.expire]]
    * then retains regardless of the keep window; `detail` = the tagged
    * version. `graft_drop_tag` retires one (`detail` = 1 if it existed).
    */
  object Tag {
    val name = "graft_tag"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_tag(path, name[, version]) - tags a SnapshotStore version " +
        "(default: head) as an immutable named ref retained across " +
        "expire; read it back via graft_snapshot(path, 'tag:<name>'); " +
        "returns one status row (detail = tagged version); string-literal " +
        "arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2 || args.size == 3,
        s"$name takes (path, name[, version]); got ${args.size} arguments")
      val spark = SparkSession.active
      val version =
        if (args.size == 3) Some(num(name, args, 2, "version").toInt)
        else None
      val v = graft.storage.SnapshotStore.tag(
        spark, str(name, args, 0), str(name, args, 1), version)
      statusRow(spark, "tag", str(name, args, 0), v.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  object DropTag {
    val name = "graft_drop_tag"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_drop_tag(path, name) - removes a SnapshotStore tag (its " +
        "version re-enters normal retention); returns one status row " +
        "(detail = 1 if the tag existed); string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, name); got ${args.size} arguments")
      val spark = SparkSession.active
      val existed = graft.storage.SnapshotStore.deleteTag(
        spark, str(name, args, 0), str(name, args, 1))
      statusRow(spark, "drop_tag", str(name, args, 0),
        if (existed) 1L else 0L)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_drop_column(path, name)` — metadata-only logical column DROP
    * (the schema loses the column; data files are untouched; the physical
    * name is retired against re-add); `detail` = 1.
    */
  object DropColumn {
    val name = "graft_drop_column"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_drop_column(path, name) - drops a SnapshotStore column as a " +
        "metadata-only new version (old versions keep it; data files are " +
        "untouched; the name is retired against re-add); returns one " +
        "status row; string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, name); got ${args.size} arguments")
      val spark = SparkSession.active
      graft.storage.SnapshotStore.dropColumn(
        spark, str(name, args, 0), str(name, args, 1))
      statusRow(spark, "drop_column", str(name, args, 0), 1L)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** Branch (write-audit-publish) verbs: `graft_branch(path, name)`
    * creates a staging branch forked from the head (`detail` = the fork
    * version); `graft_publish_branch(path, name)` fast-forward publishes
    * it (`detail` = the published version; refuses loudly when main
    * advanced past the fork); `graft_drop_branch(path, name)` discards
    * it (`detail` = 1 if it existed). Audit reads go through
    * `graft_snapshot(path, 'branch:<name>')`; branch WRITES through
    * `graft_append_branch` / `graft_merge_branch` below — the whole WAP
    * loop is SQL-reachable.
    */
  object Branch {
    val name = "graft_branch"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_branch(path, name) - creates a write-audit-publish staging " +
        "branch forked from the SnapshotStore head; stage with " +
        "graft_append_branch, audit via " +
        "graft_snapshot(path, 'branch:<name>'), " +
        "then graft_publish_branch or graft_drop_branch; returns one " +
        "status row (detail = fork version); string-literal arguments",
      "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, name); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val fork = graft.storage.SnapshotStore.headVersion(spark, path)
        .getOrElse(-1)
      graft.storage.SnapshotStore.branchCreate(
        spark, path, str(name, args, 1))
      statusRow(spark, "branch", path, fork.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_append_branch(path, name, sourceView, partCol)` /
    * `graft_merge_branch(path, name, sourceView, partCol, keyCols
    * [, deleteCol])` — the branch WRITE verbs from SQL, so a SQL-only
    * surface can run the whole WAP loop: `graft_branch` → stage via
    * these → audit via `graft_snapshot(path, 'branch:<name>')` →
    * `graft_publish_branch` or `graft_drop_branch`. `detail` = the
    * branch's staged version after the write.
    */
  object AppendBranch {
    val name = "graft_append_branch"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_append_branch(path, name, sourceView, partCol) - stages the " +
        "named view/table (new keys only) on a write-audit-publish " +
        "branch; returns one status row (detail = the branch's staged " +
        "version); string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 4,
        s"$name takes (path, name, sourceView, partCol); got " +
          s"${args.size} arguments")
      val spark = SparkSession.active
      val (path, branch) = (str(name, args, 0), str(name, args, 1))
      graft.storage.SnapshotStore.append(spark.table(str(name, args, 2)),
        path, str(name, args, 3), target = Dml.Branch(branch))
      statusRow(spark, "append_branch", path,
        graft.storage.SnapshotStore.branches(spark, path)
          .getOrElse(branch, 0).toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  object MergeBranch {
    val name = "graft_merge_branch"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_merge_branch(path, name, sourceView, partCol, keyCols" +
        "[, deleteCol]) - merges the named view/table (upsert + insert, " +
        "plus deletes where deleteCol = true) onto a write-audit-publish " +
        "branch; keyCols is a comma-separated list; returns one status " +
        "row (detail = the branch's staged version); string-literal " +
        "arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 5 || args.size == 6,
        s"$name takes (path, name, sourceView, partCol, keyCols" +
          s"[, deleteCol]); got ${args.size} arguments")
      val spark = SparkSession.active
      val (path, branch) = (str(name, args, 0), str(name, args, 1))
      val keys = str(name, args, 4).split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      val deleteCol = if (args.size == 6) Some(str(name, args, 5)) else None
      graft.storage.SnapshotStore.merge(spark, path,
        spark.table(str(name, args, 2)), str(name, args, 3), keys,
        deleteCol = deleteCol, target = Dml.Branch(branch))
      statusRow(spark, "merge_branch", path,
        graft.storage.SnapshotStore.branches(spark, path)
          .getOrElse(branch, 0).toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  object PublishBranch {
    val name = "graft_publish_branch"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_publish_branch(path, name[, 'rebase']) - fast-forward " +
        "publishes a staging branch as the new SnapshotStore head " +
        "(refuses when main advanced past the fork point; with the " +
        "'rebase' flag, rebases onto the new head and retries — the WAP " +
        "loop under a live main line) and retires the branch; returns " +
        "one status row (detail = published version); string-literal " +
        "arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2 || args.size == 3,
        s"$name takes (path, name[, 'rebase']); got ${args.size} arguments")
      val spark = SparkSession.active
      val rebase = args.size == 3 && {
        val mode = str(name, args, 2).trim.toLowerCase
        require(mode == "rebase",
          s"$name third argument must be 'rebase', got '$mode'")
        true
      }
      val v =
        if (rebase) graft.storage.SnapshotStore.publishBranchRebased(
          spark, str(name, args, 0), str(name, args, 1))
        else graft.storage.SnapshotStore.publishBranch(
          spark, str(name, args, 0), str(name, args, 1))
      statusRow(spark, "publish_branch", str(name, args, 0), v.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_rebase_branch(path, name)` — re-points a staging branch's
    * fork base to the current head (metadata-only; refuses loudly when
    * the branch and main both changed a partition since the fork), so a
    * refused `graft_publish_branch` under a live main line is recovered
    * without re-staging; `detail` = the new fork base.
    */
  object RebaseBranch {
    val name = "graft_rebase_branch"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_rebase_branch(path, name) - re-points a write-audit-publish " +
        "staging branch onto the current SnapshotStore head so publish " +
        "can land under a moving main line; metadata-only, refuses on " +
        "partitions changed by both sides; returns one status row " +
        "(detail = the new fork base); string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, name); got ${args.size} arguments")
      val spark = SparkSession.active
      val base = graft.storage.SnapshotStore.rebaseBranch(
        spark, str(name, args, 0), str(name, args, 1))
      statusRow(spark, "rebase_branch", str(name, args, 0), base.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_expire_branches(path, olderThanMs)` — drops staging branches
    * whose last write is older than the threshold (the abandoned-branch
    * lifecycle sweep; never runs unless invoked); `detail` = number of
    * branches dropped. Their gens age out under the next orphan sweep.
    */
  object ExpireBranches {
    val name = "graft_expire_branches"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_expire_branches(path, olderThanMs) - drops staging branches " +
        "whose last write is older than olderThanMs (their gens age out " +
        "under the next orphan sweep); returns one status row (detail = " +
        "branches dropped); string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, olderThanMs); got ${args.size} arguments")
      val spark = SparkSession.active
      val dropped = graft.storage.SnapshotStore.expireBranches(
        spark, str(name, args, 0), num(name, args, 1, "olderThanMs"))
      statusRow(spark, "expire_branches", str(name, args, 0),
        dropped.size.toLong)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  object DropBranch {
    val name = "graft_drop_branch"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_drop_branch(path, name) - discards a staging branch (its " +
        "unpublished gens age out under the orphan sweep); returns one " +
        "status row (detail = 1 if the branch existed); string-literal " +
        "arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2,
        s"$name takes (path, name); got ${args.size} arguments")
      val spark = SparkSession.active
      val existed = graft.storage.SnapshotStore.dropBranch(
        spark, str(name, args, 0), str(name, args, 1))
      statusRow(spark, "drop_branch", str(name, args, 0),
        if (existed) 1L else 0L)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }

  /** `graft_expire(path, keep [, minAgeMs])` — drops manifests older than
    * the newest `keep` and sweeps unreferenced gen dirs past the orphan-age
    * floor (default 1h — pass 0 only when no writer can be live); `detail`
    * = retained version count after the sweep.
    */
  object Expire {
    val name = "graft_expire"
    val info: ExpressionInfo = new ExpressionInfo(
      MaintenanceSql.getClass.getCanonicalName, name,
      "graft_expire(path, keep[, minAgeMs]) - drops SnapshotStore versions " +
        "older than the newest `keep` and deletes unreferenced data dirs " +
        "older than minAgeMs (default 3600000); returns one status row " +
        "(detail = retained versions); string-literal arguments", "", "")
    def builder(args: Seq[Expression]): LogicalPlan = {
      require(args.size == 2 || args.size == 3,
        s"$name takes (path, keep[, minAgeMs]); got ${args.size} arguments")
      val spark = SparkSession.active
      val path = str(name, args, 0)
      val minAge =
        if (args.size == 3) num(name, args, 2, "minAgeMs") else 3600000L
      graft.storage.SnapshotStore.expire(
        spark, path, num(name, args, 1, "keep").toInt, minAge)
      // retained-version count from one listing — history() would read
      // and COUNT every retained version's data just for this receipt
      val retained = graft.storage.SnapshotStore
        .retainedVersionCount(spark, path)
      statusRow(spark, "expire", path, retained)
    }
    def descriptor: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => LogicalPlan) =
      (FunctionIdentifier(name), info, builder)
  }
}
