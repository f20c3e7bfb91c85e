package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType

/** SQL time travel — the sixth TVF rung: read any retained version of a
  * [[graft.storage.SnapshotStore]] from pure SQL.
  *
  * {{{
  *   SELECT * FROM graft_snapshot('/data/orders_snap', 'head')
  *   SELECT * FROM graft_snapshot('/data/orders_snap', '3')
  * }}}
  *
  * One code path with `SnapshotStore.read` (the [[NearDupSql]] argument):
  * the manifest resolution, shared-partition layout, and `_p` shadow-column
  * handling are the store's, not a SQL-side copy.
  */
object SnapshotSql {

  val name = "graft_snapshot"

  val info: ExpressionInfo = new ExpressionInfo(
    SnapshotSql.getClass.getCanonicalName, name,
    "graft_snapshot(path, version) - reads a SnapshotStore at `path`; " +
      "version is a positive integer literal, 'head', 'tag:<name>' (an " +
      "immutable named ref), 'branch:<name>' (a WAP staging branch's " +
      "tip - the audit surface), 'asof:<epoch-millis|ISO-8601>' " +
      "(timestamp time travel), 'tags' (the tag catalog), 'branches' " +
      "(the branch catalog), 'partitions' (the partition catalog: key, components, field/file/DV counts, live rows), or 'history' (the version catalog: " +
      "version, n_partitions, n_rows); string-literal arguments", "", "")

  def builder(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2,
      s"$name takes 2 string-literal arguments (path, version); got " +
        args.size)
    def str(i: Int): String = {
      val e = args(i)
      require(e.foldable && e.dataType == StringType,
        s"$name argument ${i + 1} must be a string literal, got ${e.sql}")
      val v = e.eval()
      require(v != null, s"$name argument ${i + 1} must not be NULL")
      v.toString
    }
    val path = str(0)
    str(1).trim.toLowerCase match {
      case "history" =>
        // the version catalog, not a data read
        graft.storage.SnapshotStore.history(SparkSession.active, path)
          .queryExecution.analyzed
      case "tags" =>
        // the tag catalog: name -> version
        val spark = SparkSession.active
        import spark.implicits._
        graft.storage.SnapshotStore.tags(spark, path).toSeq.sorted
          .toDF("tag", "version").queryExecution.analyzed
      case "branches" =>
        // the branch catalog with lifecycle data: staged tip counter,
        // fork base, created/last-written wall clocks (0 on pre-r15
        // staged files) — an abandoned staging branch pinning gens out
        // of the orphan sweep is VISIBLE here before graft_expire_branches
        val spark = SparkSession.active
        import spark.implicits._
        graft.storage.SnapshotStore.branchInfos(spark, path)
          .toDF("branch", "tip", "base", "created_ms", "modified_ms")
          .queryExecution.analyzed
      case "constraints" =>
        // the CHECK-constraint catalog: name -> predicate SQL
        val spark = SparkSession.active
        import spark.implicits._
        graft.storage.SnapshotStore.constraints(spark, path).toSeq.sorted
          .toDF("constraint", "predicate").queryExecution.analyzed
      case "partitions" =>
        // the partition catalog (SHOW PARTITIONS): key, decoded
        // components, field/file counts, DV'd positions, exact live
        // rows where blobs carry counts (NULL otherwise). One manifest
        // resolve, no file I/O.
        val spark = SparkSession.active
        graft.storage.SnapshotStore.partitionInfosDf(spark, path)
          .queryExecution.analyzed
      case b if b.startsWith("branch:") =>
        // the WAP audit surface: read the branch tip from pure SQL
        graft.storage.SnapshotStore.read(SparkSession.active, path,
          target = graft.storage.Dml.Branch(str(1).trim.substring(7)))
          .queryExecution.analyzed
      case t if t.startsWith("tag:") =>
        // read by immutable named ref (resolved now, at analysis —
        // the same eagerness as an integer version literal)
        val spark = SparkSession.active
        val v = graft.storage.SnapshotStore.readTag(spark, path,
          str(1).trim.substring(4))
        graft.storage.SnapshotStore.read(spark, path, Some(v))
          .queryExecution.analyzed
      case t if t.startsWith("asof:") =>
        // timestamp time travel: epoch millis or an ISO-8601 instant
        val spark = SparkSession.active
        val raw = str(1).trim.substring(5)
        val ts = try raw.toLong catch {
          case _: NumberFormatException =>
            try java.time.Instant.parse(raw).toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(
                  s"$name asof timestamp must be epoch millis or an " +
                    s"ISO-8601 instant (e.g. 2026-08-15T10:00:00Z), " +
                    s"got '$raw'")
            }
        }
        val v = graft.storage.SnapshotStore.versionAsOf(spark, path, ts)
        graft.storage.SnapshotStore.read(spark, path, Some(v))
          .queryExecution.analyzed
      case verStr =>
        val version = verStr match {
          case "head" => None
          case s =>
            val v = try s.toInt catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"$name version must be a positive integer, 'head', " +
                    s"'history', 'tags', 'tag:<name>', or 'asof:<ts>', " +
                    s"got '$s'")
            }
            require(v >= 1,
              s"$name version must be a positive integer, 'head', or " +
                s"'history', got $v")
            Some(v)
        }
        graft.storage.SnapshotStore.read(SparkSession.active, path, version)
          .queryExecution.analyzed
    }
  }

  /** The `injectTableFunction` descriptor for [[graft.GraftExtensions]]. */
  def descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info, builder)
}

/** SQL reach for the stats-pruned read ([[graft.storage.SnapshotStore
  * .readWhere]]):
  *
  * {{{
  *   SELECT * FROM graft_snapshot_where('/data/orders_snap', 'head',
  *                                      'ts >= DATE''2024-01-01''')
  * }}}
  *
  * The predicate is a SQL boolean expression over the version's (logical)
  * columns; gens whose recorded min/max bounds prove it unsatisfiable are
  * never listed or opened, and the full predicate still applies to what
  * survives. A plain `WHERE` over `graft_snapshot(...)` is equally
  * CORRECT — this rung exists because that filter lands ABOVE the
  * already-planned scan, after every gen was listed; here the pruning
  * decision happens at manifest-resolution time. One code path with the
  * store (the [[NearDupSql]] argument).
  */
object SnapshotWhereSql {

  val name = "graft_snapshot_where"

  val info: ExpressionInfo = new ExpressionInfo(
    SnapshotWhereSql.getClass.getCanonicalName, name,
    "graft_snapshot_where(path, selector, predicate) - reads a " +
      "SnapshotStore at `path` with manifest-level data skipping: gens " +
      "whose recorded column stats (or needle files) rule the predicate " +
      "out are never opened; selector is a positive integer literal, " +
      "'head', or 'branch:<name>' (the WAP audit's pruned read); the " +
      "predicate is a SQL boolean expression; string-literal arguments",
    "", "")

  def builder(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 3,
      s"$name takes 3 string-literal arguments (path, version, " +
        s"predicate); got ${args.size}")
    def str(i: Int): String = {
      val e = args(i)
      require(e.foldable && e.dataType == StringType,
        s"$name argument ${i + 1} must be a string literal, got ${e.sql}")
      val v = e.eval()
      require(v != null, s"$name argument ${i + 1} must not be NULL")
      v.toString
    }
    val path = str(0)
    str(1).trim.toLowerCase match {
      // the WAP audit's pruned read from pure SQL: same stats + needle
      // pruning as main, over the branch tip's staged entries
      case b if b.startsWith("branch:") =>
        graft.storage.SnapshotStore.readWhere(SparkSession.active, path,
          org.apache.spark.sql.functions.expr(str(2)),
          target = graft.storage.Dml.Branch(str(1).trim.substring(7)))
          .queryExecution.analyzed
      case sel =>
        val version = sel match {
          case "head" => None
          case s =>
            val v = try s.toInt catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"$name version must be a positive integer, 'head' or " +
                    s"'branch:<name>', got '$s'")
            }
            require(v >= 1,
              s"$name version must be a positive integer, 'head' or " +
                s"'branch:<name>', got $v")
            Some(v)
        }
        graft.storage.SnapshotStore.readWhere(SparkSession.active, path,
          org.apache.spark.sql.functions.expr(str(2)), version)
          .queryExecution.analyzed
    }
  }

  def descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info, builder)
}

/** `graft_count(path [, predicate [, version]])` — COUNT answered from
  * the manifest wherever provable ([[graft.storage.SnapshotStore
  * .countWhere]]): ALL-MATCH gens contribute their recorded per-gen row
  * counts with no file listed, NO-MATCH gens contribute zero, ambiguous
  * gens are scanned with the predicate applied in full. One row:
  * (path, cnt, scanned_dirs) — `scanned_dirs` makes the metadata-only
  * claim OBSERVABLE from SQL (0 = the count never touched data).
  */
object CountSql {

  val name = "graft_count"

  val info: ExpressionInfo = new ExpressionInfo(
    CountSql.getClass.getCanonicalName, name,
    "graft_count(path[, predicate[, selector]]) - counts a SnapshotStore's " +
      "rows from manifest stats where provable (recorded per-gen row " +
      "counts; only ambiguous gens are scanned); predicate is a SQL " +
      "boolean expression (default TRUE), selector a positive integer, " +
      "'head', or 'branch:<name>' (the WAP audit count over a staged " +
      "tip); returns one row (path, cnt, scanned_dirs); string-literal " +
      "arguments", "", "")

  def builder(args: Seq[Expression]): LogicalPlan = {
    require(args.nonEmpty && args.size <= 3,
      s"$name takes (path[, predicate[, version]]); got ${args.size}")
    def str(i: Int): String = {
      val e = args(i)
      require(e.foldable && e.dataType == StringType,
        s"$name argument ${i + 1} must be a string literal, got ${e.sql}")
      val v = e.eval()
      require(v != null, s"$name argument ${i + 1} must not be NULL")
      v.toString
    }
    val path = str(0)
    val pred =
      if (args.size >= 2) org.apache.spark.sql.functions.expr(str(1))
      else org.apache.spark.sql.functions.lit(true)
    val spark = SparkSession.active
    // the third argument is a SELECTOR like graft_snapshot's: a version
    // number, 'head', or 'branch:<name>' (the WAP audit count over a
    // staged tip)
    val (cnt, scanned) =
      if (args.size < 3)
        graft.storage.SnapshotStore.countWhereDetailed(spark, path, pred)
      else str(2).trim match {
        case s if s.toLowerCase == "head" =>
          graft.storage.SnapshotStore.countWhereDetailed(spark, path, pred)
        case s if s.toLowerCase.startsWith("branch:") =>
          graft.storage.SnapshotStore.countWhereDetailed(spark, path, pred,
            target = graft.storage.Dml.Branch(s.substring(7)))
        case s =>
          val v = try s.toInt catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$name selector must be a positive integer, 'head' or " +
                  s"'branch:<name>', got '$s'")
          }
          require(v >= 1,
            s"$name selector must be a positive integer, 'head' or " +
              s"'branch:<name>', got $v")
          graft.storage.SnapshotStore.countWhereDetailed(
            spark, path, pred, Some(v))
      }
    import spark.implicits._
    Seq((path, cnt, scanned.toLong)).toDF("path", "cnt", "scanned_dirs")
      .queryExecution.analyzed
  }

  def descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info, builder)
}

/** `graft_minmax(path, cols [, predicate [, version]])` — MIN/MAX from
  * manifest stats where provable ([[graft.storage.SnapshotStore
  * .minMaxWhere]]): exact-domain bounds of ALL-MATCH gens serve without
  * opening a file; ambiguous gens and string columns scan. One row:
  * `<col>_min`/`<col>_max` per requested column (typed), plus
  * `scanned_dirs` (0 = the aggregate never touched data).
  */
object MinMaxSql {

  val name = "graft_minmax"

  val info: ExpressionInfo = new ExpressionInfo(
    MinMaxSql.getClass.getCanonicalName, name,
    "graft_minmax(path, cols[, predicate[, version]]) - min/max of the " +
      "comma-separated columns over a SnapshotStore, answered from " +
      "manifest stats where provable (only ambiguous gens are scanned); " +
      "predicate is a SQL boolean expression (default TRUE), version a " +
      "positive integer or 'head'; returns one typed row plus " +
      "scanned_dirs; string-literal arguments", "", "")

  def builder(args: Seq[Expression]): LogicalPlan = {
    require(args.size >= 2 && args.size <= 4,
      s"$name takes (path, cols[, predicate[, version]]); got ${args.size}")
    def str(i: Int): String = {
      val e = args(i)
      require(e.foldable && e.dataType == StringType,
        s"$name argument ${i + 1} must be a string literal, got ${e.sql}")
      val v = e.eval()
      require(v != null, s"$name argument ${i + 1} must not be NULL")
      v.toString
    }
    val path = str(0)
    val cols = str(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val pred =
      if (args.size >= 3) org.apache.spark.sql.functions.expr(str(2))
      else org.apache.spark.sql.functions.lit(true)
    val version =
      if (args.size < 4) None
      else str(3).trim.toLowerCase match {
        case "head" => None
        case s =>
          val v = try s.toInt catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$name version must be a positive integer or 'head', " +
                  s"got '$s'")
          }
          require(v >= 1,
            s"$name version must be a positive integer or 'head', got $v")
          Some(v)
      }
    val spark = SparkSession.active
    val (df, scanned) = graft.storage.SnapshotStore
      .minMaxWhereDetailed(spark, path, cols, pred, version)
    df.withColumn("scanned_dirs",
      org.apache.spark.sql.functions.lit(scanned.toLong))
      .queryExecution.analyzed
  }

  def descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info, builder)
}

/** SQL reach for the incremental CHANGES feed — the seventh TVF rung:
  *
  * {{{
  *   SELECT * FROM graft_changes('/data/orders_snap', '1', '2', 'o_orderkey')
  * }}}
  *
  * emits `SnapshotStore.changes(path, from, to, keys)` (Delta-CDF shape:
  * `_change_type` + the full row; keys is a comma-separated column list).
  * One code path with the store — the manifest diff, partition pruning,
  * and image/struct cancellation are `SnapshotStore.changes`'s.
  */
object ChangesSql {

  val name = "graft_changes"

  val info: ExpressionInfo = new ExpressionInfo(
    ChangesSql.getClass.getCanonicalName, name,
    "graft_changes(path, fromVersion, toVersion, keyCols) - row-level " +
      "changes between two SnapshotStore versions; versions are positive " +
      "integer literals, keyCols a comma-separated column list; " +
      "string-literal arguments", "", "")

  def builder(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 4,
      s"$name takes 4 string-literal arguments (path, fromVersion, " +
        s"toVersion, keyCols); got ${args.size}")
    def str(i: Int): String = {
      val e = args(i)
      require(e.foldable && e.dataType == StringType,
        s"$name argument ${i + 1} must be a string literal, got ${e.sql}")
      val v = e.eval()
      require(v != null, s"$name argument ${i + 1} must not be NULL")
      v.toString
    }
    def ver(i: Int): Int = {
      val s = str(i)
      val v = try s.trim.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$name argument ${i + 1} must be a positive integer version, " +
              s"got '$s'")
      }
      require(v >= 1,
        s"$name argument ${i + 1} must be a positive integer version, got $v")
      v
    }
    val keys = str(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, s"$name keyCols must name at least one column")
    graft.storage.SnapshotStore
      .changes(SparkSession.active, str(0), ver(1), ver(2), keys)
      .queryExecution.analyzed
  }

  /** The `injectTableFunction` descriptor for [[graft.GraftExtensions]]. */
  def descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info, builder)
}
