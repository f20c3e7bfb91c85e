package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.storage.Dml

/** Second-ring query surface (R13 "ad-hoc SQL over the log table" generalized
  * + north-star text analytics): grouping sets, full window-function coverage,
  * ordered string aggregation, manual pivot, scalar/IN subqueries, stable
  * statistical aggregates, histograms, tf-idf, normalized dedup.
  *
  * Determinism notes mirror §2.B: sums/avgs of identical integer inputs are
  * bit-identical across engines; `stddev`/`corr` magnitudes here keep the
  * round-to-4 comparison far from FP-error scale (variance-style aggregates
  * whose magnitude would defeat rounding are deliberately NOT declared).
  */
object Extended extends QueryModule {

  /** Shared three-arm CDC fixture of the two MERGE gates (update %97,
    * insert %101 with +10M key offset, delete %193 — all inside the two
    * touched priorities) and their read-back aggregate — ONE definition,
    * so "q_merge_snapshot applies the same batch as q_merge_upsert" is
    * true by construction, not by keeping copies in sync.
    */
  private def mergeCdcBatch(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val touched = col("o_orderpriority").isin("1-URGENT", "5-LOW")
    val upd = orders.filter(col("o_orderkey") % 97 === 0 && touched)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      .withColumn("_deleted", lit(false))
    val ins = orders.filter(col("o_orderkey") % 101 === 0 && touched)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
      .withColumn("_deleted", lit(false))
    val del = orders.filter(col("o_orderkey") % 193 === 0 && touched)
      .withColumn("_deleted", lit(true))
    upd.unionByName(ins).unionByName(del)
  }

  /** r19: the store-gate fixture chains (key-quartile / key-residue
    * version chains) land through [[graft.storage.SnapshotStore
    * .writeVersions]] — ONE source pass + one shuffle for the whole
    * chain instead of one write + N appends each rescanning the source
    * (guide §1.2: remove whole passes first). Result-equivalent by
    * construction (SnapshotWriteVersionsSpec pins version-chain, row,
    * manifest-text, and pruning parity).
    */
  private def quartileSlices(k: org.apache.spark.sql.Column, q1: Long,
      q2: Long, q3: Long): org.apache.spark.sql.Column =
    when(k <= q1, 0).when(k <= q2, 1).when(k <= q3, 2).otherwise(3)

  private def mergeAgg(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))

  /** Shared on-disk snapshot fixture of the CDF / IVM / history gates
    * (content-fingerprint-keyed via [[StreamGate.replayCache]], one build
    * per corpus): v1 = orders, v2 = the shared [[mergeCdcBatch]] merged.
    * The merge itself is `q_merge_snapshot`'s measured surface and that
    * gate still performs its own; these three gates test the
    * feed / fold / catalog OVER the store, so they share the build.
    */
  private def snapFixture(s: org.apache.spark.sql.SparkSession,
                          d: String): String =
    // tag v3: commit timestamps (r16) are part of the fixture's
    // observable shape — q_snapshot_history pins the `committed_at`
    // monotonicity and q_snapshot_asof resolves it, so a cache built by
    // pre-timestamp code must not serve (tag v2 was r15's operation
    // provenance, same rationale)
    StreamGate.replayCache(d, "snapfix3", "orders") { dir =>
      val orders = t(s, d, "orders")
      graft.storage.SnapshotStore.write(orders, s"$dir/st",
        "o_orderpriority")
      graft.storage.SnapshotStore.merge(s, s"$dir/st", mergeCdcBatch(orders),
        "o_orderpriority", Seq("o_orderkey"), deleteCol = Some("_deleted"))
    } + "/st"

  /** The CTE block both MERGE oracles share: the merged relation of the
    * [[mergeCdcBatch]] arms, replayed relationally.
    */
  private val mergeOracleCte: String =
    """WITH touched AS (SELECT * FROM orders
      |    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |  upd AS (SELECT * REPLACE (o_totalprice + 1.0 AS o_totalprice)
      |    FROM touched WHERE o_orderkey % 97 = 0),
      |  ins AS (SELECT * REPLACE (o_orderkey + 10000000 AS o_orderkey)
      |    FROM touched WHERE o_orderkey % 101 = 0),
      |  delk AS (SELECT o_orderkey FROM touched WHERE o_orderkey % 193 = 0),
      |  bkeys AS (SELECT o_orderkey FROM upd
      |    UNION SELECT o_orderkey FROM ins
      |    UNION SELECT o_orderkey FROM delk),
      |  merged AS (
      |    SELECT * FROM upd
      |    UNION ALL SELECT * FROM ins
      |    UNION ALL SELECT * FROM orders
      |      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM bkeys))""".stripMargin

  def queries: Seq[(String, QFn)] = Seq(
    // GROUPING SETS beyond rollup/cube (via the SQL surface, R13).
    "q_grouping_sets" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("li_gsets")
      s.sql("""SELECT CAST(grouping_id() AS INT) AS gid,
              |  l_returnflag, l_linestatus, count(*) AS cnt,
              |  round(sum(l_quantity), 4) AS sum_qty
              |FROM li_gsets
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY gid, l_returnflag ASC NULLS FIRST,
              |  l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // Distribution window functions: ntile / percent_rank / cume_dist.
    "q_win_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, d, "customer")
        .select(col("c_nationkey"), col("c_custkey"),
          ntile(4).over(w).cast(IntegerType).as("quartile"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    }),

    // Frame-wide first/last/nth value per key.
    "q_win_firstlast" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders")
        .select(col("o_custkey"),
          row_number().over(w).as("rn"),
          first(col("o_orderkey")).over(full).as("first_key"),
          last(col("o_orderkey")).over(full).as("last_key"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_key"))
        .filter(col("rn") === 1).drop("rn")
        .orderBy(col("o_custkey"))
    }),

    // Bounded ROWS frame (moving window over the last 4 orders per
    // customer). FP discipline: the frame sum runs in DECIMAL (exact in
    // both engines — DuckDB computes sliding aggregates over a segment
    // tree whose double fold order differs from Spark's) and casts to
    // double only at the end.
    "q_win_movavg" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-3, 0)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(12,2)")).over(w)
            .cast("double").as("mov_sum"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // RANGE frame over event time: per user, how many of their events fall
    // in the trailing hour (inclusive peers at the same second — RANGE, not
    // ROWS). Seconds come from the identical truncating µs→s division.
    "q_win_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
        .rangeBetween(-3599, 0)
      t(s, d, "events")
        .select(col("user_id"), col("ts").cast("long").as("ts_s"))
        .withColumn("cnt_1h", count(lit(1)).over(w))
        .orderBy(col("user_id"), col("ts_s"), col("cnt_1h"))
    }),

    // Exact linear-interpolation percentiles per group (Spark `percentile`
    // ≡ DuckDB `quantile_cont`).
    "q_percentile" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
        .orderBy(col("l_returnflag"))
    }),

    // Cohort retention: users bucketed by first-activity week, counted in
    // every week they return (weekly: the test window spans ~5 weeks but
    // one month). Both the cohort table and the activity table are keyed
    // by user_id, so the join shuffles co-partitioned on the same key (AQE
    // broadcasts instead while the user dimension fits).
    "q_retention_cohort" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("ts"))
      val cohorts = ev.groupBy(col("user_id"))
        .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort"))
      val active = ev
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("m"))
        .distinct()
      cohorts.join(active, Seq("user_id"))
        .groupBy(col("cohort"), col("m"))
        .agg(count(lit(1)).as("users"))
        .orderBy(col("cohort"), col("m"))
    }),

    // Ordered string aggregation (LISTAGG/string_agg surface).
    "q_string_agg" -> ((s, d) => {
      t(s, d, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(array_join(array_sort(collect_list(col("s_name"))), "|").as("names"),
          count(lit(1)).as("n"))
        .orderBy(col("s_nationkey"))
    }),

    // Manual pivot: status classes across priority rows (CASE-sum form is
    // engine-portable, unlike PIVOT syntax).
    "q_pivot_status" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"))
        .orderBy(col("o_orderpriority"))
    }),

    // Uncorrelated scalar subquery: rows above the global average.
    // Determinism: `price > avg` is evaluated as `price * n > total` with the
    // total summed in DECIMAL — exact, so no partial-aggregation-order FP
    // wobble can flip a boundary row between engines (a double avg's last
    // ulp is partitioning-dependent).
    "q_subquery_scalar" -> ((s, d) => {
      val o = t(s, d, "orders")
      val aggDf = o.agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("total"),
        count(lit(1)).as("n"))
      o.crossJoin(aggDf)
        .filter(col("o_totalprice") * col("n") > col("total"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // IN-subquery with a filtered dimension (semi join on a derived set).
    "q_subquery_in" -> ((s, d) => {
      val building = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      t(s, d, "orders")
        .join(building, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    }),

    // FULL OUTER join: unmatched rows from both sides survive with NULLs.
    "q_join_full" -> ((s, d) => {
      val c = t(s, d, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val sup = t(s, d, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      c.withColumnRenamed("nk", "c_nk")
        .join(sup.withColumnRenamed("nk", "s_nk"),
          col("c_nk") === col("s_nk"), "full_outer")
        .select(coalesce(col("c_nk"), col("s_nk")).as("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nk"))
    }),

    // Multiset semantics: EXCEPT ALL / INTERSECT ALL preserve duplicates.
    "q_set_except_all" -> ((s, d) => {
      val a = t(s, d, "lineitem").select(col("l_returnflag").as("f"))
      val b = t(s, d, "orders").limit(0)
        .select(lit("A").as("f")) // empty side: EXCEPT ALL keeps all of `a`
      a.exceptAll(b).groupBy(col("f")).agg(count(lit(1)).as("n"))
        .orderBy(col("f"))
    }),

    "q_set_intersect_all" -> ((s, d) => {
      val a = t(s, d, "customer").select(col("c_nationkey").as("nk"))
      val b = t(s, d, "supplier").select(col("s_nationkey").as("nk"))
      a.intersectAll(b).groupBy(col("nk")).agg(count(lit(1)).as("n"))
        .orderBy(col("nk"))
    }),

    // Statistical aggregates with rounding-safe magnitudes.
    "q_stats_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(avg(col("l_discount")), 4).as("avg_disc"))
        .orderBy(col("l_returnflag"))
    }),

    // Numeric histogram via width_bucket (dashboard staple).
    "q_width_bucket" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(width_bucket(col("o_totalprice"), lit(0.0), lit(10000.0), lit(20))
          .cast(IntegerType).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("bucket"))
    }),

    // Hour-of-day profile (extract-style time dimension, R12 flavored).
    "q_hour_histogram" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("h"))
    }),

    // NULL-handling scalar surface: nullif / coalesce / isnull.
    "q_null_scalars" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_id"),
          nullif(col("event_type"), lit("error")).as("non_error_type"),
          coalesce(nullif(col("event_type"), lit("error")), lit("ERR")).as("typ"),
          isnull(nullif(col("event_type"), lit("error"))).as("is_err"))
        .orderBy(col("event_id"))
        .limit(2000)
    }),

    // Multi-branch CASE classification + conditional counts.
    "q_case_classify" -> ((s, d) => {
      val cls = when(col("value") < 50, "low")
        .when(col("value") < 150, "mid").otherwise("high")
      t(s, d, "events")
        .groupBy(col("event_type"), cls.as("value_class"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type"), col("value_class"))
    }),

    // Normalized exact dedup: canonical text (lowercase, collapsed whitespace,
    // trimmed) hashed — catches case/spacing-variant duplicates.
    "q_dedup_norm" -> ((s, d) => {
      val norm = trim(regexp_replace(lower(col("text")), " +", " "))
      t(s, d, "documents")
        .groupBy(md5(norm).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("h"))
    }),

    // Funnel analysis: per signup-day conversion to a later purchase by the
    // same user — two chained event-time aggregations (the classic
    // product-analytics query over the log table).
    "q_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val purchase = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val conv = signup.join(purchase, Seq("user_id"), "left")
        .withColumn("converted",
          when(col("p_ts") > col("s_ts"), 1).otherwise(0))
        .groupBy(col("user_id"), col("s_ts"))
        .agg(max(col("converted")).as("converted"))
      conv.groupBy(to_date(col("s_ts")).as("signup_day"))
        .agg(count(lit(1)).as("n_signups"),
          sum(col("converted")).cast("long").as("n_converted"),
          round(sum(col("converted")) / count(lit(1)), 4).as("conv_rate"))
        .orderBy(col("signup_day"))
    }),

    // Regex predicate surface (RLIKE / regexp_matches) — grep-style log search.
    "q_regex_filter" -> ((s, d) => {
      t(s, d, "documents")
        .filter(col("text").rlike("spark [a-z]+ join"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // Array-function surface over token arrays: contains / position / slice /
    // sort / distinct sizes.
    "q_array_funcs" -> ((s, d) => {
      val toks = split(col("text"), " ")
      t(s, d, "documents")
        .select(col("doc_id"),
          array_contains(toks, "spark").as("has_spark"),
          array_position(toks, "join").cast("int").as("join_pos"),
          concat_ws(" ", slice(toks, 1, 5)).as("head5"),
          element_at(array_sort(toks), 1).as("first_sorted"),
          size(array_distinct(toks)).as("n_uniq"))
        .orderBy(col("doc_id"))
    }),

    // Heavy hitters via the SpaceSaving sketch aggregate — exact (and thus
    // oracle-comparable) whenever capacity exceeds key cardinality; at real
    // scale the same operator trades exactness for O(capacity) memory.
    "q_topk_sketch" -> ((s, d) => {
      graft.expressions.TopKSketch.register(s, k = 10, capacity = 100000)
      t(s, d, "events")
        .agg(graft.expressions.TopKSketch.topk(col("user_id").cast("string"))
          .as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.item").as("user_id"), col("e.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("user_id"))
    }),

    // Structured JSON parse (from_json with a declared schema) — the typed
    // counterpart of get_json_object over the props escape hatch.
    "q_json_struct" -> ((s, d) => {
      t(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"))
        .filter(col("k") > 50)
        .orderBy(col("event_id"))
    }),

    // Deterministic hash sampling — the reproducible train/eval split
    // primitive (no rand(): same rows selected on every engine, every retry).
    "q_sample_hash" -> ((s, d) => {
      t(s, d, "documents")
        .filter(md5(col("doc_id").cast("string")) < "10")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Token-budget sampling: per source, docs are drawn in deterministic
    // md5 order until a 600-token budget fills — the reproducible "give me
    // N tokens from each domain at these weights" primitive of training-mix
    // assembly (no rand(): identical draw on every engine, every retry).
    // 100 TB shape: ONE shuffle partitioned by source, per-partition sort —
    // the window never crosses sources, and budgets per domain are the knob
    // a mixture config turns.
    "q_token_budget" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .withColumn("cum_toks", sum(col("toks")).over(w))
        .filter(col("cum_toks") <= 600L)
        .orderBy(col("source"), col("cum_toks"))
    }),

    // Deterministic train/val/test split assignment by hash range (~90/5/5).
    "q_split_assign" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string"))
      val split_ = when(h < "e6", "train").when(h < "f3", "val").otherwise("test")
      t(s, d, "documents")
        .groupBy(split_.as("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("split"))
    }),

    // Training-data mixture weighting: per-language keep rates applied as
    // deterministic md5 thresholds (the reproducible downsample-the-head /
    // keep-the-tail step of a corpus pipeline; rate ≈ int(threshold,16)/256,
    // portable Spark↔DuckDB). One scan, no shuffle before the tiny agg.
    "q_mixture_sample" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string"))
      val keep = when(col("lang") === "en", h < "20") // ~12.5%: downsample head
        .when(col("lang") === "zh", h < "80") // 50%
        .otherwise(h < "c0") // 75%: keep low-resource tail
      t(s, d, "documents").filter(keep)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),

    // Temperature-based mixture REWEIGHTING (the multilingual-training
    // standard: sampling share ∝ n^α, α = 0.5 — upweights low-resource
    // tails without memorizing them): per-language keep RATES are DERIVED
    // from corpus counts (share·budget/n, capped at 1), then applied as
    // the same deterministic md5-prefix thresholds as q_mixture_sample.
    // Cross-engine float discipline: sqrt (IEEE-exact), never pow(x,.5);
    // the rate is rounded to 6 decimals BEFORE the integer threshold so
    // the two engines' last-ulp summation differences cannot flip a
    // boundary row. Rates broadcast (|languages| rows); one corpus scan.
    "q_mixture_temperature" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val z = counts.agg(sum(sqrt(col("n"))).as("z"))
      val rates = counts.crossJoin(z)
        .select(col("lang"), col("n"),
          round(least(lit(1.0),
            sqrt(col("n")) / col("z") * lit(1000.0) / col("n")), 6)
            .as("rate"))
      docs.join(broadcast(rates), "lang")
        .filter(
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint") <
            floor(col("rate") * lit(4294967296.0)).cast("bigint"))
        .groupBy(col("lang"), col("n"), col("rate"))
        .agg(count(lit(1)).as("kept"))
        .orderBy(col("lang"))
    }),

    // Wide→long unpivot (metric melt): the inverse of q_pivot_status, via
    // the native unpivot operator (one Expand node — a single scan emits
    // all three metric rows, no self-union rescan).
    "q_unpivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
          round(col("val"), 4).as("val"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))),

    // Zero-filled dashboard series: the R12 hourly buckets left-joined onto
    // a generated dense hour spine so quiet hours render as 0 (server-side
    // "null as zero" for Grafana). sequence()+explode is the generator; the
    // spine is one row per hour regardless of traffic volume.
    "q_timeseries_zerofill" -> ((s, d) => {
      val counts = t(s, d, "events")
        .select(date_trunc("hour", col("ts")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      val spine = counts.agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("t"))
      spine.join(counts, Seq("t"), "left")
        .select(col("t").cast("timestamp_ntz").as("t"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy(col("t"))
    }),

    // Salted equi-join under single-hot-key skew (SURVEY "salting for
    // skew"): the join key carries a deterministic salt hashed from the
    // fact table's PK, spreading any one hot key over 8 tasks — the case
    // AQE's skew split cannot subdivide. Semantics are exactly the plain
    // inner join (the oracle), so the salt is pure plan shape; the small
    // side's 8x replication is a bounded broadcast (|part| x 8 rows).
    "q_skew_join" -> ((s, d) => {
      val big = t(s, d, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_quantity"),
          col("l_orderkey"), col("l_linenumber"))
      val small = t(s, d, "part")
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.operators.Skew
        .saltedJoin(big, small, "partkey",
          struct(col("l_orderkey"), col("l_linenumber")), saltBuckets = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy(col("p_brand"))
    }),

    // The SAME salted join reached through PURE SQL (R13): the
    // graft_salted_join table-valued function resolves its table names and
    // returns the very plan Skew.saltedJoin builds — a SQL-only user gets
    // the skew-safe shape without writing the salt spine. Identical oracle.
    "q_skew_join_sql" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_partkey").as("partkey"), col("l_quantity"),
          col("l_orderkey"), col("l_linenumber"))
        .createOrReplaceTempView("skew_sql_big")
      t(s, d, "part")
        .select(col("p_partkey").as("partkey"), col("p_brand"))
        .createOrReplaceTempView("skew_sql_small")
      graft.plans.AsOf.register(s)
      s.sql(
        """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
          |FROM graft_salted_join('skew_sql_big', 'skew_sql_small',
          |                       'partkey', 'l_orderkey,l_linenumber', '8')
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    }),

    // Two-phase salted aggregation under hot-GROUP skew: l_returnflag has
    // 3 groups over the whole fact table — every group is a hot group, and
    // count(DISTINCT l_orderkey) ships each group's full distinct set to
    // one reducer in the plain plan. Salting by hash(l_orderkey) makes the
    // per-bucket distinct sets DISJOINT, so each of 8 tasks holds 1/8 of
    // the state and the final merge is a plain sum over <=8 rows per
    // group. Semantics are exactly the unsalted aggregate (the oracle).
    "q_skew_agg" -> ((s, d) => {
      graft.operators.Skew.saltedAgg(
          t(s, d, "lineitem"), keys = Seq("l_returnflag"),
          salt = col("l_orderkey"), saltBuckets = 8,
          partial = Seq(
            countDistinct(col("l_orderkey")).as("_pd"),
            sum(col("l_quantity")).as("_ps"),
            count(lit(1)).as("_pn")),
          merge = Seq(
            sum(col("_pd")).as("n_orders"),
            round(sum(col("_ps")), 4).as("sum_qty"),
            sum(col("_pn")).as("n")))
        .orderBy(col("l_returnflag"))
    }),

    // Keep-latest-per-key dedup (re-crawl semantics: newest version of each
    // entity wins). One partitioned window + filter — the WindowGroupLimit
    // optimization turns it into a per-partition top-1, no full sort spill.
    "q_keep_latest" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("event_type"))
        .orderBy(col("user_id"))
    }),

    // Gap-based batch sessionization (30-min inactivity): the R12 analytics
    // family's session view, all in integer microseconds so the gap compare
    // is engine-exact. Windows partition by user — fully parallel.
    "q_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events").select(col("user_id"), col("ts"), col("event_id"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
      val isNew = when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L)
      val sess = sum(isNew).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      ev.withColumn("sess", sess)
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).cast("timestamp_ntz").as("t_start"),
          max(col("ts")).cast("timestamp_ntz").as("t_end"))
        .orderBy(col("user_id"), col("sess"))
    }),

    // Token-budget shard packing (training-data assembly): stable-order
    // running token total div budget via the two-phase distributed prefix
    // sum in operators/Pack (the naive global window would single-partition).
    "q_shard_pack" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"))
      graft.operators.Pack.packShards(docs, "doc_id", "n_tok", 4096L)
        .orderBy(col("doc_id"))
    }),

    // Collocation mining: top bigrams by PMI (pointwise mutual information),
    // support-filtered. All inputs are integer counts → ln of identical
    // rationals → bit-identical doubles across engines.
    "q_bigram_pmi" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      val uni = toks.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      // total token count = sum of the unigram counts — derived from `uni`
      // instead of a second explode+scan of the corpus
      val nTok = uni.agg(sum(col("c1")).as("n"))
      val bi = toks.select(explode(expr(
          "zip_with(slice(ts, 1, size(ts)-1), slice(ts, 2, size(ts)-1), " +
            "(x, y) -> struct(x AS w1, y AS w2))")).as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 10)
      bi.join(uni.select(col("w").as("w1"), col("c1").as("ca")), "w1")
        .join(uni.select(col("w").as("w2"), col("c1").as("cb")), "w2")
        .crossJoin(nTok)
        .select(col("w1"), col("w2"), col("c12"),
          round(log((col("c12") * col("n")) / (col("ca") * col("cb"))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(30)
    }),

    // tf-idf over the corpus: global top-50 scored (doc, token) pairs.
    // Deterministic: tf/df/N are integers, idf = ln(N/df) identical doubles.
    "q_tfidf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      tf.join(df_, "tok").crossJoin(nDocs)
        .select(col("doc_id"), col("tok"),
          round(col("tf") * log(col("n_docs") / col("df")), 4).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("tok"))
        .limit(50)
    }),

    // MERGE (upsert + insert + delete) into a partitioned keyed store,
    // rewriting ONLY the touched partitions (graft.storage.MergeStore):
    // the CDC batch updates/inserts/deletes orders in TWO of the five
    // o_orderpriority partitions; the other three are never read or
    // rewritten (MergeSpec pins their files byte-stable). The read-back
    // aggregate certifies all three MERGE arms against a pure-SQL oracle.
    // Arithmetic is oracle-exact by construction: +1.0 on a 2-decimal
    // double and integer-cent sums, no cross-engine rounding modes.
    "q_merge_upsert" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_merge")
        .toString + "/orders_store"
      graft.storage.MergeStore.write(orders, dir, "o_orderpriority")
      graft.storage.MergeStore.merge(s, dir, mergeCdcBatch(orders),
        "o_orderpriority", Seq("o_orderkey"), deleteCol = Some("_deleted"))
      mergeAgg(graft.storage.MergeStore.read(s, dir))
        .orderBy(col("o_orderpriority"))
    }),

    // Table profiling (the ANALYZE/data-quality-dashboard shape): per
    // column, rows/nulls/exact-distincts/min/max — ONE scan for the whole
    // profile. The five count(DISTINCT)s plan as a single Expand pass
    // (5× row multiply, one shuffle) rather than five jobs; min/max cast
    // to string AFTER aggregating on the native type, so numeric columns
    // profile numerically. At 100 TB swap count_distinct for
    // approx_count_distinct per column — same plan shape, no Expand.
    "q_profile_table" -> ((s, d) =>
      graft.operators.Profile.profile(t(s, d, "documents"))),

    // Versioned MERGE with TIME TRAVEL (graft.storage.SnapshotStore): the
    // same three-arm CDC batch as q_merge_upsert lands as snapshot v2 via
    // one manifest CAS, and snapshot v1 stays byte-readable afterwards —
    // the gate aggregates BOTH versions, so a hash match certifies
    // snapshot isolation (v1 unchanged by the merge) AND the merged v2 in
    // one oracle.
    "q_merge_snapshot" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_snap")
        .toString + "/orders_snap"
      graft.storage.SnapshotStore.write(orders, dir, "o_orderpriority")
      graft.storage.SnapshotStore.merge(s, dir, mergeCdcBatch(orders),
        "o_orderpriority", Seq("o_orderkey"), deleteCol = Some("_deleted"))
      def agg(v: Int) =
        mergeAgg(graft.storage.SnapshotStore.read(s, dir, Some(v)))
          .withColumn("version", lit(v))
      agg(1).unionByName(agg(2))
        .orderBy(col("version"), col("o_orderpriority"))
    }),

    // Incremental CHANGES read between two snapshot versions (the Delta
    // CDF shape): the manifest diff prunes the scan to the partitions the
    // merge rewrote, and identical copied-over rows cancel in one keyed
    // full-outer join, so the feed costs O(touched partitions), not
    // O(store). The full row-level feed — insert / delete / both update
    // images — is hash-matched against a relational diff of the base vs
    // merged relations in DuckDB (cents-cast totalprice keeps the
    // integer-hash discipline; the raw double also survives, but why risk
    // it).
    "q_snapshot_changes" -> ((s, d) => {
      val dir = snapFixture(s, d)
      graft.storage.SnapshotStore.changes(s, dir, 1, 2, Seq("o_orderkey"))
        .select(col("_change_type"), col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("_change_type"), col("o_orderkey"))
    }),

    // Version catalog (the Iceberg "snapshots" metadata table): one row
    // per retained version with manifest partition count + footer-only
    // row count — the "what exactly is in this store and since when"
    // observability query; also SQL-reachable as
    // graft_snapshot(path, 'history'). `committed_at` is wall-clock (not
    // oracle-expressible raw), so the gate pins its CONTRACT instead:
    // present on every row and strictly increasing with version (the
    // monotonic-stamp guarantee AS OF resolution rests on).
    "q_snapshot_history" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("version"))
      graft.storage.SnapshotStore.history(s, snapFixture(s, d))
        .withColumn("ts_monotonic",
          col("committed_at").isNotNull && (col("committed_at") >
            coalesce(lag(col("committed_at"), 1).over(w),
              lit(Long.MinValue))))
        .drop("committed_at")
        .orderBy(col("version"))
    }),

    // TIMESTAMP AS OF time travel (Delta/Iceberg public semantics,
    // re-derived on the `_op-<v>` stamps): resolve "newest version
    // committed at or before ts" at three probes straddling the merge
    // commit — AT v1's stamp and one millisecond BEFORE v2's both see the
    // pre-merge relation (strictly-increasing stamps make the boundary
    // exact), AT v2's stamp sees the post-merge one. A timestamp older
    // than retention fails loud (SnapshotSpec pins that contract); also
    // SQL-reachable as graft_snapshot(path, 'ts:<epoch-millis|iso>').
    "q_snapshot_asof" -> ((s, d) => {
      val dir = snapFixture(s, d)
      val t1 = graft.storage.SnapshotStore.committedAtOf(s, dir, 1).get
      val t2 = graft.storage.SnapshotStore.committedAtOf(s, dir, 2).get
      def slice(ts: Long, probe: String) =
        graft.storage.SnapshotStore.readAsOf(s, dir, ts)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"))
          .select(lit(probe).as("probe"), col("o_orderpriority"),
            col("n_orders"), col("sum_cents"))
      slice(t1, "at_v1")
        .unionAll(slice(t2 - 1, "before_v2"))
        .unionAll(slice(t2, "at_v2"))
        .orderBy(col("probe"), col("o_orderpriority"))
    }),

    // Incremental view maintenance: a materialized per-priority SUM/COUNT
    // rollup is refreshed by folding the CHANGES feed into the prior
    // aggregate (graft.operators.Ivm) — never re-reading the base. The
    // refreshed rollup hash-matches a from-scratch GROUP BY over the
    // merged relation, which is exactly the IVM correctness claim: delta
    // fold ≡ recompute.
    "q_rollup_incremental" -> ((s, d) => {
      val dir = snapFixture(s, d)
      val cents = round(col("o_totalprice") * 100).cast("long")
      val prior = graft.storage.SnapshotStore.read(s, dir, Some(1))
        .groupBy(col("o_orderpriority"))
        .agg(sum(cents).as("sum_cents"), count(lit(1)).as("n_orders"))
      val feed = graft.storage.SnapshotStore.changes(s, dir, 1, 2,
        Seq("o_orderkey"))
      graft.operators.Ivm.applyDelta(prior, feed, Seq("o_orderpriority"),
        Seq("sum_cents" -> cents), "n_orders")
        .orderBy(col("o_orderpriority"))
    }),

    // IVM over a materialized ROLLUP with derived AVG: the prior is a
    // rollup(priority, status) SUM/COUNT materialization (grouping_id
    // disambiguates rolled-up NULLs from real NULL group values); ONE
    // rollup pass over the changes feed folds the delta into every
    // grouping set, and AVG is derived from the maintained SUM/COUNT at
    // read time — no extra state. Hash-matched against a from-scratch
    // GROUP BY ROLLUP over the merged relation: delta fold ≡ recompute,
    // now across grouping sets.
    "q_rollup_incremental_avg" -> ((s, d) => {
      val dir = snapFixture(s, d)
      val cents = round(col("o_totalprice") * 100).cast("long")
      val prior = graft.storage.SnapshotStore.read(s, dir, Some(1))
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(cents).as("sum_cents"), count(lit(1)).as("n_orders"))
      val feed = graft.storage.SnapshotStore.changes(s, dir, 1, 2,
        Seq("o_orderkey"))
      graft.operators.Ivm.applyDeltaRollup(prior, feed,
        Seq("o_orderpriority", "o_orderstatus"),
        Seq("sum_cents" -> cents), "n_orders", "gid")
        .withColumn("avg_cents",
          round(col("sum_cents") / col("n_orders"), 4))
        .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }),

    // APPEND fast path + per-partition compaction on the snapshot store
    // (graft.storage.SnapshotStore.append/compactPartitions — the Iceberg
    // "rewrite data files" analog): v1 = a third of orders, v2/v3 append
    // the other thirds O(batch) (touched partitions accumulate dir LISTS,
    // nothing rewritten), v4 compacts every multi-dir partition back to
    // one dir via the manifest CAS. The gate aggregates ALL FOUR
    // versions: v2/v3 certify append visibility + isolation, and
    // v4 == v3 in the same hashed artifact IS the pure-layout proof
    // (compaction changed bytes on disk, not one row). SnapshotSpec
    // pins the layout side (dir counts 3 → 1).
    "q_compact_store" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_cstore")
        .toString + "/orders_app"
      graft.storage.SnapshotStore.writeVersions(orders,
        when(col("o_orderkey") % 3 === 1, 0)
          .when(col("o_orderkey") % 3 === 2, 1).otherwise(2),
        3, dir, "o_orderpriority")
      graft.storage.SnapshotStore.compactPartitions(s, dir,
        "o_orderpriority")
      def agg(v: Int) =
        mergeAgg(graft.storage.SnapshotStore.read(s, dir, Some(v)))
          .withColumn("version", lit(v))
      agg(1).unionByName(agg(2)).unionByName(agg(3)).unionByName(agg(4))
        .orderBy(col("version"), col("o_orderpriority"))
    }),

    // ADDITIVE schema evolution at the STORE level (the shards-written-
    // years-apart reality; file-level counterpart: q_source_evolution):
    // v1 holds odd orders WITHOUT o_orderstatus, the appended generation
    // adds the column, and the head read resolves the union schema with
    // NULL for legacy rows — count(o_orderstatus) vs count(*) is the
    // NULL-semantics certificate, hash-matched against a CASE-gated
    // oracle over the original table.
    "q_snapshot_evolve" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_evo")
        .toString + "/orders_evo"
      graft.storage.SnapshotStore.write(
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        dir, "o_orderpriority")
      graft.storage.SnapshotStore.append(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"), col("o_orderstatus")),
        dir, "o_orderpriority")
      graft.storage.SnapshotStore.read(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderstatus")).as("n_status"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("o_orderpriority"))
    }),

    // The SEGMENTED manifest tier end-to-end under the oracle gate (r13;
    // scale rationale in SnapshotStore's manifest-tier comment — flat
    // manifests parse linearly in partition count, measured 13.3x from
    // 10k to 100k entries): the threshold is forced tiny so this
    // 5-partition store exercises the full segment code path — segmented
    // write, touched-bucket merge, append, bucket-pruned readPartitions —
    // and every version's content must still hash-match the relational
    // oracle. Versions 1-3 read whole; slice 4 is the PRUNED read of two
    // named partitions (the readPartitions manifest-bucket path).
    "q_snapshot_segmented" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_segq")
        .toString + "/orders_seg"
      val Thresh = "graft.snapshot.segmentThreshold"
      val prior = sys.props.get(Thresh)
      sys.props(Thresh) = "4"
      try {
        def third(r: Int) = orders.filter(col("o_orderkey") % 3 === r)
        graft.storage.SnapshotStore.write(third(1), dir, "o_orderpriority")
        graft.storage.SnapshotStore.merge(s, dir, third(2),
          "o_orderpriority", Seq("o_orderkey"))
        graft.storage.SnapshotStore.append(third(0), dir, "o_orderpriority")
        // the row's claim is the SEGMENTED path — fail loudly if the
        // store silently stayed flat
        (1 to 3).foreach { v =>
          require(graft.storage.SnapshotStore.readHead(s, dir, v)
            .isInstanceOf[graft.storage.SnapshotStore.SegHead],
            s"q_snapshot_segmented: version $v is not segmented")
        }
        def agg(v: Int) =
          mergeAgg(graft.storage.SnapshotStore.read(s, dir, Some(v)))
            .withColumn("slice", lit(v))
        val pruned = mergeAgg(graft.storage.SnapshotStore.readPartitions(
            s, dir, Seq("1-URGENT", "5-LOW")))
          .withColumn("slice", lit(4))
        agg(1).unionByName(agg(2)).unionByName(agg(3)).unionByName(pruned)
          .orderBy(col("slice"), col("o_orderpriority"))
      } finally prior match {
        case Some(v) => sys.props(Thresh) = v
        case None => sys.props -= Thresh
      }
    }),

    // Column RENAME as a metadata-only commit (r13; the evolution verb a
    // multi-year store receives first — the Iceberg field-ID idea re-
    // expressed as a physical->logical mapping, SnapshotStore's
    // logical-name layer): v1 writes even orders with o_totalprice,
    // graft_rename (the SQL verb) renames it to `price`, and the merge
    // that follows uses the NEW name while its files keep the stable
    // physical one. Slice 1 time-travels to v1 and must read under the
    // OLD name; slice 3 reads the head under the new name; both aggregate
    // to the same aliased shape for one relational oracle.
    "q_snapshot_rename" -> ((s, d) => {
      val orders = t(s, d, "orders")
      graft.plans.AsOf.register(s)
      val dir = java.nio.file.Files.createTempDirectory("graft_renq")
        .toString + "/orders_ren"
      graft.storage.SnapshotStore.write(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        dir, "o_orderpriority")
      val r = s.sql(
        s"SELECT * FROM graft_rename('$dir', 'o_totalprice', 'price')")
        .collect()
      require(r.length == 1 && r(0).getString(0) == "rename" &&
        r(0).getLong(3) == 2L, s"unexpected rename receipt: ${r.toSeq}")
      graft.storage.SnapshotStore.merge(s, dir,
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice").as("price")),
        "o_orderpriority", Seq("o_orderkey"))
      val v1 = graft.storage.SnapshotStore.read(s, dir, Some(1))
      val head = graft.storage.SnapshotStore.read(s, dir)
      require(v1.columns.contains("o_totalprice") &&
        !v1.columns.contains("price"),
        "time travel must read v1 under v1's names")
      require(head.columns.contains("price") &&
        !head.columns.contains("o_totalprice"),
        "head must read under the renamed name")
      def agg(df: org.apache.spark.sql.DataFrame, priceCol: String,
              slice: Int) =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col(priceCol) * 100).cast("long")).as("sum_cents"))
          .withColumn("slice", lit(slice))
      agg(v1, "o_totalprice", 1).unionByName(agg(head, "price", 3))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Store maintenance through PURE SQL (r13; the operations half of
    // R13's "regular SQL syntax", README.md:7,32): compact and rollback
    // run as CALL-style TVFs — their one-row receipts are require-pinned
    // here (counts and head versions are deterministic), and the oracle
    // hash-checks the CONTENT the verbs leave behind: after two appends,
    // graft_compact collapses every partition's dir list, then
    // graft_rollback returns the store to version 2, so the head must
    // read as exactly thirds 1+2 of orders.
    "q_maintain_sql" -> ((s, d) => {
      val orders = t(s, d, "orders")
      graft.plans.AsOf.register(s)
      val dir = java.nio.file.Files.createTempDirectory("graft_mntq")
        .toString + "/orders_mnt"
      graft.storage.SnapshotStore.writeVersions(orders,
        when(col("o_orderkey") % 3 === 1, 0)
          .when(col("o_orderkey") % 3 === 2, 1).otherwise(2),
        3, dir, "o_orderpriority")
      val c = s.sql(
        s"SELECT * FROM graft_compact('$dir', 'o_orderpriority')").collect()
      require(c.length == 1 && c(0).getString(0) == "compact" &&
        c(0).getLong(2) == 5L && c(0).getLong(3) == 4L,
        s"unexpected compact receipt: ${c.toSeq}")
      val r = s.sql(
        s"SELECT * FROM graft_rollback('$dir', '2')").collect()
      require(r.length == 1 && r(0).getString(0) == "rollback" &&
        r(0).getLong(2) == 2L && r(0).getLong(3) == 5L,
        s"unexpected rollback receipt: ${r.toSeq}")
      mergeAgg(graft.storage.SnapshotStore.read(s, dir))
        .orderBy(col("o_orderpriority"))
    }),

    // Named TAGS (r13; Iceberg tag semantics): an immutable ref pins a
    // version AGAINST RETENTION — the "which exact corpus trained run N,
    // reproducibly, months later" lever. The fixture tags v2 through SQL,
    // expires everything but the head with a zero age floor, then
    // require-pins that v1 is GONE while tagged v2 still reads; slice 2
    // reads by 'tag:gold', slice 3 the head — one relational oracle.
    "q_snapshot_tag" -> ((s, d) => {
      val orders = t(s, d, "orders")
      graft.plans.AsOf.register(s)
      val dir = java.nio.file.Files.createTempDirectory("graft_tagq")
        .toString + "/orders_tag"
      // version chain v1 = keys%3==1, v2 += %3==2, v3 += %3==0 in ONE
      // source pass (writeVersions). The old chain built v2 with a MERGE,
      // but the mod-3 key classes are disjoint, so the merge was an
      // append content-wise — the merge path keeps its dedicated gates
      // (q_merge_snapshot, q_snapshot_segmented); this gate's claim is
      // tag-vs-retention semantics, which see identical version contents.
      graft.storage.SnapshotStore.writeVersions(orders,
        when(col("o_orderkey") % 3 === 1, 0)
          .when(col("o_orderkey") % 3 === 2, 1).otherwise(2),
        3, dir, "o_orderpriority")
      val r = s.sql(s"SELECT * FROM graft_tag('$dir', 'gold', '2')").collect()
      require(r.length == 1 && r(0).getString(0) == "tag" &&
        r(0).getLong(2) == 2L && r(0).getLong(3) == 3L,
        s"unexpected tag receipt: ${r.toSeq}")
      graft.storage.SnapshotStore.expire(s, dir, keep = 1, minAgeMs = 0L)
      val left = new java.io.File(dir).listFiles().map(_.getName).toSet
      require(!left.contains("_manifest-1") && left.contains("_manifest-2"),
        s"expire must drop v1 and retain tagged v2; left: $left")
      def agg(df: org.apache.spark.sql.DataFrame, slice: Int) =
        mergeAgg(df).withColumn("slice", lit(slice))
      agg(s.sql(s"SELECT * FROM graft_snapshot('$dir', 'tag:gold')"), 2)
        .unionByName(agg(graft.storage.SnapshotStore.read(s, dir), 3))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Column DROP as a metadata-only commit (r13; the logical-name
    // layer's second verb): v1 writes even orders WITH o_orderstatus, the SQL
    // verb drops it, the merge that follows writes without it. Slice 1
    // time-travels to v1 and must still read the column (its non-null
    // count is part of the hash), slice 3 reads the pruned head; schema
    // facts are require-pinned, values hash-gated.
    "q_snapshot_drop" -> ((s, d) => {
      val orders = t(s, d, "orders")
      graft.plans.AsOf.register(s)
      val dir = java.nio.file.Files.createTempDirectory("graft_dropq")
        .toString + "/orders_drop"
      graft.storage.SnapshotStore.write(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"), col("o_orderstatus")),
        dir, "o_orderpriority")
      val r = s.sql(s"SELECT * FROM graft_drop_column('$dir', 'o_orderstatus')")
        .collect()
      require(r.length == 1 && r(0).getString(0) == "drop_column" &&
        r(0).getLong(3) == 2L, s"unexpected drop receipt: ${r.toSeq}")
      graft.storage.SnapshotStore.merge(s, dir,
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        "o_orderpriority", Seq("o_orderkey"))
      val v1 = graft.storage.SnapshotStore.read(s, dir, Some(1))
      val head = graft.storage.SnapshotStore.read(s, dir)
      require(v1.columns.contains("o_orderstatus") &&
        !head.columns.contains("o_orderstatus"),
        "v1 must keep the column, the head must not")
      def agg(df: org.apache.spark.sql.DataFrame,
              clerk: org.apache.spark.sql.Column, slice: Int) =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            clerk.as("n_status"))
          .withColumn("slice", lit(slice))
      agg(v1, count(col("o_orderstatus")), 1)
        .unionByName(agg(head, max(lit(-1L)), 3))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Manifest-level DATA SKIPPING (r13): the store records per-gen
    // min/max bounds for declared stats columns (the Iceberg file-stats
    // argument at gen granularity), and readWhere prunes gens from the
    // MANIFEST alone — no listing, no footer probe. The fixture appends
    // key-QUARTILE chunks (value-disjoint ranges, the time-sliced
    // log-ingest shape), queries the middle half, and require-pins that
    // the scan opened exactly the two overlapping gens of the four.
    "q_snapshot_skip" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_skipq")
        .toString + "/orders_skip"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q2, q3) = (mx / 4, mx / 2, 3 * mx / 4)
      graft.storage.SnapshotStore.writeVersions(orders,
        quartileSlices(k, q1, q2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      val pruned = graft.storage.SnapshotStore.readWhere(s, dir,
        k > q1 && k <= q3)
      // the row's claim, pinned: 2 of the 4 gens opened
      def gens(files: Array[String]) =
        files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet
      require(gens(pruned.inputFiles).size == 2 &&
        gens(graft.storage.SnapshotStore.read(s, dir).inputFiles).size == 4,
        "q_snapshot_skip: stats pruning must open exactly 2 of 4 gens")
      mergeAgg(pruned).orderBy(col("o_orderpriority"))
    }),

    // BRANCHES — write-audit-publish (r14): the corpus-gate shape every
    // training-data team runs. Candidate rows stage on a branch (real
    // gens in the store's data/, metadata-only staging), the AUDIT reads
    // the tip while the main head stays untouched, and publish fast-
    // forwards the whole candidate set in ONE atomic commit (the
    // manifest CAS is the fast-forward guard). Slices: 1 = the head
    // DURING staging (must still be v1), 2 = the branch tip (the audit),
    // 3 = the post-publish head. Head-stability and publish-version
    // require-pinned.
    "q_snapshot_branch" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_branchq")
        .toString + "/orders_branch"
      graft.storage.SnapshotStore.write(orders, dir, "o_orderpriority")
      graft.storage.SnapshotStore.branchCreate(s, dir, "staging")
      graft.storage.SnapshotStore.append(
        orders.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)),
        dir, "o_orderpriority", target = Dml.Branch("staging"))
      require(graft.storage.SnapshotStore.headVersion(s, dir).contains(1),
        "q_snapshot_branch: staged writes must not advance the head")
      val during = graft.storage.SnapshotStore.read(s, dir)
      val audit = graft.storage.SnapshotStore.read(s, dir,
        target = Dml.Branch("staging"))
      val v = graft.storage.SnapshotStore.publishBranch(s, dir, "staging")
      require(v == 2, s"q_snapshot_branch: publish must fast-forward to 2")
      val after = graft.storage.SnapshotStore.read(s, dir)
      Seq((during, 1), (audit, 2), (after, 3))
        .map { case (df, slice) =>
          mergeAgg(df).withColumn("slice", lit(slice)) }
        .reduce(_ unionByName _)
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Metadata-only safe-widening RETYPE (r14): the store's evolution
    // matrix is add/rename/drop/WIDEN — an int key outgrowing 2^31 is a
    // when, not an if, at 100 TB. v1 stores the key as INT; the retype
    // commit widens the recorded schema only (no data rewritten; the
    // parquet reader upcasts old gens at scan time); the post-retype
    // append lands keys past 2^31. Slice 1 time-travels to the narrow
    // version, slice 3 reads the wide head — both require-pinned to
    // their schema types.
    "q_snapshot_retype" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_retypeq")
        .toString + "/orders_retype"
      graft.storage.SnapshotStore.write(
        orders.withColumn("o_orderkey", col("o_orderkey").cast("int")),
        dir, "o_orderpriority")
      graft.storage.SnapshotStore.retypeColumn(s, dir, "o_orderkey",
        org.apache.spark.sql.types.LongType)
      graft.storage.SnapshotStore.append(
        orders.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey",
            col("o_orderkey") + lit(10000000000L)),
        dir, "o_orderpriority")
      val v1 = graft.storage.SnapshotStore.read(s, dir, Some(1))
      val head = graft.storage.SnapshotStore.read(s, dir)
      require(v1.schema("o_orderkey").dataType ==
        org.apache.spark.sql.types.IntegerType &&
        head.schema("o_orderkey").dataType ==
          org.apache.spark.sql.types.LongType,
        "q_snapshot_retype: v1 must read narrow, the head wide")
      def agg(df: org.apache.spark.sql.DataFrame, slice: Int) =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey").cast("long")).as("sum_key"),
            min(col("o_orderkey").cast("long")).as("min_key"),
            max(col("o_orderkey").cast("long")).as("max_key"))
          .withColumn("slice", lit(slice))
      agg(v1, 1).unionByName(agg(head, 3))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // STRING stats bounds (r14): the reference's own table is 12-of-16
    // String columns (`/root/reference/nginx.click:1`) — a real user's
    // first skip predicate is as likely `verb = 'GET'` or a URL prefix
    // as a time range. Bounds follow Iceberg's public truncate(N)
    // discipline (prefix lower bound; increment-last-code-point upper
    // bound) and compare in UTF8 byte order. The fixture appends
    // key-quartile chunks of a zero-padded string key, then require-pins
    // BOTH string rungs: a range predicate opens 2 of 4 gens, a
    // pure-prefix LIKE opens 1.
    "q_snapshot_skip_str" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_skipstr")
        .toString + "/orders_skip_str"
      val k = col("o_orderkey")
      val df = orders.withColumn("skey", format_string("k%08d", k))
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q2, q3) = (mx / 4, mx / 2, 3 * mx / 4)
      def b(n: Long) = f"k$n%08d"
      graft.storage.SnapshotStore.writeVersions(df,
        quartileSlices(k, q1, q2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("skey"))
      val ranged = graft.storage.SnapshotStore.readWhere(s, dir,
        col("skey") > b(q1) && col("skey") <= b(q3))
      val prefixed = graft.storage.SnapshotStore.readWhere(s, dir,
        col("skey").like("k000000%")) // keys 1..99: inside gen 1 only
      def gens(files: Array[String]) =
        files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet
      require(gens(ranged.inputFiles).size == 2 &&
        gens(prefixed.inputFiles).size == 1 &&
        gens(graft.storage.SnapshotStore.read(s, dir).inputFiles).size == 4,
        "q_snapshot_skip_str: string bounds must prune 2-of-4 (range) " +
          "and 1-of-4 (prefix)")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            min(col("skey")).as("min_sk"), max(col("skey")).as("max_sk"))
          .withColumn("slice", lit(slice))
      agg(ranged, 1).unionByName(agg(prefixed, 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Metadata-only COUNT (r15): every v2 stats blob carries per-gen row
    // counts, so a count whose predicate the tri-state evaluator proves
    // ALL-MATCH or NO-MATCH per gen is answered from the MANIFEST — no
    // file listed, no footer probed (the Iceberg/Delta metadata-
    // aggregate argument; at a 1M-partition store even parquet's own
    // footer-count shortcut still pays the full listing). The full count
    // and the quartile-aligned range count require-pin ZERO scanned
    // dirs; the off-boundary count exercises the mixed path (boundary
    // gens scanned, the rest metadata) and must still be exact.
    "q_snapshot_count" -> ((s, d) => {
      import s.implicits._
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_countq")
        .toString + "/orders_count"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      graft.storage.SnapshotStore.writeVersions(orders,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      val (full, fullScan) = graft.storage.SnapshotStore
        .countWhereDetailed(s, dir, lit(true))
      val (mid, midScan) = graft.storage.SnapshotStore
        .countWhereDetailed(s, dir, k > q1 && k <= q3)
      val (off, _) = graft.storage.SnapshotStore
        .countWhereDetailed(s, dir, k > q1 + 10 && k <= q3)
      require(fullScan == 0 && midScan == 0,
        "q_snapshot_count: the full and quartile-aligned counts must be " +
          s"pure metadata (scanned $fullScan/$midScan dirs)")
      Seq(("full", full), ("offset", off), ("quartiles", mid))
        .toDF("label", "cnt").orderBy(col("label"))
    }),

    // Metadata-only MIN/MAX (r15): countWhere's sibling — an ALL-MATCH
    // gen's exact-domain bounds (integral/floating/date/timestamp) ARE
    // its min/max over non-null values, so the classic dashboard probe
    // ("key range? price range? time span?") is answered from the
    // manifest. Both slices require-pin ZERO scanned dirs: slice 1 is
    // the whole-store aggregate, slice 2 a gen-aligned range.
    "q_snapshot_minmax" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_minmaxq")
        .toString + "/orders_minmax"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      // o_longtag is a DERIVED >16-code-point string (priority + status
      // + zero-padded key): its bounds TRUNCATE, so it pins the
      // scan-only path; o_orderstatus (1 cp) pins the exact-bound
      // metadata path (grammar v3)
      val tagged = orders.withColumn("o_longtag",
        concat(col("o_orderpriority"), lit("-"), col("o_orderstatus"),
          lit("-"), lpad(k.cast("string"), 12, "0")))
      graft.storage.SnapshotStore.writeVersions(tagged,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority",
        statsCols = Seq("o_orderkey", "o_totalprice", "o_orderdate",
          "o_orderstatus", "o_longtag"))
      val cols = Seq("o_orderkey", "o_totalprice", "o_orderdate",
        "o_orderstatus")
      val (full, fullScan) = graft.storage.SnapshotStore
        .minMaxWhereDetailed(s, dir, cols, lit(true))
      val (mid, midScan) = graft.storage.SnapshotStore
        .minMaxWhereDetailed(s, dir, cols, k > q1 && k <= q3)
      require(fullScan == 0 && midScan == 0,
        "q_snapshot_minmax: both aggregates (incl. the exact string " +
          s"bounds) must be pure metadata (scanned $fullScan/$midScan)")
      val (tag, tagScan) = graft.storage.SnapshotStore
        .minMaxWhereDetailed(s, dir, Seq("o_longtag"), lit(true))
      val totalDirs = graft.storage.SnapshotStore.readManifest(s, dir,
        graft.storage.SnapshotStore.headVersion(s, dir).get)
        .values.map(_.size).sum
      require(tagScan == totalDirs,
        s"q_snapshot_minmax: truncated string bounds must stay " +
          s"scan-only (scanned $tagScan of $totalDirs dirs)")
      // one scanned row, carried as literals (a 1-row cross join would
      // plan a nested-loop join for nothing)
      val tagRow = tag.collect()(0)
      def shape(df: org.apache.spark.sql.DataFrame, slice: Int) =
        df.select(col("o_orderkey_min").as("min_key"),
          col("o_orderkey_max").as("max_key"),
          col("o_totalprice_min").as("min_price"),
          col("o_totalprice_max").as("max_price"),
          col("o_orderdate_min").cast("date").as("min_date"),
          col("o_orderdate_max").cast("date").as("max_date"),
          col("o_orderstatus_min").as("min_status"),
          col("o_orderstatus_max").as("max_status"))
          .withColumn("slice", lit(slice))
          .withColumn("min_tag", lit(tagRow.getString(0)))
          .withColumn("max_tag", lit(tagRow.getString(1)))
      shape(full, 1).unionByName(shape(mid, 2)).orderBy(col("slice"))
    }),

    // Branch DML (r16) — the audit-FIX loop: a WAP audit that flags rows
    // no longer forces drop-and-restage; a Dml.Branch delete purges the
    // flagged candidate rows and a Dml.Branch update redacts in place,
    // each staged as the branch's next version with the same stats-
    // pruned planner as main-line DML (require-pinned: the fork gens
    // prove NoMatch from their blobs and are never opened; main's head
    // never moves until publish). Slices: 1 = the fixed audit tip,
    // 2 = main after publish (identical content — publish re-points).
    "q_snapshot_branch_dml" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_branchdmlq")
        .toString + "/orders_branch_dml"
      val k = col("o_orderkey")
      graft.storage.SnapshotStore.write(orders, dir, "o_orderpriority",
        statsCols = Seq("o_orderkey"))
      graft.storage.SnapshotStore.branchCreate(s, dir, "fixup")
      graft.storage.SnapshotStore.append(
        orders.filter(k % 101 === 0)
          .withColumn("o_orderkey", k + lit(10000000L)),
        dir, "o_orderpriority", target = Dml.Branch("fixup"))
      val del = graft.storage.SnapshotStore.dml(
        s, dir, Dml.Delete,
        k >= 10000000L && col("o_totalprice") < lit(50000.0),
        Dml.Branch("fixup"))
      require(del.droppedDirs == 0 && del.keptDirs > 0,
        s"q_snapshot_branch_dml: fork slices must prove NoMatch from " +
          s"their blobs and carry forward unread, got $del")
      val upd = graft.storage.SnapshotStore.dml(
        s, dir,
        Dml.Update(Seq("o_totalprice" -> (col("o_totalprice") + lit(5.0)))),
        k >= 10000000L && k % 2 === 0, Dml.Branch("fixup"))
      require(upd.version == del.version + 1,
        s"q_snapshot_branch_dml: each fix stages one version, got $upd")
      require(graft.storage.SnapshotStore.headVersion(s, dir).contains(1),
        "q_snapshot_branch_dml: branch DML must never advance main")
      val audit = graft.storage.SnapshotStore.read(s, dir,
        target = Dml.Branch("fixup"))
      val a1 = mergeAgg(audit).withColumn("slice", lit(1))
      graft.storage.SnapshotStore.publishBranch(s, dir, "fixup")
      val a2 = mergeAgg(graft.storage.SnapshotStore.read(s, dir))
        .withColumn("slice", lit(2))
      a1.unionByName(a2).orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Branch REBASE (r15): the reference's own pipeline never stops
    // ingesting (`/root/reference/README.md:29` — access.log -> rsyslog
    // -> clickhouse), so on a live store every WAP audit window longer
    // than main's commit interval ends in a refused publish. Rebase
    // re-points the staged chain's fork base to the new head — a pure
    // METADATA rewrite (staged files record exactly which gens the
    // branch added; nothing is re-staged) sound under the
    // disjoint-partitions contract. Slices: 1 = the head after main
    // moved (the branch's publish is refused here — require-pinned),
    // 2 = the rebased audit tip (main's commits + the candidate corpus),
    // 3 = the published head. Rebase-to-v2 and publish-to-v3 pinned.
    "q_snapshot_rebase" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_rebaseq")
        .toString + "/orders_rebase"
      val k = col("o_orderkey")
      graft.storage.SnapshotStore.write(orders, dir, "o_orderpriority")
      graft.storage.SnapshotStore.branchCreate(s, dir, "staging")
      graft.storage.SnapshotStore.append(
        orders.filter(k % 101 === 0)
          .withColumn("o_orderkey", k + lit(10000000L))
          .withColumn("o_orderpriority", lit("9-CANDIDATE")),
        dir, "o_orderpriority", target = Dml.Branch("staging"))
      // main keeps ingesting while the audit runs — the WAP reality
      graft.storage.SnapshotStore.append(
        orders.filter(k % 97 === 0)
          .withColumn("o_orderkey", k + lit(20000000L)),
        dir, "o_orderpriority")
      val refused =
        try { graft.storage.SnapshotStore.publishBranch(s, dir, "staging")
              false }
        catch { case _: IllegalStateException => true }
      require(refused,
        "q_snapshot_rebase: publish must refuse under a moved head")
      val during = graft.storage.SnapshotStore.read(s, dir)
      require(graft.storage.SnapshotStore.rebaseBranch(s, dir,
        "staging") == 2, "q_snapshot_rebase: rebase must land on v2")
      val audit = graft.storage.SnapshotStore.read(s, dir,
        target = Dml.Branch("staging"))
      require(graft.storage.SnapshotStore.publishBranch(s, dir,
        "staging") == 3, "q_snapshot_rebase: publish must commit v3")
      val after = graft.storage.SnapshotStore.read(s, dir)
      Seq((during, 1), (audit, 2), (after, 3))
        .map { case (df, slice) =>
          mergeAgg(df).withColumn("slice", lit(slice)) }
        .reduce(_ unionByName _)
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // NULL-count stats (r15): the reference's parse-failure path (R4)
    // MANUFACTURES nulls — corrupt lines leave fields unset — so "find
    // the corrupt rows" (`IS NOT NULL` / `IS NULL` on a sometimes-set
    // field) is a first-week predicate on any log table. Every stats
    // blob now carries per-column null/row counts (Iceberg's
    // null_value_counts, re-derived): IS NULL prunes null-free gens,
    // IS NOT NULL prunes all-NULL gens. The fixture stages a null-free
    // gen, an all-NULL gen and a mixed gen; both rungs require-pin
    // 2-of-3 gens opened.
    "q_snapshot_skip_null" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_skipnull")
        .toString + "/orders_skip_null"
      val k = col("o_orderkey")
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderstatus"))
      graft.storage.SnapshotStore.writeVersions(
        base.withColumn("probe",
          when(k % 3 === 0, col("o_orderstatus"))
            .when(k % 3 === 1, lit(null).cast("string"))
            .otherwise(when(k % 5 === 0, lit(null))
              .otherwise(col("o_orderstatus")))),
        pmod(k, lit(3)).cast("int"), 3,
        dir, "o_orderpriority", statsCols = Seq("probe"))
      val set = graft.storage.SnapshotStore.readWhere(s, dir,
        col("probe").isNotNull)
      val unset = graft.storage.SnapshotStore.readWhere(s, dir,
        col("probe").isNull)
      def gens(files: Array[String]) =
        files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet
      require(gens(set.inputFiles).size == 2 &&
        gens(unset.inputFiles).size == 2 &&
        gens(graft.storage.SnapshotStore.read(s, dir).inputFiles).size == 3,
        "q_snapshot_skip_null: null counts must prune the all-NULL gen " +
          "under IS NOT NULL and the null-free gen under IS NULL")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            count(col("probe")).as("n_probe"))
          .withColumn("slice", lit(slice))
      agg(set, 1).unionByName(agg(unset, 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Predicate DELETE (r15): the Delta/Iceberg copy-on-write DML shape
    // re-derived on the store's stats — "purge the bad crawl date" /
    // the right-to-be-forgotten delete, where enumerating keys first
    // (merge's contract) would mean a full scan just to build the
    // batch. The tri-state evaluator decides per (partition, gen)
    // slice: the gen-aligned delete drops its slices as PURE METADATA
    // (require-pinned: zero copy-on-write), the off-boundary delete
    // touches only the one gen that straddles it (require-pinned: ≤5
    // of 20 slices). History is never rewritten: slice 2 time-travels
    // to the pre-delete version and sees everything.
    "q_snapshot_delete" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_deleteq")
        .toString + "/orders_delete"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      graft.storage.SnapshotStore.writeVersions(orders,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      val aligned = graft.storage.SnapshotStore.dml(
        s, dir, Dml.Delete, k > q1 && k <= mx / 2)
      require(aligned.rewrittenDirs == 0 && aligned.droppedDirs > 0,
        "q_snapshot_delete: the gen-aligned delete must be pure " +
          s"metadata, got $aligned")
      val straddle = graft.storage.SnapshotStore.dml(
        s, dir, Dml.Delete, k > q3 + 10)
      require(straddle.droppedDirs + straddle.rewrittenDirs <= 5,
        "q_snapshot_delete: the off-boundary delete must touch only " +
          s"the straddled gen's slices, got $straddle")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .withColumn("slice", lit(slice))
      agg(graft.storage.SnapshotStore.read(s, dir), 1)
        .unionByName(
          agg(graft.storage.SnapshotStore.read(s, dir, Some(4)), 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Predicate UPDATE (r15): `UPDATE store SET price = price * 2,
    // status = 'U' WHERE <gen-2-aligned range>` — copy-on-write
    // confined by the stats to the one gen the predicate can touch
    // (require-pinned: ≤5 of 20 slices rewritten, zero metadata
    // drops), every RHS evaluated against the PRE-update row, the
    // pre-update version intact under time travel (slice 2).
    "q_snapshot_update" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_updateq")
        .toString + "/orders_update"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      graft.storage.SnapshotStore.writeVersions(orders,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      val r = graft.storage.SnapshotStore.dml(s, dir,
        Dml.Update(Seq("o_totalprice" -> (col("o_totalprice") * 2),
          "o_orderstatus" -> lit("U"))),
        k > q1 && k <= mx / 2)
      require(r.rewrittenDirs <= 5 && r.droppedDirs == 0,
        "q_snapshot_update: copy-on-write must stay confined to the " +
          s"aligned gen's slices, got $r")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L))
              .as("n_updated"))
          .withColumn("slice", lit(slice))
      agg(graft.storage.SnapshotStore.read(s, dir), 1)
        .unionByName(
          agg(graft.storage.SnapshotStore.read(s, dir, Some(4)), 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Z-ORDER declared clustering (r16): 2-D box probes are the
    // dashboard staple ("this key range in this customer segment"), and
    // a lexicographic sort serves only its LEADING column — every file
    // spans the second dim's full range. The Morton-interleaved layout
    // keeps per-file footer bounds tight on BOTH dims: the gate builds a
    // z-ordered store and its lexicographic twin from the same rows,
    // require-pins that a second-dim box touches at most HALF the files
    // z-ordered where the twin's stripes intersect ALL of them, then
    // hash-matches the box aggregate (layout, never semantics).
    "q_snapshot_zorder" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val base = orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice")).withColumn("b", lit("all"))
      val cmx = orders.agg(max(col("o_custkey"))).head().getLong(0)
      def build(zorder: Boolean): String = {
        val dir = java.nio.file.Files.createTempDirectory(
          s"graft_zq$zorder").toString + "/st"
        s.conf.set("spark.sql.files.maxRecordsPerFile",
          math.max(64L, base.count() / 16).toString)
        try {
          if (!zorder)
            graft.storage.SnapshotStore.write(base, dir, "b",
              statsCols = Seq("o_orderkey", "o_custkey"),
              sortCols = Seq("o_orderkey"))
          else {
            graft.storage.SnapshotStore.write(base.limit(1), dir, "b",
              statsCols = Seq("o_orderkey", "o_custkey"))
            graft.storage.SnapshotStore.declareSortCols(s, dir,
              Seq("o_orderkey", "o_custkey"), zorder = true)
            graft.storage.SnapshotStore.deleteWhere(s, dir, lit(true))
            graft.storage.SnapshotStore.append(base, dir, "b")
          }
        } finally s.conf.unset("spark.sql.files.maxRecordsPerFile")
        dir
      }
      val zed = build(zorder = true)
      val lex = build(zorder = false)
      // the box: full key range, bottom 1/8 of the SECOND dim — the
      // probe a leading-column sort cannot serve at file grain
      val boxC = cmx / 8
      def touched(dir: String): (Int, Int) = {
        // per-file bounds as a distributed agg — the ~17-row result is
        // what crosses to the driver, never the full rows
        val byFile = graft.storage.SnapshotStore.read(s, dir)
          .groupBy(input_file_name().as("f"))
          .agg(min(col("o_custkey")).as("lo"))
          .collect()
        (byFile.count(_.getLong(1) <= boxC), byFile.length)
      }
      val (zt, ztot) = touched(zed)
      val (lt, ltot) = touched(lex)
      require(ztot >= 8 && ltot >= 8,
        s"q_snapshot_zorder: the file split must engage ($ztot/$ltot)")
      // all x-stripes but possibly the writer's small REMAINDER file
      // span the second dim (a tiny tail stripe can miss the bottom
      // eighth by chance — the layout claim is about the full stripes)
      require(lt >= ltot - 1,
        "q_snapshot_zorder: the lexicographic twin's x-stripes must " +
          s"span the second dim ($lt of $ltot)")
      require(zt * 2 <= ztot,
        "q_snapshot_zorder: the z-ordered layout must confine the " +
          s"second-dim box to a fraction of the files ($zt of $ztot)")
      def agg(dir: String, slice: Int) =
        graft.storage.SnapshotStore.readWhere(s, dir,
          col("o_custkey") <= boxC)
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .withColumn("slice", lit(slice))
      agg(zed, 1).unionByName(agg(lex, 2))
        .orderBy(col("slice"))
    }),

    // COMPOSITE partition keys (r17 — MergeTree's PARTITION BY (a, b) /
    // Iceberg's multi-field spec): partCol = "o_orderpriority,
    // o_orderstatus" partitions the store by the TUPLE; the key
    // everywhere stays one string (U+0001-joined %-escaped components),
    // so manifest grammar, buckets, merge residency and CDC are
    // untouched. Require-pins: a FULL-tuple probe opens only its
    // partition's files; a PARTIAL probe ("this status, any priority")
    // opens only that component's partitions; "count rows of priority X"
    // serves from METADATA (the key-restricted resolution consumes the
    // partition conjunct — no stats on the column needed); and a
    // partition-aligned composite delete drops as pure metadata. Slice 1
    // hash-checks content after the delete; slice 2 time-travels.
    "q_snapshot_composite" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_cpq")
        .toString + "/orders_cp"
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderstatus"), col("o_totalprice"))
      graft.storage.SnapshotStore.write(base, dir,
        "o_orderpriority,o_orderstatus", statsCols = Seq("o_orderkey"))
      val all = graft.storage.SnapshotStore.read(s, dir)
        .inputFiles.length
      val full = graft.storage.SnapshotStore.readWhere(s, dir,
        col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "F")
      val fullWant = base.filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") === "F").count()
      require(full.count() == fullWant && full.inputFiles.length * 5 <=
        all + 4,
        s"q_snapshot_composite: the full-tuple probe must confine to " +
          s"one partition's files (${full.inputFiles.length} of $all)")
      val part = graft.storage.SnapshotStore.readWhere(s, dir,
        col("o_orderstatus") === "F")
      require(part.inputFiles.length * 2 <= all + 1,
        s"q_snapshot_composite: the partial probe must open only its " +
          s"component's partitions (${part.inputFiles.length} of $all)")
      // metadata count with NO stats on the partition components: the
      // restricted resolution consumed the conjunct
      val (cnt, scanned) = graft.storage.SnapshotStore.countWhereDetailed(
        s, dir, col("o_orderpriority") === "2-HIGH")
      val cntWant = base.filter(col("o_orderpriority") === "2-HIGH")
        .count()
      require(cnt == cntWant && scanned == 0,
        s"q_snapshot_composite: a partition-conjunct count must serve " +
          s"from metadata, got ($cnt, $scanned) want ($cntWant, 0)")
      // partition-aligned delete: pure metadata, zero rewrites
      val del = graft.storage.SnapshotStore.dml(s, dir, Dml.Delete,
        col("o_orderpriority") === "5-LOW" && col("o_orderstatus") === "O")
      require(del.rewrittenDirs == 0 && del.droppedDirs >= 1,
        s"q_snapshot_composite: the aligned delete must drop as " +
          s"metadata, got $del")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"))
          .withColumn("slice", lit(slice))
      agg(graft.storage.SnapshotStore.read(s, dir), 1)
        .unionByName(
          agg(graft.storage.SnapshotStore.read(s, dir, Some(1)), 2))
        .orderBy(col("slice"), col("o_orderpriority"),
          col("o_orderstatus"))
    }),

    // The PARTITION CATALOG (r17 — "SHOW PARTITIONS", completing the
    // history/tags/branches/constraints catalog family): one row per
    // live partition — raw key, decoded components, field/file counts,
    // deletion-vector'd positions, and the exact LIVE row count wherever
    // every field's blob carries counts. One manifest resolve, no file
    // I/O (require-pinned: every row count is metadata-served even
    // through a MoR delete, whose position shows up in dv_rows).
    "q_snapshot_partitions" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_ptq")
        .toString + "/orders_pt"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      graft.storage.SnapshotStore.write(
        orders.select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice")),
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      graft.storage.SnapshotStore.dml(s, dir, Dml.Delete, k === mx,
        mode = Dml.MoR)
      val infos = graft.storage.SnapshotStore.partitionInfos(s, dir)
      require(infos.size == 5,
        s"q_snapshot_partitions: five priorities, got ${infos.size}")
      require(infos.map(_._5).sum == 1L,
        "q_snapshot_partitions: the MoR needle must surface as ONE " +
          s"dv position, got ${infos.map(_._5)}")
      require(infos.forall(_._6.isDefined),
        "q_snapshot_partitions: every row count must serve from " +
          "metadata (stats declared)")
      require(infos.forall(i => i._2 == Seq(i._1)),
        "q_snapshot_partitions: 1-col keys decode to themselves")
      // the catalog agrees with the actual read, per partition
      import s.implicits._
      infos.map(i => (i._1, i._6.get))
        .toDF("o_orderpriority", "n_rows")
        .orderBy(col("o_orderpriority"))
    }),

    // PARTITION-SPEC EVOLUTION (r17 — Iceberg partition evolution,
    // re-derived): the store starts daily-style (one column), evolves to
    // a composite (priority, status) spec, and keeps working — old gens
    // keep their era's keys, new writes use the new spec, reads union
    // both eras, pruning resolves per era, and merge residency finds
    // old-era images (require-pinned: the cross-era upsert does NOT
    // duplicate). Slice 1 hash-checks the unioned content after the
    // upsert; slice 2 time-travels to the pre-evolution version.
    "q_snapshot_repartition" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_rpq")
        .toString + "/orders_rp"
      val k = col("o_orderkey")
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderstatus"), col("o_totalprice"))
      val mx = orders.agg(max(k)).head().getLong(0)
      graft.storage.SnapshotStore.write(base.filter(k <= mx / 2),
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      graft.storage.SnapshotStore.evolvePartitionSpec(s, dir,
        "o_orderpriority,o_orderstatus")
      graft.storage.SnapshotStore.append(base.filter(k > mx / 2),
        dir, "o_orderpriority,o_orderstatus")
      require(graft.storage.SnapshotStore.allPartSpecs(s, dir) ==
        Seq("o_orderpriority", "o_orderpriority,o_orderstatus"),
        "q_snapshot_repartition: the spec history must record both eras")
      val whole = graft.storage.SnapshotStore.read(s, dir)
      require(whole.count() == base.count(),
        "q_snapshot_repartition: the read must union both eras")
      // per-era pruning: a priority probe opens only that priority's
      // files in EITHER era
      val all = whole.inputFiles.length
      val probe = graft.storage.SnapshotStore.readWhere(s, dir,
        col("o_orderpriority") === "1-URGENT")
      require(probe.count() == base
        .filter(col("o_orderpriority") === "1-URGENT").count() &&
        probe.inputFiles.length * 3 <= all + 2,
        s"q_snapshot_repartition: the day-style probe must prune both " +
          s"eras (${probe.inputFiles.length} of $all)")
      // cross-era residency: upsert a key living in the OLD era — the
      // merge must find and replace its era-1 image, never duplicate
      val victim = base.filter(k === 1L).limit(1)
      graft.storage.SnapshotStore.merge(s, dir,
        victim.withColumn("o_totalprice", lit(123.0)),
        "o_orderpriority,o_orderstatus", Seq("o_orderkey"))
      val merged = graft.storage.SnapshotStore.read(s, dir)
      require(merged.count() == base.count(),
        "q_snapshot_repartition: the cross-era upsert must not duplicate")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"))
          .withColumn("slice", lit(slice))
      agg(merged, 1)
        .unionByName(
          agg(graft.storage.SnapshotStore.read(s, dir, Some(1)), 2))
        .orderBy(col("slice"), col("o_orderpriority"),
          col("o_orderstatus"))
    }),

    // Store integrity report (fsck, r16 — banked as a declared gate in
    // r17): ONE read-only metadata pass (manifests + staged branch files
    // + a dir listing, no data page read) that answers "is this store
    // internally consistent, and what is waiting for the sweeper".
    // Require-pins: a healthy store that has been through the full
    // machinery (MoR delete → live DV sidecar, CoW update, branch,
    // tag) reports ZERO rows; manual surgery on a twin surfaces as the
    // NAMED findings (dangling_ref / dangling_dv errors, orphan_dir
    // info); and fsck never mutates — the healthy store's content is
    // what the oracle checks, identical after both reports.
    "q_snapshot_fsck" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      def build(tag: String): String = {
        val dir = java.nio.file.Files.createTempDirectory(
          s"graft_fsckq$tag").toString + "/orders_fsck"
        val base = orders.select(col("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
        graft.storage.SnapshotStore.writeVersions(base,
          when(k <= mx / 2, 0).otherwise(1), 2,
          dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
        // a live DV sidecar + a CoW rewrite + a branch: the report must
        // resolve ALL of it as referenced, not flag it
        graft.storage.SnapshotStore.dml(s, dir, Dml.Delete, k === mx,
          mode = Dml.MoR)
        graft.storage.SnapshotStore.updateWhere(s, dir,
          Seq("o_totalprice" -> (col("o_totalprice") + 0.0)), k === 1L)
        graft.storage.SnapshotStore.branchCreate(s, dir, "aud")
        dir
      }
      val healthy = build("h")
      require(graft.storage.SnapshotStore.fsck(s, healthy).isEmpty,
        "q_snapshot_fsck: a healthy store must report ZERO rows")
      // the twin pays for manual surgery with named findings. It is laid
      // down as a FILE COPY of the healthy store (manifests reference
      // everything store-relative, so a copied tree is a valid
      // independent store): re-running the write+DV+CoW+branch fixture
      // would recompute four Spark jobs whose output is byte-equivalent
      // to what is already on disk (§1.2 — remove whole passes)
      val broken = {
        val dst = java.nio.file.Files.createTempDirectory("graft_fsckqb")
          .toString + "/orders_fsck"
        val from = java.nio.file.Paths.get(healthy)
        val to = java.nio.file.Paths.get(dst)
        java.nio.file.Files.walk(from).forEach { p =>
          val q = to.resolve(from.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(q)
          else java.nio.file.Files.copy(p, q)
        }
        dst
      }
      val data = new java.io.File(s"$broken/data")
      def rmRf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmRf); f.delete()
      }
      rmRf(data.listFiles().filter(_.getName.startsWith("dv-")).head)
      rmRf(data.listFiles().filter(_.getName.startsWith("gen-")).head)
      new java.io.File(data, "gen-deadbeef0000").mkdirs()
      val rep = graft.storage.SnapshotStore.fsck(s, broken)
        .select(col("severity"), col("kind")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      require(rep(("error", "dangling_ref")) &&
        rep(("error", "dangling_dv")) && rep(("info", "orphan_dir")),
        s"q_snapshot_fsck: surgery must surface named findings, got $rep")
      // read-only both ways: the healthy store still reports clean and
      // the broken head still resolves (nothing was "repaired")
      require(graft.storage.SnapshotStore.fsck(s, healthy).isEmpty,
        "q_snapshot_fsck: the report must not mutate the healthy store")
      require(graft.storage.SnapshotStore
        .headVersion(s, broken).isDefined,
        "q_snapshot_fsck: the report must not mutate the broken store")
      graft.storage.SnapshotStore.read(s, healthy)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_cents"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("o_orderpriority"))
    }),

    // General conditional MERGE (r16): the Delta/SQL:2003 MERGE INTO
    // shape as a store verb — first-match-wins WHEN MATCHED clauses
    // (conditional re-score, else delete), WHEN NOT MATCHED insert, and
    // a conditioned WHEN NOT MATCHED BY SOURCE expiry, all in ONE
    // full-outer key join + one action-tag pass. The receipt's row
    // counts are require-pinned against the source's construction;
    // slice 2 time-travels to the pre-merge version.
    "q_snapshot_merge_into" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_miq")
        .toString + "/orders_mi"
      val k = col("o_orderkey")
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderstatus"))
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      graft.storage.SnapshotStore.writeVersions(base,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      // today's feed: re-scored subset (k % 10 = 3; every 20th flagged
      // negative → the delete clause), plus one brand-new row
      val src = base.filter(k % 10 === 3)
        .select(col("o_orderkey"), col("o_orderpriority"),
          when(k % 20 === 3, lit(-1.0))
            .otherwise(col("o_totalprice") * 2).as("o_totalprice"))
        .unionByName(base.filter(k === mx)
          .select((k + lit(10000000L)).as("o_orderkey"),
            col("o_orderpriority"), lit(123.0).as("o_totalprice")))
      import graft.storage.SnapshotMergeInto._
      val r = graft.storage.SnapshotStore.mergeInto(s, dir, src,
        Seq("o_orderkey"),
        matched = Seq(
          WhenMatched(Some(col("s.o_totalprice") > col("t.o_totalprice")),
            UpdateSet(Seq("o_totalprice" -> col("s.o_totalprice"),
              "o_orderstatus" -> lit("U")))),
          WhenMatched(None, DeleteRow)),
        notMatched = Some(WhenNotMatched(None)),
        notMatchedBySource = Seq(
          WhenNotMatchedBySource(Some(k > q3 + 10), DeleteRow)))
      val nSrcMatched = base.filter(k % 10 === 3).count()
      val nFlagged = base.filter(k % 20 === 3).count()
      require(r.inserted == 1 && r.deleted >= nFlagged &&
        r.updated == nSrcMatched - nFlagged,
        s"q_snapshot_merge_into: receipt must reconcile with the " +
          s"source's construction, got $r vs ($nSrcMatched, $nFlagged)")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L))
              .as("n_updated"))
          .withColumn("slice", lit(slice))
      agg(graft.storage.SnapshotStore.read(s, dir), 1)
        .unionByName(
          agg(graft.storage.SnapshotStore.read(s, dir, Some(4)), 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // MERGE-ON-READ MERGE INTO (r17): the same conditional reconcile as
    // q_snapshot_merge_into, priced at the CHANGED rows — update/delete
    // pre-images become deletion-vector positions, ONLY the updated
    // images + the insert append as fresh gens, and no pre-existing data
    // file is rewritten (require-pinned: the gen set on disk before the
    // merge survives intact, dvRows == updated + deleted, and the new
    // gens hold exactly updated + inserted rows). Slice 1 hash-checks
    // the MoR result against the same DuckDB replay the CoW gate uses —
    // identical semantics is the contract; slice 2 time-travels to the
    // pre-merge version.
    "q_snapshot_merge_mor" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_mmq")
        .toString + "/orders_mm"
      val k = col("o_orderkey")
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderstatus"))
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      graft.storage.SnapshotStore.writeVersions(base,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      val src = base.filter(k % 10 === 3)
        .select(col("o_orderkey"), col("o_orderpriority"),
          when(k % 20 === 3, lit(-1.0))
            .otherwise(col("o_totalprice") * 2).as("o_totalprice"))
        .unionByName(base.filter(k === mx)
          .select((k + lit(10000000L)).as("o_orderkey"),
            col("o_orderpriority"), lit(123.0).as("o_totalprice")))
      import graft.storage.SnapshotMergeInto._
      def gensOnDisk = new java.io.File(s"$dir/data").listFiles()
        .map(_.getName).filter(_.startsWith("gen-")).toSet
      val before = gensOnDisk
      val r = graft.storage.SnapshotStore.mergeIntoMor(s, dir,
        src, Seq("o_orderkey"),
        matched = Seq(
          WhenMatched(Some(col("s.o_totalprice") > col("t.o_totalprice")),
            UpdateSet(Seq("o_totalprice" -> col("s.o_totalprice"),
              "o_orderstatus" -> lit("U")))),
          WhenMatched(None, DeleteRow)),
        notMatched = Some(WhenNotMatched(None)),
        notMatchedBySource = Seq(
          WhenNotMatchedBySource(Some(k > q3 + 10), DeleteRow)))
      val nSrcMatched = base.filter(k % 10 === 3).count()
      val nFlagged = base.filter(k % 20 === 3).count()
      require(r.inserted == 1 && r.deleted >= nFlagged &&
        r.updated == nSrcMatched - nFlagged,
        s"q_snapshot_merge_mor: receipt must reconcile with the " +
          s"source's construction, got $r vs ($nSrcMatched, $nFlagged)")
      require(r.dvRows == r.updated + r.deleted,
        "q_snapshot_merge_mor: every update/delete pre-image and " +
          s"nothing else pays a deletion-vector position, got $r")
      val after = gensOnDisk
      require(before.subsetOf(after),
        "q_snapshot_merge_mor: a MoR merge must not rewrite or drop " +
          "any pre-existing gen — positions + changed images only")
      val newRows = s.read
        .schema("o_orderkey LONG, o_orderpriority STRING, " +
          "o_totalprice DOUBLE, o_orderstatus STRING")
        .parquet((after -- before).map(g => s"$dir/data/$g").toSeq: _*)
        .count()
      require(newRows == r.updated + r.inserted,
        s"q_snapshot_merge_mor: the fresh gens must hold EXACTLY the " +
          s"changed images, got $newRows vs $r")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L))
              .as("n_updated"))
          .withColumn("slice", lit(slice))
      agg(graft.storage.SnapshotStore.read(s, dir), 1)
        .unionByName(
          agg(graft.storage.SnapshotStore.read(s, dir, Some(4)), 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // NATIVE SQL MERGE INTO through the DSv2 catalog (r18): the same
    // conditional reconcile as q_snapshot_merge_into, but the statement
    // is PLAIN Spark SQL against `graft.<ns>.<table>` — parsed by
    // Spark's own MERGE grammar, planned by the catalog as the store's
    // own mergeInto verb, no TVF mini-grammar involved. A require pins
    // row-for-row parity against the TVF verb run with identical
    // clauses on a twin store — one semantics, two surfaces.
    "q_snapshot_merge_sql" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val root = java.nio.file.Files.createTempDirectory("graft_msq")
        .toString
      // a UNIQUE catalog name per invocation: the session is shared
      // (tests, Bench, Verify run suites concurrently) and the root
      // conf is session-global — a fixed name would let a concurrent
      // catalog user clobber this gate's root mid-statement
      val cat = "graftm" + java.util.UUID.randomUUID.toString
        .replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      val tbl = "m" + java.util.UUID.randomUUID.toString.replace("-", "")
        .take(10)
      val k = col("o_orderkey")
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderstatus"))
      val mx = orders.agg(max(k)).head().getLong(0)
      val q3 = 3 * mx / 4
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
      s.sql(s"""CREATE TABLE $cat.g.$tbl (o_orderkey BIGINT,
        o_orderpriority STRING, o_totalprice DOUBLE,
        o_orderstatus STRING) PARTITIONED BY (o_orderpriority)
        TBLPROPERTIES ('stats_cols' = 'o_orderkey')""")
      base.createOrReplaceTempView(s"seed_$tbl")
      s.sql(s"INSERT INTO $cat.g.$tbl SELECT * FROM seed_$tbl")
      val src = base.filter(k % 10 === 3)
        .select(col("o_orderkey"), col("o_orderpriority"),
          when(k % 20 === 3, lit(-1.0))
            .otherwise(col("o_totalprice") * 2).as("o_totalprice"))
        .unionByName(base.filter(k === mx)
          .select((k + lit(10000000L)).as("o_orderkey"),
            col("o_orderpriority"), lit(123.0).as("o_totalprice")))
      src.createOrReplaceTempView(s"src_$tbl")
      val preMerge = graft.storage.SnapshotStore
        .headVersion(s, s"$root/g/$tbl").get
      s.sql(s"""MERGE INTO $cat.g.$tbl t USING src_$tbl s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_totalprice > t.o_totalprice THEN
          UPDATE SET o_totalprice = s.o_totalprice, o_orderstatus = 'U'
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority,
          o_totalprice) VALUES (s.o_orderkey, s.o_orderpriority,
          s.o_totalprice)
        WHEN NOT MATCHED BY SOURCE AND t.o_orderkey > $q3 + 10 THEN
          DELETE""")
      // parity pin: the TVF verb with IDENTICAL clauses on a twin store
      // must produce row-identical results — the two surfaces share one
      // semantics
      val twin = java.nio.file.Files.createTempDirectory("graft_msqt")
        .toString + "/twin"
      graft.storage.SnapshotStore.write(base, twin, "o_orderpriority")
      import graft.storage.SnapshotMergeInto._
      graft.storage.SnapshotStore.mergeInto(s, twin, src,
        Seq("o_orderkey"),
        matched = Seq(
          WhenMatched(Some(col("s.o_totalprice") > col("t.o_totalprice")),
            UpdateSet(Seq("o_totalprice" -> col("s.o_totalprice"),
              "o_orderstatus" -> lit("U")))),
          WhenMatched(None, DeleteRow)),
        notMatched = Some(WhenNotMatched(None)),
        notMatchedBySource = Seq(
          WhenNotMatchedBySource(Some(k > q3 + 10), DeleteRow)))
      val gotSet = s.sql(s"SELECT * FROM $cat.g.$tbl").collect()
        .map(_.toSeq).toSet
      val twinSet = graft.storage.SnapshotStore.read(s, twin).collect()
        .map(_.toSeq).toSet
      require(gotSet == twinSet,
        s"q_snapshot_merge_sql: native MERGE and graft_merge_into must " +
          s"agree row-for-row (${gotSet.size} vs ${twinSet.size})")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L))
              .as("n_updated"))
          .withColumn("slice", lit(slice))
      agg(s.sql(s"SELECT * FROM $cat.g.$tbl"), 1)
        .unionByName(agg(graft.storage.SnapshotStore.read(s,
          s"$root/g/$tbl", Some(preMerge)), 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // Merge-on-read DML — deletion vectors (r16): the needle delete and
    // the surgical redaction priced at the MATCHED rows, not the touched
    // slices. The off-boundary MoR delete records positions in one
    // parquet sidecar (require-pinned: ZERO slices rewritten or dropped
    // AND the gen set on disk unchanged — no data file written); the MoR
    // update deletion-vectors its hits and appends only their updated
    // images. The metadata COUNT stays exact through both (live =
    // physical − DV'd; require-pinned: zero dirs scanned), and slice 2
    // time-travels to the pre-DML version.
    "q_snapshot_dv" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_dvq")
        .toString + "/orders_dv"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      graft.storage.SnapshotStore.writeVersions(orders,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      def gensOnDisk = new java.io.File(s"$dir/data").listFiles()
        .map(_.getName).filter(_.startsWith("gen-")).toSet
      val before = gensOnDisk
      val del = graft.storage.SnapshotStore.dml(
        s, dir, Dml.Delete, k > q3 + 10, mode = Dml.MoR)
      require(del.rewrittenDirs == 0 && del.droppedDirs == 0 &&
        del.dvRows > 0 && gensOnDisk == before,
        "q_snapshot_dv: the MoR delete must write NO data file — " +
          s"positions only, got $del")
      val upd = graft.storage.SnapshotStore.dml(
        s, dir, Dml.Update(Seq("o_totalprice" -> (col("o_totalprice") * 2),
          "o_orderstatus" -> lit("U"))), k <= mx / 8, mode = Dml.MoR)
      val expectHits = orders.filter(k <= mx / 8).count()
      require(upd.dvRows == expectHits && upd.rewrittenDirs <= 5,
        "q_snapshot_dv: the MoR update must DV exactly the matched " +
          s"rows and append only their images, got $upd vs $expectHits")
      val (live, scanned) = graft.storage.SnapshotStore
        .countWhereDetailed(s, dir, lit(true))
      require(scanned == 0,
        "q_snapshot_dv: the metadata count must stay exact through " +
          s"deletion vectors (live = physical − DV'd), scanned $scanned")
      require(live == graft.storage.SnapshotStore.read(s, dir).count(),
        "q_snapshot_dv: metadata count and scan count must agree")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L))
              .as("n_updated"))
          .withColumn("slice", lit(slice))
      agg(graft.storage.SnapshotStore.read(s, dir), 1)
        .unionByName(
          agg(graft.storage.SnapshotStore.read(s, dir, Some(4)), 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }),

    // CHECK constraints (r15): the write-boundary quality gate — the
    // reference's parse-failure path (R4) manufactures corrupt rows, and
    // a store carrying `price_pos CHECK (o_totalprice > 0)` turns silent
    // corpus rot into a refused batch. The fixture adds two constraints
    // (head validated with a stats-pruned scan), lands a conforming
    // append, and require-pins that a negative-price batch and a
    // NULL-key batch are REFUSED with nothing committed (SQL CHECK
    // semantics priced in: the NULL-key refusal needs the explicit
    // IS NOT NULL constraint — NULL passes a bare comparison).
    "q_snapshot_constraint" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_checkq")
        .toString + "/orders_check"
      val k = col("o_orderkey")
      val cols = Seq(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"))
      graft.storage.SnapshotStore.write(orders.select(cols: _*),
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"))
      graft.storage.SnapshotStore.addConstraint(s, dir,
        "price_pos", "o_totalprice > 0")
      graft.storage.SnapshotStore.addConstraint(s, dir,
        "key_set", "o_orderkey IS NOT NULL")
      graft.storage.SnapshotStore.append(
        orders.filter(k % 97 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey") +:
            cols.tail: _*),
        dir, "o_orderpriority")
      val headV = graft.storage.SnapshotStore.headVersion(s, dir)
      def refused(batch: org.apache.spark.sql.DataFrame,
                  constraint: String): Boolean =
        try { graft.storage.SnapshotStore.append(batch, dir,
          "o_orderpriority"); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains(constraint) }
      require(refused(orders.limit(5).select(
        col("o_orderkey"), (col("o_totalprice") * -1).as("o_totalprice"),
        col("o_orderpriority")), "price_pos"),
        "q_snapshot_constraint: the negative-price batch must be refused")
      require(refused(orders.limit(5).select(
        lit(null).cast("long").as("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority")), "key_set"),
        "q_snapshot_constraint: the NULL-key batch must be refused")
      require(graft.storage.SnapshotStore.headVersion(s, dir) == headV,
        "q_snapshot_constraint: refused batches must commit nothing")
      val nC = graft.storage.SnapshotStore.constraints(s, dir).size
      graft.storage.SnapshotStore.read(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("n_constraints", lit(nC))
        .orderBy(col("o_orderpriority"))
    }),

    // Needle files (r15): per-gen bloom filters over a declared
    // high-cardinality column, consulted by readWhere AFTER min/max
    // pruning — the lookup bounds cannot serve, because a scrambled key
    // overlaps every gen's range ("find THIS document id across a year
    // of ingest"). The fixture scrambles o_orderkey so gens interleave;
    // the hit is require-pinned to ≤2 of 4 gens opened, the MISS to
    // ZERO gens opened (answered from the sidecars alone), and the full
    // read to all 4.
    "q_snapshot_skip_needle" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_needleq")
        .toString + "/orders_needle"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      def scr(c: org.apache.spark.sql.Column) =
        concat(lit("N"), ((c * 2654435761L) % 1000000007L).cast("string"))
      val base = orders.select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("needle", scr(k))
      graft.storage.SnapshotStore.writeVersions(base,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority", statsCols = Seq("o_orderkey"),
        bloomCols = Seq("needle"))
      val k1 = orders.filter(k <= q1).agg(max(k)).head().getLong(0)
      def scrV(key: Long) = s"N${key * 2654435761L % 1000000007L}"
      val (n1, n2) = (scrV(k1), scrV(mx))
      def gens(files: Array[String]) =
        files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet
      val hit = graft.storage.SnapshotStore.readWhere(s, dir,
        col("needle") === n1)
      val miss = graft.storage.SnapshotStore.readWhere(s, dir,
        col("needle") === "N-1")
      // the miss pin tolerates ONE gen: a bloom filter's ~1% false-
      // positive rate is part of the contract (never false-NEGATIVE),
      // and a probe value may collide on a given dataset
      require(gens(hit.inputFiles).size <= 2 &&
        gens(miss.inputFiles).size <= 1 &&
        gens(graft.storage.SnapshotStore.read(s, dir).inputFiles).size == 4,
        "q_snapshot_skip_needle: the hit must open <=2 of 4 gens and " +
          s"the miss <=1 (hit ${gens(hit.inputFiles).size}, " +
          s"miss ${gens(miss.inputFiles).size})")
      graft.storage.SnapshotStore.readWhere(s, dir,
        col("needle").isin(n1, n2))
        .select(col("o_orderkey"), col("o_orderpriority"), col("needle"))
        .orderBy(col("o_orderkey"))
    }),

    // Declare-later data skipping (r15): the store was written with NO
    // skipping metadata at all — the operational "we forgot" / "the
    // query pattern changed" case, where the alternative is rewriting
    // the corpus. backfillStats declares o_orderkey stats + a needle
    // column and backfills every gen with ZERO data rewritten
    // (require-pinned: the gen set on disk is unchanged); afterwards
    // the range read opens 2-of-4 gens and a needle miss opens ZERO.
    // Slice 2 re-aggregates the full read — the backfill moved only
    // metadata.
    "q_snapshot_backfill" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val dir = java.nio.file.Files.createTempDirectory("graft_bfq")
        .toString + "/orders_backfill"
      val k = col("o_orderkey")
      val mx = orders.agg(max(k)).head().getLong(0)
      val (q1, q3) = (mx / 4, 3 * mx / 4)
      val base = orders.select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"))
        .withColumn("needle", concat(lit("N"), k.cast("string")))
      graft.storage.SnapshotStore.writeVersions(base,
        quartileSlices(k, q1, mx / 2, q3), 4,
        dir, "o_orderpriority") // nothing declared
      def gens(files: Array[String]) =
        files.flatMap(_.split("/data/").lift(1)).map(_.split("/").head).toSet
      val pred = k > q1 && k <= q3
      require(gens(graft.storage.SnapshotStore.readWhere(s, dir, pred)
        .inputFiles).size == 4,
        "q_snapshot_backfill: nothing prunes before the backfill")
      val dataDirs = new java.io.File(s"$dir/data").listFiles()
        .map(_.getName).toSet
      graft.storage.SnapshotStore.backfillStats(s, dir,
        statsCols = Seq("o_orderkey"), bloomCols = Seq("needle"))
      require(new java.io.File(s"$dir/data").listFiles()
        .map(_.getName).toSet == dataDirs,
        "q_snapshot_backfill: zero data rewritten")
      val ranged = graft.storage.SnapshotStore.readWhere(s, dir, pred)
      val missFiles = graft.storage.SnapshotStore.readWhere(s, dir,
        col("needle") === "N-1").inputFiles
      require(gens(ranged.inputFiles).size == 2 && missFiles.isEmpty,
        "q_snapshot_backfill: the range must open 2-of-4 gens and a " +
          "needle miss ZERO after the backfill")
      def agg(x: org.apache.spark.sql.DataFrame, slice: Int) =
        x.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
          .withColumn("slice", lit(slice))
      agg(ranged, 1)
        .unionByName(agg(graft.storage.SnapshotStore.read(s, dir), 2))
        .orderBy(col("slice"), col("o_orderpriority"))
    }))

  def oracle: Seq[(String, String)] = Seq(
    "q_snapshot_delete" -> {
      def dAgg(slice: Int, pred: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |    $slice AS slice
           |  FROM orders, mx WHERE $pred GROUP BY o_orderpriority""".stripMargin
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT * FROM (
        |""".stripMargin +
        Seq(dAgg(1, "NOT (o_orderkey > m // 4 AND o_orderkey <= m // 2) " +
          "AND NOT (o_orderkey > (3 * m) // 4 + 10)"),
          dAgg(2, "TRUE")).mkString("\nUNION ALL\n") +
        "\n) ORDER BY slice, o_orderpriority"
    },

    "q_snapshot_update" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |upd AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey > m // 4 AND o_orderkey <= m // 2
        |      THEN o_totalprice * 2 ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey > m // 4 AND o_orderkey <= m // 2
        |      THEN 'U' ELSE o_orderstatus END AS status
        |  FROM orders, mx)
        |SELECT * FROM (
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(sum(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_updated, 1 AS slice
        |  FROM upd GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(0 AS BIGINT) AS n_updated, 2 AS slice
        |  FROM orders GROUP BY o_orderpriority
        |) ORDER BY slice, o_orderpriority""".stripMargin,

    "q_snapshot_zorder" ->
      """WITH cmx AS (SELECT max(o_custkey) AS c FROM orders),
        |box AS (
        |  SELECT count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |  FROM orders, cmx WHERE o_custkey <= c // 8)
        |SELECT n_orders, sum_cents, min_key, max_key, 1 AS slice FROM box
        |UNION ALL
        |SELECT n_orders, sum_cents, min_key, max_key, 2 AS slice FROM box
        |ORDER BY slice""".stripMargin,

    "q_snapshot_partitions" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT o_orderpriority, count(*) AS n_rows
        |FROM orders, mx WHERE o_orderkey <> m
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_snapshot_repartition" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |upd AS (
        |  SELECT o_orderpriority, o_orderstatus,
        |    CASE WHEN o_orderkey = 1 THEN 123.0
        |      ELSE o_totalprice END AS price
        |  FROM orders),
        |agg AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |    CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents
        |  FROM upd GROUP BY 1, 2),
        |agg0 AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents
        |  FROM orders, mx WHERE o_orderkey <= m // 2 GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT *, 1 AS slice FROM agg
        |  UNION ALL
        |  SELECT *, 2 AS slice FROM agg0
        |) ORDER BY slice, o_orderpriority, o_orderstatus""".stripMargin,

    "q_snapshot_composite" ->
      """WITH live AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_orderpriority = '5-LOW' AND o_orderstatus = 'O')),
        |agg AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents
        |  FROM live GROUP BY 1, 2),
        |agg0 AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT *, 1 AS slice FROM agg
        |  UNION ALL
        |  SELECT *, 2 AS slice FROM agg0
        |) ORDER BY slice, o_orderpriority, o_orderstatus""".stripMargin,

    "q_snapshot_fsck" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  max(o_orderkey) AS max_key
        |FROM orders, mx WHERE o_orderkey <> m
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_snapshot_merge_into" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS p,
        |    CASE WHEN o_orderkey % 20 = 3 THEN -1.0
        |      ELSE o_totalprice * 2 END AS price
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority, 123.0
        |  FROM orders, mx WHERE o_orderkey = m),
        |upd AS (
        |  SELECT o.o_orderpriority AS p,
        |    CASE WHEN s.k IS NOT NULL AND s.price > o.o_totalprice
        |      THEN s.price ELSE o.o_totalprice END AS price,
        |    CASE WHEN s.k IS NOT NULL AND s.price > o.o_totalprice
        |      THEN 'U' ELSE o.o_orderstatus END AS status,
        |    CASE WHEN s.k IS NOT NULL AND NOT (s.price > o.o_totalprice)
        |        THEN 1
        |      WHEN s.k IS NULL AND o.o_orderkey > (3 * m) // 4 + 10
        |        THEN 1
        |      ELSE 0 END AS del
        |  FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k, mx),
        |ins AS (
        |  SELECT p, price, CAST(NULL AS VARCHAR) AS status
        |  FROM src, mx WHERE k > m),
        |fin AS (
        |  SELECT p, price, status FROM upd WHERE del = 0
        |  UNION ALL SELECT p, price, status FROM ins)
        |SELECT * FROM (
        |  SELECT p AS o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(sum(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_updated, 1 AS slice
        |  FROM fin GROUP BY p
        |  UNION ALL
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(0 AS BIGINT) AS n_updated, 2 AS slice
        |  FROM orders GROUP BY o_orderpriority
        |) ORDER BY slice, o_orderpriority""".stripMargin,

    "q_snapshot_merge_sql" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS p,
        |    CASE WHEN o_orderkey % 20 = 3 THEN -1.0
        |      ELSE o_totalprice * 2 END AS price
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority, 123.0
        |  FROM orders, mx WHERE o_orderkey = m),
        |upd AS (
        |  SELECT o.o_orderpriority AS p,
        |    CASE WHEN s.k IS NOT NULL AND s.price > o.o_totalprice
        |      THEN s.price ELSE o.o_totalprice END AS price,
        |    CASE WHEN s.k IS NOT NULL AND s.price > o.o_totalprice
        |      THEN 'U' ELSE o.o_orderstatus END AS status,
        |    CASE WHEN s.k IS NOT NULL AND NOT (s.price > o.o_totalprice)
        |        THEN 1
        |      WHEN s.k IS NULL AND o.o_orderkey > (3 * m) // 4 + 10
        |        THEN 1
        |      ELSE 0 END AS del
        |  FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k, mx),
        |ins AS (
        |  SELECT p, price, CAST(NULL AS VARCHAR) AS status
        |  FROM src, mx WHERE k > m),
        |fin AS (
        |  SELECT p, price, status FROM upd WHERE del = 0
        |  UNION ALL SELECT p, price, status FROM ins)
        |SELECT * FROM (
        |  SELECT p AS o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(sum(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_updated, 1 AS slice
        |  FROM fin GROUP BY p
        |  UNION ALL
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(0 AS BIGINT) AS n_updated, 2 AS slice
        |  FROM orders GROUP BY o_orderpriority
        |) ORDER BY slice, o_orderpriority""".stripMargin,

    "q_snapshot_merge_mor" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS p,
        |    CASE WHEN o_orderkey % 20 = 3 THEN -1.0
        |      ELSE o_totalprice * 2 END AS price
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderpriority, 123.0
        |  FROM orders, mx WHERE o_orderkey = m),
        |upd AS (
        |  SELECT o.o_orderpriority AS p,
        |    CASE WHEN s.k IS NOT NULL AND s.price > o.o_totalprice
        |      THEN s.price ELSE o.o_totalprice END AS price,
        |    CASE WHEN s.k IS NOT NULL AND s.price > o.o_totalprice
        |      THEN 'U' ELSE o.o_orderstatus END AS status,
        |    CASE WHEN s.k IS NOT NULL AND NOT (s.price > o.o_totalprice)
        |        THEN 1
        |      WHEN s.k IS NULL AND o.o_orderkey > (3 * m) // 4 + 10
        |        THEN 1
        |      ELSE 0 END AS del
        |  FROM orders o LEFT JOIN src s ON o.o_orderkey = s.k, mx),
        |ins AS (
        |  SELECT p, price, CAST(NULL AS VARCHAR) AS status
        |  FROM src, mx WHERE k > m),
        |fin AS (
        |  SELECT p, price, status FROM upd WHERE del = 0
        |  UNION ALL SELECT p, price, status FROM ins)
        |SELECT * FROM (
        |  SELECT p AS o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(sum(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_updated, 1 AS slice
        |  FROM fin GROUP BY p
        |  UNION ALL
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(0 AS BIGINT) AS n_updated, 2 AS slice
        |  FROM orders GROUP BY o_orderpriority
        |) ORDER BY slice, o_orderpriority""".stripMargin,

    "q_snapshot_dv" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |fin AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey <= m // 8
        |      THEN o_totalprice * 2 ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey <= m // 8
        |      THEN 'U' ELSE o_orderstatus END AS status
        |  FROM orders, mx WHERE NOT (o_orderkey > (3 * m) // 4 + 10))
        |SELECT * FROM (
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(sum(CASE WHEN status = 'U' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_updated, 1 AS slice
        |  FROM fin GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    CAST(0 AS BIGINT) AS n_updated, 2 AS slice
        |  FROM orders GROUP BY o_orderpriority
        |) ORDER BY slice, o_orderpriority""".stripMargin,

    "q_snapshot_constraint" ->
      """WITH allx AS (
        |  SELECT o_orderpriority, o_totalprice, o_orderkey FROM orders
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice, o_orderkey + 10000000
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  2 AS n_constraints
        |FROM allx GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_snapshot_skip_needle" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |keys AS (SELECT
        |  (SELECT max(o_orderkey) FROM orders, mx
        |   WHERE o_orderkey <= m // 4) AS k1,
        |  (SELECT m FROM mx) AS k2),
        |probes AS (SELECT
        |  concat('N', CAST((k1 * 2654435761) % 1000000007 AS VARCHAR)) AS n1,
        |  concat('N', CAST((k2 * 2654435761) % 1000000007 AS VARCHAR)) AS n2
        |  FROM keys)
        |SELECT o_orderkey, o_orderpriority,
        |  concat('N', CAST((o_orderkey * 2654435761) % 1000000007
        |    AS VARCHAR)) AS needle
        |FROM orders, probes
        |WHERE concat('N', CAST((o_orderkey * 2654435761) % 1000000007
        |    AS VARCHAR)) IN (n1, n2)
        |ORDER BY o_orderkey""".stripMargin,

    "q_snapshot_backfill" -> {
      def bAgg(slice: Int, pred: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |    $slice AS slice
           |  FROM orders, mx WHERE $pred GROUP BY o_orderpriority""".stripMargin
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT * FROM (
        |""".stripMargin +
        Seq(bAgg(1, "o_orderkey > m // 4 AND o_orderkey <= (3 * m) // 4"),
          bAgg(2, "TRUE")).mkString("\nUNION ALL\n") +
        "\n) ORDER BY slice, o_orderpriority"
    },

    "q_snapshot_drop" -> {
      def dAgg(v: Int, pred: String, clerk: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    CAST($clerk AS BIGINT) AS n_status, $v AS slice
           |  FROM orders WHERE $pred GROUP BY o_orderpriority""".stripMargin
      Seq(dAgg(1, "o_orderkey % 2 = 0", "count(o_orderstatus)"),
        dAgg(3, "TRUE", "-1"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY slice, o_orderpriority")
    },

    "q_snapshot_tag" -> {
      def tAgg(v: Int, pred: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |    $v AS slice
           |  FROM orders WHERE $pred GROUP BY o_orderpriority""".stripMargin
      Seq(tAgg(2, "o_orderkey % 3 IN (1, 2)"), tAgg(3, "TRUE"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY slice, o_orderpriority")
    },

    "q_snapshot_skip" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders, mx
        |WHERE o_orderkey > m // 4 AND o_orderkey <= (3 * m) // 4
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_snapshot_minmax" -> {
      def mAgg(slice: Int, pred: String) =
        s"""SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |    min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
           |    CAST(min(o_orderdate) AS DATE) AS min_date,
           |    CAST(max(o_orderdate) AS DATE) AS max_date,
           |    min(o_orderstatus) AS min_status,
           |    max(o_orderstatus) AS max_status,
           |    (SELECT min(o_orderpriority || '-' || o_orderstatus || '-' ||
           |       lpad(CAST(o_orderkey AS VARCHAR), 12, '0')) FROM orders)
           |      AS min_tag,
           |    (SELECT max(o_orderpriority || '-' || o_orderstatus || '-' ||
           |       lpad(CAST(o_orderkey AS VARCHAR), 12, '0')) FROM orders)
           |      AS max_tag, $slice AS slice
           |  FROM orders, mx WHERE $pred""".stripMargin
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT * FROM (
        |""".stripMargin +
        Seq(mAgg(1, "TRUE"),
          mAgg(2, "o_orderkey > m // 4 AND o_orderkey <= (3 * m) // 4"))
          .mkString("\nUNION ALL\n") +
        "\n) ORDER BY slice"
    },

    "q_snapshot_count" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT * FROM (
        |  SELECT 'full' AS label, count(*) AS cnt FROM orders
        |  UNION ALL
        |  SELECT 'offset', count(*) FROM orders, mx
        |  WHERE o_orderkey > m // 4 + 10 AND o_orderkey <= (3 * m) // 4
        |  UNION ALL
        |  SELECT 'quartiles', count(*) FROM orders, mx
        |  WHERE o_orderkey > m // 4 AND o_orderkey <= (3 * m) // 4
        |) ORDER BY label""".stripMargin,

    "q_snapshot_rebase" -> {
      def rAgg(slice: Int, src: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |    $slice AS slice
           |  FROM $src GROUP BY o_orderpriority""".stripMargin
      """WITH mainx AS (
        |  SELECT o_orderpriority, o_totalprice, o_orderkey FROM orders
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice, o_orderkey + 20000000
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |tipx AS (
        |  SELECT * FROM mainx
        |  UNION ALL
        |  SELECT '9-CANDIDATE', o_totalprice, o_orderkey + 10000000
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT * FROM (
        |""".stripMargin +
        Seq(rAgg(1, "mainx"), rAgg(2, "tipx"), rAgg(3, "tipx"))
          .mkString("\nUNION ALL\n") +
        "\n) ORDER BY slice, o_orderpriority"
    },

    "q_snapshot_skip_null" -> {
      def nAgg(slice: Int, pred: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    count(probe) AS n_probe, $slice AS slice
           |  FROM probed WHERE $pred GROUP BY o_orderpriority""".stripMargin
      """WITH probed AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    CASE WHEN o_orderkey % 3 = 1 THEN NULL
        |         WHEN o_orderkey % 3 = 2 AND o_orderkey % 5 = 0 THEN NULL
        |         ELSE o_orderstatus END AS probe
        |  FROM orders)
        |SELECT * FROM (
        |""".stripMargin +
        Seq(nAgg(1, "probe IS NOT NULL"), nAgg(2, "probe IS NULL"))
          .mkString("\nUNION ALL\n") +
        "\n) ORDER BY slice, o_orderpriority"
    },

    "q_snapshot_branch" -> {
      def bAgg(slice: Int, src: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |    $slice AS slice
           |  FROM $src GROUP BY o_orderpriority""".stripMargin
      """WITH big AS (SELECT * REPLACE (o_orderkey + 10000000 AS o_orderkey)
        |             FROM orders WHERE o_orderkey % 101 = 0),
        |  h AS (SELECT * FROM orders UNION ALL SELECT * FROM big)
        |SELECT * FROM (
        |""".stripMargin +
        Seq(bAgg(1, "orders"), bAgg(2, "h"), bAgg(3, "h"))
          .mkString("\nUNION ALL\n") +
        "\n) ORDER BY slice, o_orderpriority"
    },

    // the audit-fix replay: candidate = shifted %101 orders, minus the
    // cheap ones (branch DELETE), even keys +5.00 (branch UPDATE); the
    // published head equals the fixed tip by construction
    "q_snapshot_branch_dml" -> {
      def aAgg(slice: Int) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |    $slice AS slice
           |  FROM h GROUP BY o_orderpriority""".stripMargin
      """WITH big AS (SELECT * REPLACE (o_orderkey + 10000000 AS o_orderkey)
        |             FROM orders WHERE o_orderkey % 101 = 0),
        |  kept AS (SELECT * FROM big WHERE NOT (o_totalprice < 50000.0)),
        |  fixed AS (SELECT * REPLACE (CASE WHEN o_orderkey % 2 = 0
        |      THEN o_totalprice + 5.0 ELSE o_totalprice END
        |      AS o_totalprice) FROM kept),
        |  h AS (SELECT * FROM orders UNION ALL SELECT * FROM fixed)
        |SELECT * FROM (
        |""".stripMargin +
        Seq(aAgg(1), aAgg(2)).mkString("\nUNION ALL\n") +
        "\n) ORDER BY slice, o_orderpriority"
    },

    "q_snapshot_retype" ->
      """WITH big AS (SELECT * REPLACE (o_orderkey + 10000000000
        |                              AS o_orderkey)
        |             FROM orders WHERE o_orderkey % 101 = 0),
        |  h AS (SELECT * FROM orders UNION ALL SELECT * FROM big)
        |SELECT * FROM (
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |    1 AS slice
        |  FROM orders GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |    3 AS slice
        |  FROM h GROUP BY o_orderpriority
        |) ORDER BY slice, o_orderpriority""".stripMargin,

    "q_snapshot_skip_str" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |  sk AS (SELECT o.*, printf('k%08d', o_orderkey) AS skey
        |         FROM orders o)
        |SELECT * FROM (
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    min(skey) AS min_sk, max(skey) AS max_sk, 1 AS slice
        |  FROM sk, mx
        |  WHERE skey > printf('k%08d', m // 4)
        |    AND skey <= printf('k%08d', (3 * m) // 4)
        |  GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS sum_cents,
        |    min(skey) AS min_sk, max(skey) AS max_sk, 2 AS slice
        |  FROM sk WHERE skey LIKE 'k000000%'
        |  GROUP BY o_orderpriority
        |) ORDER BY slice, o_orderpriority""".stripMargin,
    "q_grouping_sets" ->
      """SELECT CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid,
        |  l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_win_ntile" ->
      """SELECT c_nationkey, c_custkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 4) AS pr,
        |  round(cume_dist() OVER w, 4) AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,

    "q_win_firstlast" ->
      """WITH x AS (SELECT o_custkey,
        |    row_number() OVER w AS rn,
        |    first_value(o_orderkey) OVER wf AS first_key,
        |    last_value(o_orderkey) OVER wf AS last_key,
        |    nth_value(o_orderkey, 2) OVER wf AS second_key
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT o_custkey, first_key, last_key, second_key
        |FROM x WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q_win_movavg" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS mov_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_win_range_frame" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS ts_s FROM events)
        |SELECT user_id, ts_s,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts_s
        |    RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS cnt_1h
        |FROM e ORDER BY user_id, ts_s, cnt_1h""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_retention_cohort" ->
      """WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |    FROM events GROUP BY user_id),
        |  a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS m
        |    FROM events)
        |SELECT f.cohort, a.m, count(*) AS users
        |FROM f JOIN a USING (user_id)
        |GROUP BY f.cohort, a.m ORDER BY f.cohort, a.m""".stripMargin,

    "q_string_agg" ->
      """SELECT s_nationkey,
        |  string_agg(s_name, '|' ORDER BY s_name) AS names,
        |  count(*) AS n
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_keep_latest" ->
      """WITH r AS (SELECT user_id, event_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, ts, event_type
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |  s AS (SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g)
        |SELECT user_id, CAST(sess AS BIGINT) AS sess, count(*) AS n_events,
        |  min(ts) AS t_start, max(ts) AS t_end
        |FROM s GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin,

    "q_shard_pack" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
        |    AS BIGINT) AS shard
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice * (SELECT count(*) FROM orders)
        |  > (SELECT CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_subquery_in" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_full" ->
      """WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
        |    FROM customer GROUP BY 1),
        |  s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
        |    FROM supplier GROUP BY 1)
        |SELECT coalesce(c.nk, s.nk) AS nk,
        |  coalesce(n_cust, 0) AS n_cust,
        |  coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.nk = s.nk ORDER BY nk""".stripMargin,

    "q_set_except_all" ->
      """SELECT f, count(*) AS n FROM (
        |  SELECT l_returnflag AS f FROM lineitem
        |  EXCEPT ALL
        |  SELECT 'A' AS f FROM orders WHERE 1 = 0)
        |GROUP BY f ORDER BY f""".stripMargin,

    "q_set_intersect_all" ->
      """SELECT nk, count(*) AS n FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  INTERSECT ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY nk ORDER BY nk""".stripMargin,

    "q_stats_agg" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(avg(l_discount), 4) AS avg_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_width_bucket" ->
      // DuckDB 1.0 has no width_bucket; this CASE replicates Spark's exact
      // semantics for (min=0, max=10000, n=20): bucket width 500, underflow 0,
      // overflow n+1.
      """SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
        |            WHEN o_totalprice >= 10000.0 THEN 21
        |            ELSE floor(o_totalprice / 500.0) + 1 END AS INT) AS bucket,
        |  count(*) AS cnt
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_hour_histogram" ->
      """SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS h, count(*) AS cnt,
        |  round(avg(value), 4) AS avg_value
        |FROM events GROUP BY h ORDER BY h""".stripMargin,

    "q_null_scalars" ->
      """SELECT event_id,
        |  nullif(event_type, 'error') AS non_error_type,
        |  coalesce(nullif(event_type, 'error'), 'ERR') AS typ,
        |  nullif(event_type, 'error') IS NULL AS is_err
        |FROM events ORDER BY event_id LIMIT 2000""".stripMargin,

    "q_case_classify" ->
      """SELECT event_type,
        |  CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid'
        |       ELSE 'high' END AS value_class,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type, value_class
        |ORDER BY event_type, value_class""".stripMargin,

    "q_dedup_norm" ->
      """SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS h,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY h ORDER BY h""".stripMargin,

    "q_funnel" ->
      """WITH signup AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS s_ts
        |    FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |  conv AS (SELECT s.user_id, s.s_ts,
        |      max(CASE WHEN CAST(p.ts AS TIMESTAMP) > s.s_ts THEN 1 ELSE 0 END)
        |        AS converted
        |    FROM signup s LEFT JOIN events p
        |      ON p.user_id = s.user_id AND p.event_type = 'purchase'
        |    GROUP BY s.user_id, s.s_ts)
        |SELECT CAST(s_ts AS DATE) AS signup_day,
        |  count(*) AS n_signups,
        |  CAST(sum(converted) AS BIGINT) AS n_converted,
        |  round(CAST(sum(converted) AS BIGINT) / count(*), 4) AS conv_rate
        |FROM conv GROUP BY signup_day ORDER BY signup_day""".stripMargin,

    "q_regex_filter" ->
      """SELECT lang, count(*) AS n FROM documents
        |WHERE regexp_matches(text, 'spark [a-z]+ join')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_array_funcs" ->
      """WITH x AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
        |SELECT doc_id,
        |  list_contains(ts, 'spark') AS has_spark,
        |  CAST(coalesce(list_position(ts, 'join'), 0) AS INT) AS join_pos,
        |  array_to_string(ts[1:5], ' ') AS head5,
        |  list_sort(ts)[1] AS first_sorted,
        |  CAST(len(list_distinct(ts)) AS INT) AS n_uniq
        |FROM x ORDER BY doc_id""".stripMargin,

    "q_topk_sketch" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, count(*) AS cnt
        |FROM events GROUP BY user_id
        |ORDER BY cnt DESC, CAST(user_id AS VARCHAR) LIMIT 10""".stripMargin,

    "q_json_struct" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
        |ORDER BY event_id""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id, lang FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) < '10'
        |ORDER BY doc_id""".stripMargin,

    "q_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, toks,
        |    CAST(sum(toks) OVER (PARTITION BY source ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_toks
        |  FROM t)
        |SELECT doc_id, source, toks, cum_toks FROM c
        |WHERE cum_toks <= 600 ORDER BY source, cum_toks""".stripMargin,

    "q_split_assign" ->
      """SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6' THEN 'train'
        |            WHEN md5(CAST(doc_id AS VARCHAR)) < 'f3' THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY split ORDER BY split""".stripMargin,

    "q_mixture_sample" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE CASE WHEN lang='en' THEN md5(CAST(doc_id AS VARCHAR)) < '20'
        |           WHEN lang='zh' THEN md5(CAST(doc_id AS VARCHAR)) < '80'
        |           ELSE md5(CAST(doc_id AS VARCHAR)) < 'c0' END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // same α=0.5 share arithmetic (sqrt, 6-decimal-rounded rate) and the
    // same md5-prefix integer threshold, replayed relationally
    "q_mixture_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |  zz AS (SELECT sum(sqrt(n)) AS z FROM c),
        |  r AS (SELECT lang, n,
        |      round(least(1.0, sqrt(n) / zz.z * 1000.0 / n), 6) AS rate
        |    FROM c CROSS JOIN zz)
        |SELECT d.lang, r.n, r.rate, count(*) AS kept
        |FROM documents d JOIN r ON r.lang = d.lang
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  < CAST(floor(r.rate * 4294967296.0) AS BIGINT)
        |GROUP BY d.lang, r.n, r.rate ORDER BY d.lang""".stripMargin,

    "q_unpivot" ->
      """WITH u AS (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |         l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |         l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |         l_discount FROM lineitem)
        |SELECT l_orderkey, l_linenumber, metric, round(val, 4) AS val
        |FROM u ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q_timeseries_zerofill" ->
      """WITH b AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS t,
        |             count(*) AS cnt
        |           FROM events GROUP BY 1),
        |  spine AS (SELECT unnest(generate_series(
        |    (SELECT min(t) FROM b), (SELECT max(t) FROM b),
        |    INTERVAL 1 HOUR)) AS t)
        |SELECT spine.t AS t, COALESCE(b.cnt, 0) AS cnt
        |FROM spine LEFT JOIN b ON spine.t = b.t ORDER BY t""".stripMargin,

    // The salt is pure plan shape — the oracle is the unsalted join.
    "q_skew_join" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // Same oracle through the SQL surface: the TVF is pure plan shape too.
    "q_skew_join_sql" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // Same contract for the aggregate: the oracle is the unsalted groupBy.
    "q_skew_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
        |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_bigram_pmi" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |  uni AS (SELECT w, count(*) AS c1 FROM (
        |    SELECT unnest(ts) AS w FROM toks) GROUP BY w),
        |  n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(ts) FROM toks)),
        |  bi AS (SELECT b['x'] AS w1, b['y'] AS w2, count(*) AS c12 FROM (
        |    SELECT unnest(list_transform(range(1, greatest(len(ts), 1)),
        |      i -> {'x': ts[i], 'y': ts[i+1]})) AS b FROM toks)
        |    GROUP BY w1, w2 HAVING count(*) >= 10)
        |SELECT w1, w2, c12,
        |  round(ln((c12 * n) / (ca * cb)), 4) AS pmi
        |FROM bi
        |JOIN (SELECT w AS w1, c1 AS ca FROM uni) USING (w1)
        |JOIN (SELECT w AS w2, c1 AS cb FROM uni) USING (w2)
        |CROSS JOIN n
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,

    "q_tfidf" ->
      """WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY doc_id, tok),
        |  df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |  n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.tok,
        |  round(tf * ln(CAST(n_docs AS BIGINT) / df), 4) AS tfidf
        |FROM tf JOIN df USING (tok) CROSS JOIN n
        |ORDER BY tfidf DESC, doc_id, tok LIMIT 50""".stripMargin,

    // Pure-relational MERGE semantics (shared mergeOracleCte): upserts and
    // inserts appear, batch keys vanish from the base, delete keys vanish
    // outright; a key in both the update and delete arms keeps the update
    // (upsert re-inserts after the key-level removal). Update keys come
    // only from touched partitions, so the NOT IN over all of orders is
    // exactly the operator's partition-scoped anti-join.
    "q_merge_upsert" ->
      s"""$mergeOracleCte
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // v1 = the untouched base table (snapshot isolation), v2 = the merged
    // relation (shared mergeOracleCte) — one oracle certifies both reads
    "q_merge_snapshot" ->
      s"""$mergeOracleCte,
        |  v1 AS (SELECT 1 AS version, o_orderpriority, count(*) AS n_orders,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |        AS sum_cents,
        |      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |    FROM orders GROUP BY o_orderpriority),
        |  v2 AS (SELECT 2 AS version, o_orderpriority, count(*) AS n_orders,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |        AS sum_cents,
        |      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |    FROM merged GROUP BY o_orderpriority)
        |SELECT version, o_orderpriority, n_orders, sum_cents, min_key,
        |  max_key
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |ORDER BY version, o_orderpriority""".stripMargin,

    // the relational diff of base vs merged: inserts are keys absent from
    // the base, deletes are keys absent from the merged relation, updates
    // emit BOTH images for keys whose full tuple changed (only
    // o_totalprice moves in this fixture, but the predicate compares every
    // column — same any-column-differs semantics as the operator's struct
    // compare)
    "q_snapshot_changes" -> {
      val differs =
        """b.o_custkey <> m.o_custkey
          |      OR b.o_orderstatus <> m.o_orderstatus
          |      OR b.o_totalprice <> m.o_totalprice
          |      OR b.o_orderdate <> m.o_orderdate
          |      OR b.o_orderpriority <> m.o_orderpriority""".stripMargin
      s"""$mergeOracleCte,
        |  chg AS (
        |    SELECT 'insert' AS _change_type, m.* FROM merged m
        |      WHERE m.o_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |    UNION ALL
        |    SELECT 'delete' AS _change_type, b.* FROM orders b
        |      WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM merged)
        |    UNION ALL
        |    SELECT 'update_preimage' AS _change_type, b.* FROM orders b
        |      JOIN merged m ON b.o_orderkey = m.o_orderkey
        |      WHERE $differs
        |    UNION ALL
        |    SELECT 'update_postimage' AS _change_type, m.* FROM orders b
        |      JOIN merged m ON b.o_orderkey = m.o_orderkey
        |      WHERE $differs)
        |SELECT _change_type, o_orderkey, o_custkey, o_orderstatus,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM chg ORDER BY _change_type, o_orderkey""".stripMargin
    },

    // v1 = the base table's shape, v2 = the merged relation's — partition
    // count is distinct priorities, row count plain count(*)
    "q_snapshot_history" ->
      s"""$mergeOracleCte
        |SELECT * FROM (
        |  SELECT 1 AS version, 'write' AS operation,
        |    CAST((SELECT count(DISTINCT o_orderpriority) FROM orders)
        |      AS INTEGER) AS n_partitions,
        |    (SELECT count(*) FROM orders) AS n_rows,
        |    TRUE AS ts_monotonic
        |  UNION ALL
        |  SELECT 2 AS version, 'merge' AS operation,
        |    CAST((SELECT count(DISTINCT o_orderpriority) FROM merged)
        |      AS INTEGER) AS n_partitions,
        |    (SELECT count(*) FROM merged) AS n_rows,
        |    TRUE AS ts_monotonic)
        |ORDER BY version""".stripMargin,

    // AS OF TIMESTAMP: the three probes replay relationally — the two
    // timestamps at/just-before the merge commit see the PRE-merge
    // relation, the merge's own stamp sees the post-merge one
    "q_snapshot_asof" ->
      s"""$mergeOracleCte,
        |  pre AS (SELECT o_orderpriority, count(*) AS n_orders,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |        AS sum_cents
        |    FROM orders GROUP BY o_orderpriority),
        |  post AS (SELECT o_orderpriority, count(*) AS n_orders,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |        AS sum_cents
        |    FROM merged GROUP BY o_orderpriority)
        |SELECT * FROM (
        |  SELECT 'at_v1' AS probe, * FROM pre
        |  UNION ALL SELECT 'before_v2' AS probe, * FROM pre
        |  UNION ALL SELECT 'at_v2' AS probe, * FROM post)
        |ORDER BY probe, o_orderpriority""".stripMargin,

    // delta fold ≡ recompute: the oracle aggregates the merged relation
    // from scratch; the operator never touches it
    "q_rollup_incremental" ->
      s"""$mergeOracleCte
        |SELECT o_orderpriority,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  count(*) AS n_orders
        |FROM merged GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // rollup fold ≡ GROUP BY ROLLUP recompute; DuckDB's grouping(a,b) bit
    // vector matches Spark's grouping_id() (first arg most significant —
    // the q_grouping_sets precedent), and avg derives from the maintained
    // sum/count identically on both engines (BIGINT/BIGINT → float
    // division of exact integers)
    "q_rollup_incremental_avg" ->
      s"""$mergeOracleCte,
        |  r AS (SELECT
        |      CAST(grouping(o_orderpriority, o_orderstatus) AS INT) AS gid,
        |      o_orderpriority, o_orderstatus,
        |      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |        AS sum_cents,
        |      count(*) AS n_orders
        |    FROM merged GROUP BY ROLLUP (o_orderpriority, o_orderstatus))
        |SELECT gid, o_orderpriority, o_orderstatus, sum_cents, n_orders,
        |  round(sum_cents / n_orders, 4) AS avg_cents
        |FROM r
        |ORDER BY gid, o_orderpriority ASC NULLS FIRST,
        |  o_orderstatus ASC NULLS FIRST""".stripMargin,

    // append∘append∘compact replayed relationally: v_k = the union of the
    // first k thirds; v4 (post-compaction) must equal v3 — pure layout
    "q_compact_store" -> {
      def vAgg(v: Int, pred: String) =
        s"""SELECT $v AS version, o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           |  FROM orders WHERE $pred GROUP BY o_orderpriority""".stripMargin
      Seq(vAgg(1, "o_orderkey % 3 = 1"),
        vAgg(2, "o_orderkey % 3 IN (1, 2)"),
        vAgg(3, "TRUE"), vAgg(4, "TRUE"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY version, o_orderpriority")
    },

    // legacy (odd-key) rows were written before o_orderstatus existed, so
    // only even-key rows contribute to count(o_orderstatus)
    "q_snapshot_evolve" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  count(CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus END)
        |    AS n_status,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_snapshot_segmented" -> {
      def sAgg(v: Int, pred: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
           |    $v AS slice
           |  FROM orders WHERE $pred GROUP BY o_orderpriority""".stripMargin
      Seq(sAgg(1, "o_orderkey % 3 = 1"),
        sAgg(2, "o_orderkey % 3 IN (1, 2)"),
        sAgg(3, "TRUE"),
        sAgg(4, "o_orderpriority IN ('1-URGENT', '5-LOW')"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY slice, o_orderpriority")
    },

    "q_snapshot_rename" -> {
      def rAgg(v: Int, pred: String) =
        s"""SELECT o_orderpriority, count(*) AS n_orders,
           |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |      AS sum_cents,
           |    $v AS slice
           |  FROM orders WHERE $pred GROUP BY o_orderpriority""".stripMargin
      Seq(rAgg(1, "o_orderkey % 2 = 0"), rAgg(3, "TRUE"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY slice, o_orderpriority")
    },

    // compact is pure layout and rollback returns the head to version 2
    // (thirds 1+2 appended) — the SQL verbs must leave exactly that content
    "q_maintain_sql" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 3 IN (1, 2)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_profile_table" ->
      Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))
}
