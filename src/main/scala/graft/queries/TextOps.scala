package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Text-analysis + deduplication operators over the `documents` table — the
  * training-data-pipeline extension surface (north star in BASELINE.json).
  *
  * Everything here is a narrow per-row transform (higher-order functions over
  * the token array, inside whole-stage codegen) followed by at most one hash
  * aggregate — the shape that scales to 100 TB: no explode on the hot path
  * except where the operator is genuinely set-oriented (token counting,
  * shingle joins), and those aggregate partially before shuffling.
  */
object TextOps extends QueryModule {

  /** Trained pruned bigram models for `q_lm_perplexity_bc`, memoized per
    * session + dataset fingerprint + caps — the KenLM-file pattern: train
    * once, score every later query. Bounded: one (cb, cw, vocab) triple
    * per dataset at the pinned caps.
    */
  private val lmModels = scala.collection.concurrent.TrieMap
    .empty[String, (Map[String, Long], Map[String, Long], Long)]

  /** The one-time LM train pass behind `q_lm_perplexity_bc`: ONE corpus
    * pass builds the pair counts; the context counts are the pair counts
    * re-aggregated by w1 (cw(w1) = SUM_w2 cb(w1,w2) exactly — every bigram
    * occurrence contributes to both), so the persist makes the model build
    * cost one scan + one distinct-bigram-sized agg instead of two corpus
    * scans. Caps apply AFTER the derivation, so cw stays the true context
    * total even where topB bites. The smoothing denominator is the FULL
    * vocabulary size (the prune caps the model's ENTRIES, not the smoothing
    * constant).
    */
  private def trainLmModel(docs: org.apache.spark.sql.DataFrame,
      topV: Int, topB: Int): (Map[String, Long], Map[String, Long], Long) = {
    val sep = "\u0001" // must match LmScore.Sep (the bigram map key join)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
    val b = toks.select(explode(expr(
        """transform(sequence(0, size(tk)-2),
          |  i -> named_struct('w1', tk[i], 'w2', tk[i+1]))""".stripMargin))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val cbDf = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cbDf.count() // materialize the agg once
    val cbM = cbDf.orderBy(col("cb").desc, col("w1"), col("w2")).limit(topB)
      .collect().map(r => (r.getString(0) + sep + r.getString(1)) -> r.getLong(2))
      .toMap
    val cwM = cbDf.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
      .orderBy(col("cw").desc, col("w1")).limit(topV)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cbDf.unpersist(false)
    val vocab = docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(count_distinct(col("tok"))).collect()(0).getLong(0)
    (cbM, cwM, vocab)
  }

  /** Cached JSONL/CSV renderings of the documents table for the
    * source-format queries: built once per dataset+format (fingerprint-
    * keyed), read back through the REAL `spark.read.json/csv` paths. The
    * queries' hash gates then certify byte-fidelity of the round-trip —
    * JSONL being the interchange format every LLM corpus actually ships
    * in, and CSV the long tail.
    */
  private val srcBuilt =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def docsRendered(s: org.apache.spark.sql.SparkSession,
                           d: String, fmt: String): String = {
    val key = s"$fmt|$d|" +
      graft.storage.BucketedTables.sourceFingerprint(d, "documents")
    srcBuilt.getOrElseUpdate(key, {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v2|$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_docsrc_$fmt-$h"
      // atomic publish: a concurrent Verify/Bench JVM must reuse the
      // rendered fixture, never overwrite it while this JVM reads it
      graft.storage.AtomicDir.publishOnce(dir) { tmp =>
        val w = t(s, d, "documents").coalesce(2).write.mode("overwrite")
        fmt match {
          case "json" => w.json(tmp)
          case "csv"  => w.option("header", "true").csv(tmp)
          case "orc"  => w.orc(tmp)
        }
      }
    })
  }

  /** Two-generation parquet layout for the schema-evolution gate: batch b1
    * was written before the corpus carried `n_chars`/`source` (doc_id % 2 = 0
    * rows, three columns), batch b2 after (the rest, full five). Rendered
    * once per source fingerprint, atomically published like [[docsRendered]].
    */
  private def docsEvolved(s: org.apache.spark.sql.SparkSession,
                          d: String): String = {
    val key = s"evo|$d|" +
      graft.storage.BucketedTables.sourceFingerprint(d, "documents")
    srcBuilt.getOrElseUpdate(key, {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v1|$key".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_docsevo-$h"
      graft.storage.AtomicDir.publishOnce(dir) { tmp =>
        val docs = t(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"), col("lang"))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/b1")
        docs.filter(col("doc_id") % 2 =!= 0)
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/b2")
      }
    })
  }

  private val DocsSchema =
    "doc_id bigint, text string, lang string, source string, n_chars bigint"

  /** Deterministic tiny stopword set for the language-ID heuristic. */
  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private val enStopSqlList = enStop.map(w => s"'$w'").mkString("(", ", ", ")")

  /** q_ngram_jaccard candidate policy: max document frequency of a shingle
    * that still generates candidate pairs (see the query's doc comment).
    */
  val DfCap = 5

  /** PII patterns (RE2/Java-compatible, evaluated identically by DuckDB). */
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Shared oracle CTE chain ending in `pairs(a, b, jaccard)` — the DuckDB
    * mirror of [[ngramPairs]].
    */
  private def ngramPairCtes: String =
    s"""tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
       |  sh AS (SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, greatest(len(ts)-1, 1)),
       |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
       |    FROM tok) WHERE sh IS NOT NULL AND length(sh) > 0),
       |  counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |  rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND $DfCap),
       |  cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |    FROM sh x JOIN rare USING (sh) JOIN sh y USING (sh)
       |    WHERE x.doc_id < y.doc_id),
       |  inter AS (SELECT c.a, c.b, count(*) AS inter
       |    FROM cand c JOIN sh p ON p.doc_id = c.a JOIN sh q
       |      ON q.doc_id = c.b AND q.sh = p.sh
       |    GROUP BY c.a, c.b),
       |  pairs AS (SELECT i.a, i.b,
       |      round(inter / (ca.n_sh + cb.n_sh - inter), 4) AS jaccard
       |    FROM inter i JOIN counts ca ON ca.doc_id = i.a
       |      JOIN counts cb ON cb.doc_id = i.b
       |    WHERE round(inter / (ca.n_sh + cb.n_sh - inter), 4) >= 0.5)""".stripMargin

  /** Verified near-dup pairs (a < b, Jaccard ≥ 0.5) via the inverted-index
    * candidate policy documented on q_ngram_jaccard.
    *
    * Per-doc distinct shingle ARRAYs stay in one row; only (shingle, doc_id)
    * pairs of RARE shingles flow through the candidate join, and exact
    * Jaccard is computed by IntersectSize after re-attaching the arrays —
    * no shuffle ever carries an array, no distinct on arrays. persist(): the
    * shingle table fans out to three consumers (the df aggregate and both
    * re-attach joins); without it the codegen'd Shingles3 pass runs once per
    * consumer (this was the worst bench query). MEMORY_AND_DISK spills
    * gracefully on executors at scale.
    */
  private def ngramPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    graft.operators.Dedup.register(s)
    val docs = t(s, d, "documents")
    // no empty-shingle filter: a doc with no shingle explodes to no row,
    // so it never reaches a candidate or a re-attach join (a filter here
    // would be pushed below the Project and re-run the shingle kernel)
    val shArr = docs.select(col("doc_id"),
        graft.operators.Dedup.shingles(col("text")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize the (small) verified pairs eagerly and release the shingle
    // cache, also when the call fails — CacheManager entries are never GC'd,
    // so returning a lazy plan over the persisted table leaked executor
    // cache per call. Bonus for q_dedup_clusters: its label-propagation
    // rounds now iterate on a checkpointed edge set instead of re-deriving
    // it.
    try {
      val exploded = shArr.select(col("doc_id"), explode(col("sh")).as("sh1"))
      val rare = exploded.groupBy(col("sh1")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, DfCap)).select("sh1")
      val ra = exploded.join(rare, "sh1")
      val cand = ra.select(col("sh1"), col("doc_id").as("a"))
        .join(ra.select(col("sh1"), col("doc_id").as("b")), "sh1")
        .filter(col("a") < col("b"))
        .select("a", "b").distinct()
      cand
        .join(shArr.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
        .join(shArr.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
        .withColumn("inter", graft.expressions.TextHashes
          .intersectSize(col("sha"), col("shb")))
        .select(col("a"), col("b"),
          round(col("inter") /
            (size(col("sha")) + size(col("shb")) - col("inter")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .localCheckpoint()
    } finally shArr.unpersist(false)
  }

  def queries: Seq[(String, QFn)] = Seq(
    // Generator/UDTF surface: tokenize, explode, count — global term frequencies.
    "q_explode_tokens" -> ((s, d) => {
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(50)
    }),

    // Exact dedup by content hash: one hash aggregate, keep lowest doc_id.
    "q_dedup_exact" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("h"))
    }),

    // Incremental dedup: a NEW batch (doc_id % 3 == 0, a deterministic
    // stand-in for "today's crawl") against the historical corpus (the
    // rest). Bloom prefilter over history hashes + exact text verification
    // of the candidates only — Dedup.incrementalNew documents why this
    // beats one big anti-join at 100 TB. Result is EXACT (the bloom has no
    // false negatives; false positives are text-verified), so the oracle
    // is a plain NOT IN.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Dedup.incrementalNew(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0), "text")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Sub-document exact dedup (the RefinedWeb/CCNet "line dedup" shape,
    // with fixed 10-token segments standing in for lines on this corpus):
    // segment every doc, drop any segment whose text occurs in MORE THAN
    // ONE distinct document, reassemble the survivors in order. 100 TB
    // shape: the corpus-wide duplicate check groups on md5(segment) — the
    // shuffle carries (hash, doc_id), never all-pairs; reassembly is one
    // partial-aggregable groupBy(doc_id). Both ordered rebuilds use
    // array_sort(collect_list(struct(idx, ...))) — collect_list order is
    // not guaranteed, the sort is what makes the result deterministic.
    "q_dedup_segments" -> ((s, d) => {
      // segmentation is NARROW: consecutive 10-token windows come straight
      // from slice() over the split array — no per-token explode, no
      // groupBy-rebuild shuffle. (r9 100× probe: the old posexplode +
      // collect_list formulation re-shuffled every token and went 2.4×
      // superlinear once partitions started spilling; per-row slicing
      // leaves the corpus-wide duplicate check as the query's ONLY
      // data-sized shuffle, which is the RefinedWeb line-dedup shape.)
      // NOT materialized: both consumers (duplicate check + reassembly)
      // recompute this narrow projection from the scan — two linear
      // embarrassingly-parallel passes beat checkpointing a corpus-sized
      // segment table through executor storage at scale (and the old
      // persist() leaned on external cache clears, r8 ADVICE).
      val segs = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), expr("(size(toks) - 1) DIV 10")),
          i => array_join(slice(col("toks"), i * 10 + 1, lit(10)), " "))))
        .select(col("doc_id"), col("pos").as("seg"),
          col("col").as("seg_text"))
        .withColumn("h", md5(col("seg_text")))
      val shared = segs
        .groupBy(col("h"))
        .agg(count_distinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1)
        .select(col("h"))
      val rebuilt = segs
        .join(shared, Seq("h"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("seg"), col("seg_text")))),
            x => x.getField("seg_text")), " ").as("clean_text"))
      t(s, d, "documents").select(col("doc_id"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // Per-source boilerplate removal (the CCNet/site-template shape): a
    // segment is boilerplate WITHIN ITS SOURCE when it recurs across ≥2
    // distinct docs AND ≥5% of the source's docs — the nav-bar/footer
    // text a crawler sees on every page of one site, which global segment
    // dedup (q_dedup_segments) would miss whenever the fraction of docs
    // sharing it stays below its cross-corpus rarity. Same 100 TB shape
    // as segment dedup: narrow slice() segmentation, the (source, hash)
    // frequency check is the only data-sized shuffle, and the per-source
    // size table is dimension-tiny (one row per source → broadcast).
    "q_boilerplate_strip" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val segs = docs
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("source"), posexplode(transform(
          sequence(lit(0), expr("(size(toks) - 1) DIV 10")),
          i => array_join(slice(col("toks"), i * 10 + 1, lit(10)), " "))))
        .select(col("doc_id"), col("source"), col("pos").as("seg"),
          col("col").as("seg_text"))
        .withColumn("h", md5(col("seg_text")))
      val srcSizes = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src_docs"))
      val boiler = segs
        .groupBy(col("source"), col("h"))
        .agg(count_distinct(col("doc_id")).as("n_docs"))
        .join(broadcast(srcSizes), "source")
        // integer form of n_docs >= 2 && n_docs/n_src_docs >= 0.05
        .filter(col("n_docs") >= 2 &&
          col("n_docs") * lit(20) >= col("n_src_docs"))
        .select(col("source"), col("h"))
      val rebuilt = segs
        .join(boiler, Seq("source", "h"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("seg"), col("seg_text")))),
            x => x.getField("seg_text")), " ").as("clean_text"))
      docs.select(col("doc_id"), col("source"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // Per-language corpus statistics incl. exact median (percentile parity
    // with DuckDB quantile_cont validated on this data).
    "q_text_stats" -> ((s, d) => {
      val toks = size(split(col("text"), " "))
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          round(avg(toks), 4).as("avg_toks"),
          round(expr("percentile(n_chars, 0.5D)"), 4).as("p50_chars"))
        .orderBy(col("lang"))
    }),

    // Language-ID n-gram/stopword heuristic: per-doc stopword ratio → label.
    "q_lang_id" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val sw = typedLit(enStop)
      val nSw = size(filter(toks, tk => array_contains(sw, tk)))
      t(s, d, "documents")
        .select(col("doc_id"),
          round(nSw.cast("double") / size(toks), 4).as("sw_ratio"),
          when(nSw.cast("double") / size(toks) > 0.05, "en").otherwise("und")
            .as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: token count, distinct-token ratio, mean token length,
    // composite score — all per-row, no shuffle.
    "q_text_quality" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val nUniq = size(array_distinct(toks))
      val sumLen = aggregate(toks, lit(0L), (acc, tk) => acc + length(tk))
      t(s, d, "documents")
        .select(col("doc_id"), nTok.as("n_tok"), nUniq.as("n_uniq"),
          round(sumLen / nTok, 4).as("mean_tok_len"),
          round(least(lit(1.0), nTok / lit(200.0)) * (nUniq / nTok.cast("double")), 4)
            .as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Filter AUDIT report (the Dolma-style observability layer of a
    // filtering pipeline): per doc, the ordered list of named rules it
    // fails and the resulting keep flag — you don't just drop documents
    // at 100 TB, you account for every drop. All four rules are integer/
    // string comparisons (no FP thresholds), so the report is bit-exact
    // across engines; per-row narrow projection, no shuffle but the
    // output sort.
    "q_filter_report" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks).cast("long")
      val nUniq = size(array_distinct(toks)).cast("long")
      val sumLen = aggregate(toks, lit(0L), (acc, tk) => acc + length(tk))
      val reasons = array(
        when(nTok < 20L, lit("too_short")),
        when(nUniq * 2 < nTok, lit("low_diversity")),
        when(sumLen > nTok * 8, lit("long_tokens")),
        when(col("lang") === "zh", lit("unsupported_lang")))
      t(s, d, "documents")
        .select(col("doc_id"),
          array_join(filter(reasons, x => x.isNotNull), ",").as("reasons"))
        .select(col("doc_id"), (col("reasons") === "").as("keep"),
          col("reasons"))
        .orderBy(col("doc_id"))
    }),

    // Token counting: whitespace split vs a BPE-ish regex segmentation.
    "q_token_count" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting: rolling polynomial hash over characters —
    // a left fold, bit-identical across engines (integer arithmetic only).
    "q_fingerprint" -> ((s, d) => {
      val chars = split(col("text"), "")
      val fp = aggregate(chars, lit(0L),
        (acc, c) => (acc * 31 + ascii(c)) % 1000000007L)
      t(s, d, "documents")
        .select(col("doc_id"), fp.as("fp"))
        .orderBy(col("doc_id"))
    }),

    // N-gram Jaccard near-dup: inverted-index candidate generation (pairs
    // sharing a discriminative 3-shingle) then exact Jaccard verification.
    // Both stages are hash joins on shingle/doc keys — no cross join anywhere.
    //
    // Candidate policy (declared, mirrored by the oracle): a shingle
    // generates candidates iff its document frequency is in [2, DfCap].
    // df≥2 is definitional (a df-1 shingle pairs nothing); df≤DfCap bounds
    // the d·(d-1)/2 pair blowup of boilerplate shingles — the standard
    // inverted-index prefix-filter tradeoff. Recall: a pair at Jaccard ≥ 0.5
    // shares ≥ 1/3 of its combined shingle set, so it is missed only if
    // EVERY shared shingle is boilerplate (df > DfCap) — vanishingly rare
    // for natural text, and the MinHash operator (q_dedup_near) provides the
    // df-independent path when that guarantee matters.
    "q_ngram_jaccard" -> ((s, d) =>
      ngramPairs(s, d).orderBy(col("a"), col("b"))),

    // Near-dup CLUSTER canonicalization: connected components over the
    // verified ngram-Jaccard pairs, canonical id = component minimum — the
    // "which copy do we keep" step after pair detection. Fixpoint-guarded
    // min-label propagation ([[graft.operators.Components]]): iterates
    // until the per-round changed-label count hits zero, so chain-shaped
    // components of ANY diameter converge (the recursive-CTE oracle
    // computes the same fixpoint). Scale: per-iteration cost is a join on
    // the EDGE set (|pairs|, not |docs|), the classic iterative-graph shape.
    "q_dedup_clusters" -> ((s, d) => {
      val pairs = ngramPairs(s, d).select(col("a"), col("b"))
      graft.operators.Components.connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("lbl").as("canon"))
        .orderBy(col("doc_id"))
    }),

    // The SURVIVOR-CORPUS decision fuzzy dedup exists for: per near-dup
    // cluster keep exactly ONE document — the longest text (quality
    // proxy), doc_id the deterministic tiebreak — and emit every doc
    // with its cluster id, cluster size, and keep verdict (downstream
    // filters on `keep`, audits on the rest). Singletons keep themselves
    // via the left join against the component labels. Scale: components
    // iterate on the EDGE set; the verdict is one window over the
    // cluster id — |docs| + |pairs| work, no all-pairs anywhere.
    "q_dedup_keepbest" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canon"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canon"))
      val pairs = ngramPairs(s, d).select(col("a"), col("b"))
      val comp = graft.operators.Components.connectedComponents(pairs)
      t(s, d, "documents")
        .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
        .join(comp.select(col("node").as("doc_id"), col("lbl")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("canon"),
          col("n_chars"))
        .withColumn("cluster_size", count(lit(1)).over(wc))
        .withColumn("keep", row_number().over(w) === 1)
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing (pipeline hygiene op): redact IPv4s and emails from raw
    // log lines before they enter a training corpus. Narrow per-row regex
    // rewrite — shuffle-free at any scale. Fixture lines carry real client
    // IPs, so the redaction is exercised, not vacuous.
    "q_pii_redact" -> ((s, _) => {
      val fx = graft.operators.AccessLog.fixtures(s)
      fx.select(col("id"),
          size(regexp_extract_all(col("line"), lit(IpRe), lit(0))).as("n_ip"),
          regexp_replace(regexp_replace(col("line"), IpRe, "<IP>"),
            EmailRe, "<EMAIL>").as("redacted"))
        .orderBy(col("id"))
    }),

    // Within-doc repetition score (quality signal: boilerplate/spam has a
    // dominant token): max term frequency over total tokens.
    "q_repetition" -> ((s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_tf"), sum(col("c")).as("n_tok"))
        .select(col("doc_id"), col("max_tf"),
          round(col("max_tf") / col("n_tok"), 4).as("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: flag corpus docs sharing any 3-shingle with
    // the eval set (doc_id < 10 stands in for the benchmark). The eval
    // shingle set is bounded → broadcast, so the corpus side never shuffles:
    // the exact shape of a 100 TB decontamination pass against a fixed
    // benchmark suite.
    "q_contamination" -> ((s, d) => {
      graft.operators.Dedup.register(s)
      // NO shared persist here: the eval (<10) and corpus (>=10) branches
      // select DISJOINT row sets, so a shared cache would compute shingles
      // for everything while blocking each branch's filter pushdown into the
      // scan — two pruned scans are strictly cheaper (and leak no cache).
      def sh = t(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.operators.Dedup.shingles(col("text"))).as("sh"))
      val evalSh = sh.filter(col("doc_id") < 10).select("sh").distinct()
      sh.filter(col("doc_id") >= 10)
        .join(broadcast(evalSh), "sh")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
        .orderBy(col("doc_id"))
    }),

    // LM-perplexity quality filter (the CCNet/Wikipedia-LM shape): train a
    // bigram language model with add-k smoothing on the corpus itself, then
    // score every document by perplexity under it — low-ppl ≈ fluent, high-
    // ppl ≈ garbled/boilerplate, the standard pretraining quality dial.
    // Scale shape: bigram extraction is a NARROW array transform (sequence +
    // transform inside codegen, no shuffle before the counts); the model is
    // two hash aggregates (pair counts, context counts) sized by DISTINCT
    // bigrams, not corpus rows; scoring re-joins the doc bigrams to the
    // model on (w1,w2) — at 100 TB the model would be pruned to a top-V
    // vocabulary and BROADCAST, turning the score pass shuffle-free. FP
    // discipline: each log term is a function of exact integer counts; the
    // per-doc sum is a SORTED left fold over bigram positions, so agg order
    // can't reorder double addition vs the oracle.
    "q_lm_perplexity" -> ((s, d) => {
      val K = 0.1
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
      val b = toks.select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(tk)-2),
            |  i -> named_struct('pos', i, 'w1', tk[i], 'w2', tk[i+1]))"""
            .stripMargin)).as("bg"))
        .select(col("doc_id"), col("bg.pos").as("pos"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val cb = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      val cw = b.groupBy(col("w1")).agg(count(lit(1)).as("cw"))
      val v = docs.select(explode(split(col("text"), " ")).as("tok"))
        .agg(count_distinct(col("tok")).as("v"))
      val lp = b.join(cb, Seq("w1", "w2")).join(cw, Seq("w1")).crossJoin(v)
        .select(col("doc_id"), col("pos"),
          log((col("cb") + K) / (col("cw") + lit(K) * col("v"))).as("lp"))
      lp.groupBy(col("doc_id"))
        .agg(collect_list(struct(col("pos"), col("lp"))).as("ls"),
          count(lit(1)).as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          round(exp(expr(
              "-aggregate(array_sort(ls), 0.0D, (acc, x) -> acc + x.lp)")
            / col("n_bigrams")), 4).as("ppl"))
        .orderBy(col("doc_id"))
    }),

    // The 100 TB shape of the same perplexity filter (the r6 verdict's gap:
    // the path above was documented, not implemented): the bigram model is
    // PRUNED to a bounded vocabulary/pair budget (top-V contexts, top-B
    // pairs, deterministic count-desc/lexical tie-break) and shipped to the
    // executors as broadcast map literals — bounded driver state, the
    // KenLM-file pattern of a CCNet-style pipeline. The score pass is then
    // SHUFFLE-FREE: one narrow projection computes every document's
    // perplexity in place — no bigram explode, no corpus-sized join, no
    // per-doc aggregate (ScaleProbe100's lm section pins zero exchanges
    // upstream of the presentation sort). A pruned-away bigram scores as
    // unseen ((0+K)/(0+KV)) — well-defined smoothing semantics; at the fixture
    // scales the corpus fits the caps with 70x headroom (31 tokens / ~931
    // bigrams, caps 65536 / 262144), so the prune is semantics-preserving
    // and the query shares q_lm_perplexity's oracle hash. FP discipline:
    // the per-doc sum folds over bigram POSITIONS ascending — the same
    // order the base query's array_sort(pos) fold uses, so the doubles add
    // identically.
    "q_lm_perplexity_bc" -> ((s, d) => {
      val K = 0.1
      val topV = 65536
      val topB = 262144
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
      // the KenLM-file pattern all the way down: the pruned model is
      // TRAINED ONCE per dataset (memo keyed by session + source-file
      // fingerprint + caps) and its broadcast pair is reused across
      // executions (LmScore.register cacheKey) — only the score pass runs
      // per query, which is the production shape and also stops replaced
      // broadcast blocks accumulating until GC.
      val modelKey = s"${graft.SessionIds.of(s)}|$d|" +
        graft.storage.BucketedTables.sourceFingerprint(d, "documents") +
        s"|$topV|$topB"
      val (cbMap, cwMap, v) = lmModels.getOrElseUpdate(modelKey,
        trainLmModel(docs, topV, topB))
      // scoring is a NATIVE codegen'd expression (expressions/LmScore): the
      // Column lambda form evaluated interpreted with linear-scan map-literal
      // lookups (~6 s at sf0.1); one JIT'd pass with hash lookups is ~20x
      // cheaper and folds in the identical position order
      graft.expressions.LmScore.register(s, cbMap, cwMap, K, v,
        cacheKey = Some(modelKey))
      toks.select(col("doc_id"),
          (size(col("tk")) - 1).cast("long").as("n_bigrams"),
          call_function("graft_lm_score", col("tk")).as("sum_lp"))
        .select(col("doc_id"), col("n_bigrams"),
          round(exp(-col("sum_lp") / col("n_bigrams")), 4).as("ppl"))
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer training + subword segmentation — the tokenizer step of
    // an LLM pipeline: train 48 merges on the corpus' word histogram
    // (operators.Bpe: histogram-sized rounds, size-switched driver/
    // distributed trainer, parity-tested), then re-encode every document
    // with the native codegen'd greedy encoder. Output: whitespace vs BPE
    // token counts + the resulting compression. Greedy rank-order BPE is
    // not SQL-expressible → rows-only; BpeSpec carries the correctness
    // (naive-reference parity, round-trip, classic-corpus merges).
    "q_bpe_encode" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = graft.operators.Bpe.train(docs, "text", numMerges = 48)
      // in-gate DETERMINISM receipt (r18): training twice over the same
      // corpus must learn the identical merge list — the FP concern
      // that makes this gate rows-only is certified by the driver's own
      // run, not just BpeSpec
      val merges2 = graft.operators.Bpe.train(docs, "text", numMerges = 48)
      require(merges2 == merges,
        s"q_bpe_encode: BPE training must be deterministic " +
          s"(${merges.size} vs ${merges2.size} merges)")
      graft.operators.Bpe.register(s, merges)
      val toks = split(col("text"), " ")
      val got = docs.select(col("doc_id"), col("n_chars"),
          size(toks).as("n_words"),
          size(graft.operators.Bpe.encode(toks)).as("n_bpe"))
        .select(col("doc_id"), col("n_words"), col("n_bpe"),
          round(col("n_chars") / col("n_bpe"), 4).as("chars_per_tok"))
        .orderBy(col("doc_id"))
        .persist()
      // subword conservation: BPE splits words into >= 1 tokens each
      val viol = got.filter(col("n_bpe") < col("n_words") ||
        col("n_bpe").isNull).count()
      require(viol == 0,
        s"q_bpe_encode: $viol row(s) violate n_bpe >= n_words")
      got
    }),

    // JSONL source: the documents table rendered to JSON-lines (the
    // interchange format LLM corpora ship in) and read back through the
    // real spark.read.json path with an explicit schema (schema'd read —
    // no sampling inference pass at scale). The aggregate includes
    // sum(length(text)), so the hash gate certifies BYTE fidelity of the
    // escape/parse round-trip, not just row counts.
    "q_source_jsonl" -> ((s, d) => {
      s.read.schema(DocsSchema).json(docsRendered(s, d, "json"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"),
          min(col("doc_id")).as("first_id"))
        .orderBy(col("lang"))
    }),

    // CSV source: same round-trip contract through spark.read.csv
    // (header + explicit schema; quote/escape handling exercised for real).
    "q_source_csv" -> ((s, d) => {
      s.read.schema(DocsSchema).option("header", "true")
        .csv(docsRendered(s, d, "csv"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"),
          min(col("doc_id")).as("first_id"))
        .orderBy(col("lang"))
    }),

    // ORC source: the third columnar interchange format (Spark-native ORC
    // writer/reader — no extra deps), same byte-fidelity contract as
    // jsonl/csv. ORC carries its own schema, so no explicit read schema.
    "q_source_orc" -> ((s, d) => {
      s.read.orc(docsRendered(s, d, "orc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_len"),
          min(col("doc_id")).as("first_id"))
        .orderBy(col("lang"))
    }),

    // The `graft-snapshot` BATCH relation (r16): a plain
    // spark.read.format(...).filter(...) gets the store's manifest
    // pruning through Spark's own filter pushdown — require-pinned: the
    // inner scan opens only the gens the predicate can touch. Slices:
    // 1 = pushed-filter read of one language, 2 = version-1 time travel
    // through the same format (option("version", "1")).
    "q_source_snapshot" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("graft_srcq")
        .toString + "/docs_src"
      graft.storage.SnapshotStore.write(
        docs.filter(col("doc_id") % 2 === 0), dir, "lang",
        statsCols = Seq("doc_id", "n_chars"))
      graft.storage.SnapshotStore.append(
        docs.filter(col("doc_id") % 2 === 1), dir, "lang")
      def agg(df: org.apache.spark.sql.DataFrame, slice: Int) =
        df.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("first_id"))
          .withColumn("slice", lit(slice))
      val f = s.read.format("graft-snapshot").load(dir)
        .filter(col("doc_id") % 7 === 0)
      val slice1 = agg(f, 1)
      val v1 = s.read.format("graft-snapshot").option("version", "1")
        .load(dir)
      slice1.unionByName(agg(v1, 2))
        .orderBy(col("slice"), col("lang"))
    }),

    // Schema evolution: a corpus written across two schema generations
    // (b1: three columns, b2: five) read back through parquet mergeSchema —
    // the 100 TB reality of years-old shards coexisting with new ones.
    // Missing columns surface as NULL; the aggregate separates them
    // (n_legacy) so the gate certifies null-semantics, not just unioning.
    "q_source_evolution" -> ((s, d) => {
      val evo = docsEvolved(s, d)
      s.read.option("mergeSchema", "true").parquet(s"$evo/b1", s"$evo/b2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_modern"),
          sum(when(col("n_chars").isNull, 1).otherwise(0)).as("n_legacy"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("first_id"))
        .orderBy(col("lang"))
    }),

    // Binary-column plumbing (multimodal surface): treat text bytes as an
    // opaque blob, expose byte length + prefix fingerprint.
    "q_binary_meta" -> ((s, d) => {
      val bin = col("text").cast("binary")
      t(s, d, "documents")
        .select(col("doc_id"),
          length(bin).as("n_bytes"),
          lower(hex(substring(bin, 1, 8))).as("prefix_hex"))
        .orderBy(col("doc_id"))
    }))

  def oracle: Seq[(String, String)] = Seq(
    "q_explode_tokens" ->
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY h ORDER BY h""".stripMargin,

    "q_dedup_incremental" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id % 3 = 0
        |  AND text NOT IN
        |    (SELECT text FROM documents WHERE doc_id % 3 <> 0)
        |ORDER BY doc_id""".stripMargin,

    // the oracle reads the PARQUET table: a hash match therefore certifies
    // the engine-side JSONL/CSV render+parse round-trip byte-for-byte
    "q_source_jsonl" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  min(doc_id) AS first_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_source_csv" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  min(doc_id) AS first_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_source_orc" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  min(doc_id) AS first_id
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_source_snapshot" ->
      """SELECT * FROM (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    min(doc_id) AS first_id, 1 AS slice
        |  FROM documents WHERE doc_id % 7 = 0 GROUP BY lang
        |  UNION ALL
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    min(doc_id) AS first_id, 2 AS slice
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY lang)
        |ORDER BY slice, lang""".stripMargin,

    // The oracle rebuilds the two-generation view from the one parquet
    // table: even doc_ids lose their n_chars (legacy schema), odd keep it.
    "q_source_evolution" ->
      """WITH evolved AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  count(n_chars) AS n_modern,
        |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS first_id
        |FROM evolved GROUP BY lang ORDER BY lang""".stripMargin,

    "q_dedup_segments" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |w AS (SELECT doc_id, unnest(range(len(tk))) AS pos, tk FROM toks),
        |w2 AS (SELECT doc_id, pos, tk[pos + 1] AS w FROM w),
        |seg AS (SELECT doc_id, pos // 10 AS seg,
        |    string_agg(w, ' ' ORDER BY pos) AS seg_text
        |  FROM w2 GROUP BY doc_id, pos // 10),
        |shared AS (SELECT seg_text FROM seg
        |  GROUP BY seg_text HAVING count(DISTINCT doc_id) > 1),
        |rebuilt AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(seg_text, ' ' ORDER BY seg) AS clean_text
        |  FROM seg WHERE seg_text NOT IN (SELECT seg_text FROM shared)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_filter_report" ->
      """WITH x AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ' '), tk -> length(tk)::BIGINT)),
        |      (a, b) -> a + b) AS sum_len
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    coalesce(array_to_string(list_filter([
        |      CASE WHEN n_tok < 20 THEN 'too_short' END,
        |      CASE WHEN n_uniq * 2 < n_tok THEN 'low_diversity' END,
        |      CASE WHEN sum_len > n_tok * 8 THEN 'long_tokens' END,
        |      CASE WHEN lang = 'zh' THEN 'unsupported_lang' END],
        |      x -> x IS NOT NULL), ','), '') AS reasons
        |  FROM x)
        |SELECT doc_id, reasons = '' AS keep, reasons FROM r
        |ORDER BY doc_id""".stripMargin,

    "q_boilerplate_strip" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS tk
        |  FROM documents),
        |w AS (SELECT doc_id, source, unnest(range(len(tk))) AS pos, tk FROM toks),
        |w2 AS (SELECT doc_id, source, pos, tk[pos + 1] AS w FROM w),
        |seg AS (SELECT doc_id, source, pos // 10 AS seg,
        |    string_agg(w, ' ' ORDER BY pos) AS seg_text
        |  FROM w2 GROUP BY doc_id, source, pos // 10),
        |sz AS (SELECT source, count(*) AS n_src_docs FROM documents GROUP BY source),
        |boiler AS (SELECT s.source, s.seg_text
        |  FROM seg s JOIN sz ON s.source = sz.source
        |  GROUP BY s.source, s.seg_text, sz.n_src_docs
        |  HAVING count(DISTINCT s.doc_id) >= 2
        |     AND count(DISTINCT s.doc_id) * 20 >= sz.n_src_docs),
        |rebuilt AS (SELECT s.doc_id, count(*) AS n_kept,
        |    string_agg(s.seg_text, ' ' ORDER BY s.seg) AS clean_text
        |  FROM seg s LEFT JOIN boiler b
        |    ON s.source = b.source AND s.seg_text = b.seg_text
        |  WHERE b.seg_text IS NULL
        |  GROUP BY s.doc_id)
        |SELECT d.doc_id, d.source, CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  round(avg(n_chars),4) AS avg_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  round(avg(len(string_split(text,' '))),4) AS avg_toks,
        |  round(CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE),4)
        |    AS p50_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_lang_id" ->
      s"""WITH x AS (SELECT doc_id,
         |    len(list_filter(string_split(text,' '), tk -> tk IN $enStopSqlList))
         |      AS n_sw,
         |    len(string_split(text,' ')) AS n_tok
         |  FROM documents)
         |SELECT doc_id,
         |  round(CAST(n_sw AS DOUBLE)/n_tok, 4) AS sw_ratio,
         |  CASE WHEN CAST(n_sw AS DOUBLE)/n_tok > 0.05 THEN 'en' ELSE 'und' END
         |    AS pred_lang
         |FROM x ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH x AS (SELECT doc_id,
        |    len(string_split(text,' ')) AS n_tok,
        |    len(list_distinct(string_split(text,' '))) AS n_uniq,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(string_split(text,' '), tk -> length(tk)::BIGINT)),
        |      (a,b) -> a+b) AS sum_len
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_tok AS INT) AS n_tok,
        |  CAST(n_uniq AS INT) AS n_uniq,
        |  round(sum_len/n_tok, 4) AS mean_tok_len,
        |  round(least(1.0::DOUBLE, n_tok/200.0) * (n_uniq/CAST(n_tok AS DOUBLE)), 4)
        |    AS quality
        |FROM x ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS INT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
        |    AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split(text,''), c -> ascii(c)::BIGINT)),
        |    (a,b) -> (a*31+b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH $ngramPairCtes
        |SELECT a, b, jaccard FROM pairs ORDER BY a, b""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $ngramPairCtes,
        |  bidir AS (SELECT a AS src, b AS dst FROM pairs
        |    UNION ALL SELECT b AS src, a AS dst FROM pairs),
        |  reach(node, m) AS (
        |    SELECT DISTINCT src, src FROM bidir
        |    UNION
        |    SELECT r.node, b2.dst FROM reach r JOIN bidir b2 ON b2.src = r.m)
        |SELECT node AS doc_id, min(m) AS canon
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    // same component fixpoint, then the keep rule replayed relationally:
    // longest text wins per cluster, doc_id breaks ties, singletons keep
    "q_dedup_keepbest" ->
      s"""WITH RECURSIVE $ngramPairCtes,
        |  bidir AS (SELECT a AS src, b AS dst FROM pairs
        |    UNION ALL SELECT b AS src, a AS dst FROM pairs),
        |  reach(node, m) AS (
        |    SELECT DISTINCT src, src FROM bidir
        |    UNION
        |    SELECT r.node, b2.dst FROM reach r JOIN bidir b2 ON b2.src = r.m),
        |  canon AS (SELECT node AS doc_id, min(m) AS canon
        |    FROM reach GROUP BY node),
        |  mem AS (SELECT d.doc_id, coalesce(c.canon, d.doc_id) AS canon,
        |      length(d.text) AS n_chars
        |    FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id)
        |SELECT doc_id, canon, n_chars,
        |  count(*) OVER (PARTITION BY canon) AS cluster_size,
        |  row_number() OVER (PARTITION BY canon
        |    ORDER BY n_chars DESC, doc_id) = 1 AS keep
        |FROM mem ORDER BY doc_id""".stripMargin,

    "q_lm_perplexity" ->
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |  b AS (SELECT doc_id,
        |      unnest(list_transform(range(1, len(tk)),
        |        i -> {'pos': i, 'w1': tk[i], 'w2': tk[i+1]})) AS bg
        |    FROM tok WHERE len(tk) >= 2),
        |  b2 AS (SELECT doc_id, bg.pos AS pos, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        |  cb AS (SELECT w1, w2, count(*) AS cb FROM b2 GROUP BY w1, w2),
        |  cw AS (SELECT w1, count(*) AS cw FROM b2 GROUP BY w1),
        |  v AS (SELECT count(DISTINCT tok) AS v FROM (
        |      SELECT unnest(string_split(text,' ')) AS tok FROM documents)),
        |  lp AS (SELECT b2.doc_id, b2.pos,
        |      ln((cb + 0.1) / (cw + 0.1 * v)) AS lp
        |    FROM b2 JOIN cb USING (w1, w2) JOIN cw USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(exp(-list_reduce(list_prepend(0.0::DOUBLE, list(lp ORDER BY pos)),
        |    (a, b) -> a + b) / count(*)), 4) AS ppl
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The broadcast-pruned variant must score IDENTICALLY (the caps are
    // no-ops at fixture scale; the prune is pure plan shape) — same oracle.
    "q_lm_perplexity_bc" ->
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |  b AS (SELECT doc_id,
        |      unnest(list_transform(range(1, len(tk)),
        |        i -> {'pos': i, 'w1': tk[i], 'w2': tk[i+1]})) AS bg
        |    FROM tok WHERE len(tk) >= 2),
        |  b2 AS (SELECT doc_id, bg.pos AS pos, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        |  cb AS (SELECT w1, w2, count(*) AS cb FROM b2 GROUP BY w1, w2),
        |  cw AS (SELECT w1, count(*) AS cw FROM b2 GROUP BY w1),
        |  v AS (SELECT count(DISTINCT tok) AS v FROM (
        |      SELECT unnest(string_split(text,' ')) AS tok FROM documents)),
        |  lp AS (SELECT b2.doc_id, b2.pos,
        |      ln((cb + 0.1) / (cw + 0.1 * v)) AS lp
        |    FROM b2 JOIN cb USING (w1, w2) JOIN cw USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(exp(-list_reduce(list_prepend(0.0::DOUBLE, list(lp ORDER BY pos)),
        |    (a, b) -> a + b) / count(*)), 4) AS ppl
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  lower(hex(encode(substring(text, 1, 8)))) AS prefix_hex
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pii_redact" ->
      s"""SELECT id,
         |  CAST(len(regexp_extract_all(line, '$IpRe')) AS INT) AS n_ip,
         |  regexp_replace(regexp_replace(line, '$IpRe', '<IP>', 'g'),
         |    '$EmailRe', '<EMAIL>', 'g') AS redacted
         |FROM ${graft.operators.AccessLog.fixturesSql} ORDER BY id""".stripMargin,

    "q_repetition" ->
      """WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |  c AS (SELECT doc_id, tok, count(*) AS c FROM tf GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(max(c) AS BIGINT) AS max_tf,
        |  round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS rep_ratio
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_contamination" ->
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, greatest(len(ts)-1, 1)),
        |        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
        |    FROM tok) WHERE sh IS NOT NULL AND length(sh) > 0),
        |  ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10)
        |SELECT s.doc_id, count(*) AS n_overlap
        |FROM sh s JOIN ev USING (sh)
        |WHERE s.doc_id >= 10
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)
}
