package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.TextHashes

/** Near-duplicate detection at scale: MinHash+LSH and SimHash.
  *
  * Both follow the same 100 TB-safe shape:
  *   1. per-row signature computation — narrow, codegen'd higher-order
  *      expressions, no shuffle;
  *   2. band/chunk explosion — rows × small-constant blowup;
  *   3. candidate generation — a self-equi-join on (band, hash), i.e. a hash
  *      shuffle on the band key, never a cross join;
  *   4. exact verification (Jaccard / Hamming) only on candidates.
  *
  * No oracle SQL (hash permutations aren't portable across engines); the
  * ScalaTest suite verifies recall on planted duplicates against a
  * brute-force small-n cross-check (SURVEY §7.3).
  */
object Dedup {

  private val Prime = 2038074743L // large prime < 2^31 for (a·x+b) mod p
  val NumHashes = 32
  val Bands = 8

  /** Deterministic permutation parameters (fixed seed — no RNG at plan time). */
  private val perms: Seq[(Long, Long)] =
    (0 until NumHashes).map(i => (2L * i + 1, 7919L * (i + 1) % Prime))
  private val permAs: Array[Long] = perms.map(_._1).toArray
  private val permBs: Array[Long] = perms.map(_._2).toArray

  /** Registers the native hash expressions with this LSH family's params. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    TextHashes.register(spark, permAs, permBs, Prime, Bands)

  /** 3-token shingles of a text column, distinct per doc: one native pass
    * that slices the shingles out of the text's bytes (requires `register`).
    */
  def shingles(text: Column): Column = TextHashes.shingles3OfText(text)

  /** MinHash signature (array of NumHashes minima) from a shingle array —
    * one fused pass over the shingles (requires `register`).
    */
  def minhashSignature(sh: Column): Column = TextHashes.minhashSig(sh)

  /** The [[Bands]] LSH band keys of a shingle array, from one MinHash pass:
    * key b is `xxhash64(concat_ws(',', sig[4b+1], ..., sig[4b+4]))` of the
    * signature. THE band-key definition of [[minhashPairs]] and
    * [[graft.storage.NearDupIndexStore]]: a collision is only well-defined
    * because every side computes it here, and a changed key would silently
    * miss every pair against an index already on disk.
    */
  private[graft] def bandKeys(sh: Column): Column = TextHashes.minhashBands(sh)

  /** One (id, band, bh) row per band of each row of `t`, whose `keys`
    * column holds [[bandKeys]]. The explosion names each element with a
    * literal index: over `posexplode(keys)` Catalyst infers
    * `size(keys) > 0 AND isnotnull(keys)` and pushes it below the Project
    * that computes `keys`, where it evaluates the kernel twice more per row.
    */
  private[graft] def bandRows(t: DataFrame, id: String): DataFrame =
    t.select(col(id), explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"), element_at(col("keys"), b + 1).as("bh"))
      ): _*)).as("bb"))
      .select(col(id), col("bb.band"), col("bb.bh"))

  /** Candidate pairs whose MinHash signatures collide in ≥1 LSH band, verified
    * by exact Jaccard over the shingle sets; returns (a, b, jaccard) with
    * jaccard ≥ `threshold`, ordered.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5): DataFrame = {
    register(docs.sparkSession)
    // persist(): three consumers (band pass + two re-attach joins) would
    // otherwise each recompute the shingles and band keys over the corpus;
    // MEMORY_AND_DISK spills on executors instead of recomputing.
    val shingleTab = docs
      .select(col(idCol).as("doc_id"), shingles(col(textCol)).as("sh"))
      .withColumn("keys", bandKeys(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The verified pair set is tiny next to the corpus: materialize it
    // (localCheckpoint) so the shingle cache can be dropped before returning,
    // whether or not the call succeeds. persist() entries live in the
    // CacheManager until explicitly released — without this, every library
    // call grew executor cache forever; the checkpointed result itself is
    // ContextCleaner-collected on GC.
    try {
      // Candidate generation moves ONLY (band, bh, doc_id) through the
      // shuffle — never the shingle arrays. The distinct runs on bare (a, b)
      // pairs; arrays are re-attached afterwards by two joins against the
      // per-doc shingle table (one row per doc), so verification cost is
      // O(candidates · |shingles|) CPU, not O(candidates · |shingles|)
      // shuffle.
      // docs with no shingle (under 3 tokens) never band: their keys all
      // collide and their Jaccard is NaN. The filter reads the persisted
      // table — over its input, Catalyst pushes it below the Project that
      // computes `sh` and the shingle kernel runs twice per doc. The
      // re-attach joins below are inner joins on banded ids.
      val bands = bandRows(shingleTab.filter(size(col("sh")) > 0), "doc_id")
      val cand = bands.select(col("band"), col("bh"), col("doc_id").as("a"))
        .join(bands.select(col("band"), col("bh"), col("doc_id").as("b")),
          Seq("band", "bh"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      cand
        .join(shingleTab.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
        .join(shingleTab.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
        .withColumn("inter", TextHashes.intersectSize(col("sha"), col("shb")))
        .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
        .select(col("a"), col("b"),
          round(col("inter") / col("uni").cast("double"), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .orderBy(col("a"), col("b"))
        .localCheckpoint()
    } finally shingleTab.unpersist(false)
  }

  /** Incremental dedup of a NEW batch against a historical corpus: returns
    * the batch rows whose `textCol` content does not already exist in
    * `history` — the "don't re-ingest what the lake already holds" shape of
    * a recurring 100 TB pipeline.
    *
    * Scale story (why this is not one big anti-join):
    *   1. ONE aggregate pass over history builds a Bloom filter of content
    *      hashes — a driver-side sketch sized by (expectedItems, fpp),
    *      broadcast to every task (at 1e9 items / 1% fpp ≈ 1.2 GB; shard
    *      the history and union several filters beyond that);
    *   2. batch rows whose hash misses the filter are DEFINITELY new
    *      (Bloom filters have no false negatives) and skip the join
    *      entirely — at low overlap that is almost the whole batch;
    *   3. only the candidates (true dups + fpp·|batch| false positives)
    *      are verified exactly: their hash set broadcast-SEMI-filters the
    *      history scan (no history shuffle — the scan keeps only colliding
    *      hashes), then text equality decides. Hash collisions are
    *      therefore harmless: verification compares the text itself.
    *
    * The candidate hash set is bounded by overlap + fpp·|batch| by
    * construction, which is what makes the `broadcast()` hint safe.
    * The per-row probe is a Scala UDF over the broadcast sketch — Spark
    * ships no public bloom-probe expression (`might_contain` is internal
    * runtime-filter machinery), and the probe is a pure long→boolean hop
    * outside the scan's codegen hot path.
    */
  def incrementalNew(history: DataFrame, batch: DataFrame, textCol: String,
                     expectedItems: Long = 1L << 20,
                     fpp: Double = 0.01): DataFrame = {
    val spark = history.sparkSession
    // NULL text is contentless: it can neither duplicate anything nor be
    // duplicated. NULL history rows are dropped from the filter build (a
    // NULL "content" must not occupy the sketch); NULL batch rows survive
    // by construction — xxhash64 is non-nullable (a NULL input hashes to
    // the seed, 42), so a NULL-text batch row either misses the bloom and
    // is fresh, or collides and reaches the exact verify, where NULL text
    // never equals any history text and the anti-join keeps it. Either
    // path emits the row, matching the NOT IN-style oracle (where a NULL
    // history row would otherwise poison the predicate).
    val hHash = history.filter(col(textCol).isNotNull)
      .select(xxhash64(col(textCol)).as("_h"), col(textCol).as("_t"))
    val bloom = hHash.stat.bloomFilter("_h", expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val might = udf((h: Long) => bc.value.mightContainLong(h))
    val b = batch.withColumn("_h", xxhash64(col(textCol)))
    val fresh = b.filter(!might(col("_h")))
    val candidates = b.filter(might(col("_h")))
    val candHashes = candidates.select(col("_h")).distinct()
    val hMatch = hHash.join(broadcast(candHashes), "_h")
    val trulyNew = candidates.join(hMatch,
      candidates("_h") === hMatch("_h") &&
        candidates(textCol) === hMatch("_t"), "left_anti")
    fresh.unionByName(trulyNew).drop("_h")
  }

  /** 64-bit SimHash via one native expression pass: per-bit signed vote of
    * md5-derived token bits, folded into a long — one pass over tokens, no
    * explode, no shuffle. `textExpr` is a SQL expression for the text col.
    *
    * Hash family is md5 (first 8 digest bytes as two big-endian 32-bit
    * halves) — computed identically by DuckDB, which is what lets the
    * declared `q_dedup_simhash` carry a bit-exact brute-force oracle. The
    * faster non-portable xxhash64 family stays available as
    * `TextHashes.simhash64` / SQL `graft_simhash64` for pipelines that don't
    * need cross-engine verifiability; the banding and verify logic below is
    * family-agnostic.
    */
  def simhashExpr(textExpr: String): Column =
    TextHashes.simhashMd5(split(expr(textExpr), " "))

  /** Candidate pairs by shared 16-bit SimHash chunk (any pair within Hamming
    * distance 3 of a 64-bit hash must agree on ≥1 of 4 chunks), verified by
    * exact `bit_count(a^b) ≤ maxHamming`.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    register(docs.sparkSession)
    val sigs = docs.select(col(idCol).as("doc_id"),
      simhashExpr(textCol).as("sim"))
    val chunks = sigs.select(col("doc_id"), col("sim"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          (shiftrightunsigned(col("sim"), 16 * c) % 65536).as("ch"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("sim"), col("cc.chunk"), col("cc.ch"))
    val l = chunks.select(col("chunk"), col("ch"), col("doc_id").as("a"),
      col("sim").as("sa"))
    val r = chunks.select(col("chunk"), col("ch"), col("doc_id").as("b"),
      col("sim").as("sb"))
    // the signature is one long, so carrying it through the distinct is free
    l.join(r, Seq("chunk", "ch")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("sa"), col("sb")).distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }
}
