package graft.storage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.TextHashes
import graft.operators.{Dedup, Joins}

/** Persisted banded-LSH index for INCREMENTAL near-duplicate detection:
  * signature the corpus ONCE, write the band table, then check every
  * arriving batch against it without touching the corpus text again —
  * the recurring "is this crawl snapshot already in the lake?" shape of
  * a 100 TB training-data pipeline, where re-shingling the full history
  * per batch ([[Dedup.minhashPairs]] over history ∪ batch) would redo
  * O(corpus) work for an O(batch)-sized question.
  *
  * Layout under `dir` (published atomically via [[AtomicDir.publishOnce]]):
  *   - `bands/` — (band, bh, doc_id): [[Dedup.Bands]] rows per doc, ~24 B
  *     each — the index is ~200 B/doc regardless of document length, so a
  *     1-billion-doc corpus indexes in ~200 GB (vs re-scanning the corpus
  *     text per batch). Written `repartition(band, bh)` so probe joins
  *     read few large files.
  *   - `_meta.json` — family params pin (numHashes, bands), so a probe
  *     with a mismatched LSH family fails fast instead of silently
  *     missing every collision.
  *
  * Scale story of the probe path ([[pairsAgainst]]):
  *   1. the BATCH side (small by contract, like [[VectorIndexStore]]'s
  *      query side) computes its band hashes inline and BROADCASTS them —
  *      the index scan is a broadcast-hash join on (band, bh), no shuffle
  *      of the index, no driver round-trip beyond the broadcast;
  *   2. candidate history ids (bounded by true overlap + band-collision
  *      noise) broadcast-SEMI-filter the corpus scan, so history TEXT is
  *      read only for docs that collided in ≥1 band;
  *   3. exact 3-shingle Jaccard verifies every candidate pair — the
  *      output contract is exact (LSH only prunes), which is what lets
  *      the declared gate carry a brute-force DuckDB oracle.
  *
  * Same discipline as [[VectorIndexStore]]: build-once memo keyed by the
  * source files' fingerprint, atomic publish, verify-side parity with the
  * in-memory operator ([[Dedup.minhashPairs]] semantics restricted to
  * batch × history pairs).
  */
object NearDupIndexStore {

  /** One pass over the corpus: shingles → MinHash signature → band hashes,
    * written as the (band, bh, doc_id) index table. Docs with no shingles
    * (under 3 tokens) are unindexable and skipped — same contract as
    * [[Dedup.minhashPairs]].
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
            dir: String): Unit = {
    Dedup.register(docs.sparkSession)
    bandTable(docs, idCol, textCol)
      .repartition(col("band"), col("bh"))
      .write.mode("overwrite").parquet(s"$dir/bands")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_meta.json"),
      s"""{"numHashes":${Dedup.NumHashes},"bands":${Dedup.Bands}}""")
  }

  /** (band, bh, doc_id) band hashes for every indexable doc — the shared
    * signature pass of build and append; the probe side keys its batch
    * through the same [[Dedup.bandKeys]] and [[Dedup.bandRows]].
    */
  private[graft] def bandTable(docs: DataFrame, idCol: String,
                               textCol: String): DataFrame = {
    Dedup.register(docs.sparkSession)
    // a doc with no shingle keys to NULL and leaves after the explosion: a
    // filter on `sh` itself is pushed below the Project that computes it
    // and runs the shingle kernel twice per doc
    Dedup.bandRows(docs
      .select(col(idCol).as("doc_id"),
        Dedup.shingles(col(textCol)).as("sh"))
      .select(col("doc_id"),
        when(size(col("sh")) > 0, Dedup.bandKeys(col("sh"))).as("keys")),
      "doc_id")
      .filter(col("bh").isNotNull)
  }

  /** Near-dup pairs between a NEW batch and the indexed corpus: returns
    * (b, h, jaccard) — batch id, history id, exact 3-shingle Jaccard ≥
    * `threshold` — for every batch doc that collides with an indexed doc
    * in ≥1 LSH band. `history` supplies candidate TEXT for the exact
    * verify only (semi-filtered to colliding ids; its full scan never
    * shuffles and its text never leaves the executors).
    */
  def pairsAgainst(history: DataFrame, batch: DataFrame, idCol: String,
                   textCol: String, dir: String, threshold: Double = 0.5,
                   broadcastRowLimit: Long = Joins.BroadcastRowLimit)
      : DataFrame = {
    val spark = history.sparkSession
    Dedup.register(spark) // shingles/minhashSig are registered expressions
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_meta.json")), "UTF-8")
    require(meta.contains(s""""numHashes":${Dedup.NumHashes}""") &&
      meta.contains(s""""bands":${Dedup.Bands}"""),
      s"index at $dir was built with a different LSH family: $meta")
    // the batch's shingle table (with its band keys) is reused by the band
    // pass and the final verify join; it is small by contract (the index
    // exists precisely so the BIG side never recomputes), so cache it
    val bShingles = batch
      .select(col(idCol).as("b"), Dedup.shingles(col(textCol)).as("shb"))
      .withColumn("keys", Dedup.bandKeys(col("shb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // broadcast the small batch band set: the index scan joins map-side,
      // so candidate generation reads the band table once with NO shuffle.
      // The candidate pair set is bounded (true overlap + band-collision
      // noise) — checkpoint it so the three consumers below (id-set probe,
      // semi filter, verify join) don't each re-scan the index.
      val cand = spark.read.parquet(s"$dir/bands")
        .join(Joins.maybeBroadcast(Dedup.bandRows(
          // unindexable docs (no shingle) never band; filtered on the
          // persisted table, so the shingle kernel runs once per doc
          bShingles.filter(size(col("shb")) > 0), "b"),
          broadcastRowLimit), Seq("band", "bh"))
        .select(col("doc_id").as("h"), col("b")).distinct()
        .localCheckpoint()
      // only colliding history docs are re-shingled: semi-filter the corpus
      // by the (bounded) candidate id set, then verify exactly
      val candIds = cand.select(col("h")).distinct()
      val hShingles = history
        .join(Joins.maybeBroadcast(candIds, broadcastRowLimit),
          col(idCol) === col("h"), "left_semi")
        .select(col(idCol).as("h"), Dedup.shingles(col(textCol)).as("sha"))
      cand
        .join(hShingles, "h")
        .join(bShingles.select(col("b"), col("shb")), "b")
        .withColumn("inter", TextHashes.intersectSize(col("sha"), col("shb")))
        .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
        .select(col("b"), col("h"),
          round(col("inter") / col("uni").cast("double"), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .orderBy(col("b"), col("h"))
        .localCheckpoint()
    } finally bShingles.unpersist(false)
  }

  /** Extends the index with a new batch's band rows — the admit side of
    * the recurring loop: probe the batch ([[pairsAgainst]]), ingest the
    * fresh docs, then `append` them so the NEXT batch dedups against
    * history + this batch. Plain parquet append of (band, bh, doc_id)
    * rows: no read-modify-write of existing files, safe under concurrent
    * probes (a reader that misses the newest file simply doesn't see the
    * newest docs yet — the same visibility contract as the corpus itself).
    * The caller keeps ids unique across appends (they name corpus rows).
    */
  def append(newDocs: DataFrame, idCol: String, textCol: String,
             dir: String): Unit =
    bandTable(newDocs, idCol, textCol)
      .repartition(col("band"), col("bh"))
      .write.mode("append").parquet(s"$dir/bands")

  private val built =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Build-once memo for the gate query — [[VectorIndexStore.ensureIndex]]
    * discipline: tmp-dir keyed by dataset dir + the documents files'
    * fingerprint (an in-place rewrite of the source re-keys and rebuilds),
    * published via [[AtomicDir.publishOnce]] so concurrent Verify/Bench
    * JVMs share one complete index. `alsoAppend` exercises the [[append]]
    * path inside the same publish (build history, then append the batch):
    * the published index equals history ∪ batch, and because probe
    * candidates are text-verified against ONLY the `history` DataFrame the
    * caller passes to [[pairsAgainst]], probing a batch against an index
    * that already contains it yields exactly the sequential
    * probe-then-append loop's result — which is what makes the
    * incremental-loop gate idempotent across reruns.
    */
  def ensureIndex(history: DataFrame, idCol: String, textCol: String,
                  key: String, variant: String = "",
                  alsoAppend: Option[DataFrame] = None): String = {
    val memoKey =
      s"v2|$key|$variant|${BucketedTables.sourceFingerprint(key, "documents")}"
    built.getOrElseUpdate(memoKey, {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(memoKey.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ndidx_$h"
      AtomicDir.publishOnce(dir) { tmp =>
        build(history, idCol, textCol, tmp)
        alsoAppend.foreach(b => append(b, idCol, textCol, tmp))
      }
    })
  }
}
