package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.storage.NearDupIndexStore

/** Persisted band-index near-dup: parity with the in-memory operator,
  * incremental contract (index built once, batch probes), family pinning.
  */
class NearDupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_ndstore").toString + "/idx"

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private val nearBase = base.replace("lazy", "sleepy")
  private val unrelated = (0 until 20).map(i => s"u$i").mkString(" ")
  private val unrelated2 = (0 until 20).map(i => s"w$i").mkString(" ")

  test("store pairs == in-memory minhashPairs restricted to batch x history") {
    val history = docs(1L -> base, 2L -> unrelated, 3L -> unrelated2)
    val batch = docs(10L -> nearBase, 11L -> (0 until 20).map(i => s"z$i").mkString(" "))
    val dir = freshDir()
    NearDupIndexStore.build(history, "doc_id", "text", dir)
    val got = NearDupIndexStore
      .pairsAgainst(history, batch, "doc_id", "text", dir, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the whole-corpus operator on history ∪ batch, keeping only pairs
    // that CROSS the split (a<b ordering puts history ids first here)
    val want = Dedup
      .minhashPairs(history.unionByName(batch), "doc_id", "text", 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a <= 3 && b >= 10 }
      .map { case (a, b, j) => (b, a, j) } // store emits (batch, history)
      .sorted
    assert(got.toSeq == want.toSeq,
      s"store=${got.toSeq} vs operator=${want.toSeq}")
    assert(got.nonEmpty, "fixture must actually produce a near-dup pair")
  }

  test("exact cross-split duplicate scores jaccard 1.0; disjoint batch is clean") {
    val history = docs(1L -> base, 2L -> unrelated)
    val dir = freshDir()
    NearDupIndexStore.build(history, "doc_id", "text", dir)
    val dup = NearDupIndexStore
      .pairsAgainst(history, docs(20L -> base), "doc_id", "text", dir, 0.5)
      .collect()
    assert(dup.length == 1 &&
      dup(0).getLong(0) == 20L && dup(0).getLong(1) == 1L &&
      dup(0).getDouble(2) == 1.0, dup.mkString(","))
    val clean = NearDupIndexStore
      .pairsAgainst(history, docs(21L -> unrelated2), "doc_id", "text", dir, 0.5)
      .collect()
    assert(clean.isEmpty, s"disjoint batch matched: ${clean.mkString(",")}")
  }

  test("probing with a mismatched LSH family fails fast") {
    val history = docs(1L -> base)
    val dir = freshDir()
    NearDupIndexStore.build(history, "doc_id", "text", dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_meta.json"),
      """{"numHashes":16,"bands":4}""")
    val e = intercept[IllegalArgumentException] {
      NearDupIndexStore.pairsAgainst(history, docs(9L -> base),
        "doc_id", "text", dir, 0.5)
    }
    assert(e.getMessage.contains("different LSH family"))
  }

  test("sub-3-token docs are unindexable on both sides (no NULL shingle rows)") {
    val history = docs(1L -> "too short", 2L -> base)
    val dir = freshDir()
    NearDupIndexStore.build(history, "doc_id", "text", dir)
    val out = NearDupIndexStore
      .pairsAgainst(history, docs(30L -> "too short", 31L -> base),
        "doc_id", "text", dir, 0.5)
      .collect()
    assert(out.length == 1 &&
      out(0).getLong(0) == 31L && out(0).getLong(1) == 2L, out.mkString(","))
  }

  test("the band pass runs the shingle kernel once per doc, and a doc " +
    "with no shingle leaves no band row") {
    val src = java.nio.file.Files.createTempDirectory("graft_ndbands")
      .toString + "/docs"
    // a parquet scan, not a local relation the optimizer would fold away
    docs(1L -> "too short", 2L -> base).write.parquet(src)
    val bands = NearDupIndexStore.bandTable(spark.read.parquet(src),
      "doc_id", "text")
    val plan = bands.queryExecution.optimizedPlan.toString
    assert("shingles3oftext".r.findAllMatchIn(plan).size == 1, plan)
    val rows = bands.select("doc_id", "band").as[(Long, Int)].collect()
    assert(rows.map(_._1).toSet == Set(2L) &&
      rows.map(_._2).sorted.toSeq == (0 until Dedup.Bands), rows.mkString)
  }

  test("append: after admitting a batch, the NEXT batch dedups against it") {
    val history = docs(1L -> unrelated)
    val dir = freshDir()
    NearDupIndexStore.build(history, "doc_id", "text", dir)
    // batch 1: `base` is fresh (no collision), gets ingested + appended
    val b1 = docs(10L -> base)
    assert(NearDupIndexStore
      .pairsAgainst(history, b1, "doc_id", "text", dir, 0.5).collect().isEmpty)
    NearDupIndexStore.append(b1, "doc_id", "text", dir)
    // batch 2: a near-dup of batch 1's doc now collides via the index —
    // the corpus for verification is history ∪ batch 1
    val out = NearDupIndexStore.pairsAgainst(history.unionByName(b1),
      docs(20L -> nearBase), "doc_id", "text", dir, 0.5).collect()
    assert(out.length == 1 &&
      out(0).getLong(0) == 20L && out(0).getLong(1) == 10L, out.mkString(","))
  }

  test("declared gate q_dedup_near_store finds the planted cross-split pairs") {
    val out = SparkEntry.queries("q_dedup_near_store")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty, "no cross-split near-dups at sf0.001")
    out.foreach { r =>
      assert(r.getLong(0) % 3 == 0, s"batch id not ≡0 mod 3: $r")
      assert(r.getLong(1) % 3 != 0, s"history id ≡0 mod 3: $r")
      assert(r.getDouble(2) >= 0.5, s"below threshold: $r")
    }
  }
}
