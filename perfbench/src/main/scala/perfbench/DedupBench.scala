package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** `dedup`: `Dedup.minhashPairs` at threshold 0.8 over a seeded corpus of
  * 10k documents of 60 tokens, 1,000 of them planted near-duplicates of
  * others (one token replaced). The corpus is written as parquet in setup;
  * one operation reads it and returns the verified pairs. This is the
  * workload of the codegen'd text hashes (`expressions.TextHashes`) and of
  * the shuffle of the banding self-join.
  */
final class DedupBench(spark: SparkSession, trace: Trace, seed: Long)
    extends Workload {
  val Docs = 10000
  val Planted = 1000
  val Tokens = 60
  val Threshold = 0.8
  val cycleLength = 1
  override val sentinelsPerOp = 3

  private val corpus = Gen.corpus(seed, Docs, Planted, Tokens)
  private lazy val shingles: Map[Long, Set[String]] = corpus.docs.map {
    case (id, text) => id -> text.split(" ").sliding(3).map(_.mkString(" ")).toSet
  }.toMap
  private var path = ""
  private[perfbench] var pairs: Seq[(Long, Long, Double)] = Nil
  private val found = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val recall = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(dir: String, warmUp: Boolean): Unit = {
    path = s"$dir/docs"
    spark.createDataFrame(corpus.docs).toDF("doc_id", "text")
      .write.parquet(path)
    // warm the hash expressions, the join and the verification
    if (warmUp) {
      op(-1)
      require(check(-1), "the warm-up dedup gave a wrong result")
    }
  }

  private def docs = spark.read.parquet(path)

  def op(i: Int): Unit = {
    pairs = trace.span("operators.pairs") {
      Dedup.minhashPairs(docs, "doc_id", "text", Threshold).collect().toSeq
    }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  /** Exact 3-token shingle Jaccard, rounded as `minhashPairs` rounds it. */
  def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y)
    BigDecimal(inter.toDouble / (x.size + y.size - inter))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Every returned pair must be ordered, distinct and at or above the
    * threshold by its exact Jaccard, which must equal the one returned.
    * Recall on the planted pairs is reported, not checked.
    */
  def check(i: Int): Boolean = {
    val wrong = pairs.filter { case (a, b, j) =>
      a >= b || j < Threshold || jaccard(a, b) != j
    }
    val ok = wrong.isEmpty && pairs.map(p => (p._1, p._2)).distinct.size == pairs.size
    if (!ok) System.err.println(s"[perfbench] dedup returned wrong pairs, e.g. " +
      wrong.take(3).map { case (a, b, j) => s"($a, $b, $j; exact ${jaccard(a, b)})" }
        .mkString(", "))
    if (trace.enabled && i >= 0) {
      found += pairs.size
      recall += pairs.count(p => corpus.planted((p._1, p._2))).toDouble / Planted
      // the signature pass alone: shingles and minhash, no shuffle
      trace.span("operators.signature") {
        Dedup.register(spark)
        docs.select(Dedup.minhashSignature(Dedup.shingles(col("text"))))
          .write.mode("overwrite").format("noop").save()
      }
    }
    ok
  }

  def layerMetrics(t: Trace): Map[String, Double] = {
    def med(name: String) = Stats.medianOr0(t.named(name).filter(_.op >= 0)
      .map(_.seconds))
    Map(
      "operators.signature_s" -> Stats.medianOr0(t.named("operators.signature")
        .map(_.seconds)),
      "operators.pairs_s" -> med("operators.pairs"),
      "operators.pairs_found" -> Stats.mean(found.toSeq),
      "operators.dedup_recall" -> Stats.mean(recall.toSeq))
  }
}
