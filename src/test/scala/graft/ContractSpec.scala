package graft

/** Driver-contract meta-checks: the maps stay consistent as queries are added. */
class ContractSpec extends SparkSpec {

  test("every oracle key has a matching declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("rows-only queries are the documented six") {
    // r10: q_dedup_near and q_dedup_simhash moved to hash-gated (brute-force
    // DuckDB oracles); what remains is the genuinely oracle-inexpressible
    // trained-quantizer/sketch surface.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == Set("q_approx_distinct", "q_sim_ivf_kmeans",
      "q_sim_pq", "q_sim_ivfpq", "q_sim_ivfpq_store", "q_bpe_encode"),
      s"unexpected rows-only set: $rowsOnly")
  }

  test("every declared query builds a plan and returns rows at sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      val cnt = fn(spark, sf()).count()
      if (cnt == 0) Some(n) else None
    }
    // empty results are legal (both engines agree) but listed here so a new
    // query that accidentally selects nothing is noticed
    assert(empties.forall(Set("q_join_anti", "q_set_except", "q_embed_neardup",
      "q_ngram_jaccard", "q_dedup_near", "q_dedup_simhash").contains),
      s"unexpectedly empty queries: $empties")
  }

  test("GraftSession: builder(n) is local[n] with n shuffle partitions; " +
      "the shared test session carries every pinned setting") {
    // a JVM holds one SparkContext, so builder(3) is inspected, not built
    // (its option map is protected in Scala, public in bytecode)
    val b = GraftSession.builder(3)
    val opts = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(opts.get("spark.master").contains("local[3]"))
    assert(opts.get("spark.sql.shuffle.partitions").contains("3"))
    assert(spark.sparkContext.master == "local[4]")
    GraftSession.settings.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"test session drifted on $k")
    }
  }

  test("entry returns rows under a default-config session contract") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
