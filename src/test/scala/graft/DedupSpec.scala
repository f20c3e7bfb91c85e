package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.expressions.TextHashes
import graft.operators.Dedup
import graft.storage.NearDupIndexStore

/** MinHash/SimHash near-dup: recall on planted duplicates + brute-force
  * cross-checks (SURVEY §7.3: banding params aren't oracle-checkable).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def segDedup(rows: (Long, String)*) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_segdedup").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    SparkEntry.queries("q_dedup_segments")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
  }

  test("segment dedup: fully-unique docs survive verbatim (identity on the " +
    "duplicate-free corpus)") {
    // disjoint vocabularies -> no segment can repeat across docs
    val a = (0 until 25).map(i => s"a$i").mkString(" ")   // 3 segments
    val b = (0 until 10).map(i => s"b$i").mkString(" ")   // 1 segment
    val got = segDedup(1L -> a, 2L -> b)
    assert(got(1L) == (3L, a), s"doc 1 mangled: ${got(1L)}")
    assert(got(2L) == (1L, b), s"doc 2 mangled: ${got(2L)}")
  }

  test("segment dedup: identical docs lose every segment; bystanders keep theirs") {
    val dup = (0 until 20).map(i => s"d$i").mkString(" ")
    val solo = (0 until 20).map(i => s"s$i").mkString(" ")
    val got = segDedup(1L -> dup, 2L -> dup, 3L -> solo)
    assert(got(1L) == (0L, "") && got(2L) == (0L, ""),
      s"shared segments survived: $got")
    assert(got(3L) == (2L, solo))
  }

  test("segment dedup: an aligned shared prefix segment drops from both, " +
    "the unique remainder survives in order") {
    val shared = (0 until 10).map(i => s"x$i").mkString(" ")
    val tailA = (0 until 10).map(i => s"a$i").mkString(" ")
    val tailB = (0 until 10).map(i => s"b$i").mkString(" ")
    val got = segDedup(1L -> s"$shared $tailA", 2L -> s"$shared $tailB")
    assert(got(1L) == (1L, tailA), s"doc 1: ${got(1L)}")
    assert(got(2L) == (1L, tailB), s"doc 2: ${got(2L)}")
  }

  test("exact duplicates always collide in every band (jaccard 1.0)") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val out = Dedup.minhashPairs(docs(1L -> text, 2L -> text), "doc_id", "text")
      .collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(out(0).getDouble(2) == 1.0)
  }

  test("near-duplicates (one token changed) are caught above threshold") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val b = a.replace("theta", "thetaX")
    val out = Dedup.minhashPairs(docs(1L -> a, 2L -> b), "doc_id", "text", 0.5)
      .collect()
    assert(out.length == 1, "near-dup pair missed")
    assert(out(0).getDouble(2) >= 0.5 && out(0).getDouble(2) < 1.0)
  }

  test("unrelated documents produce no pairs") {
    val out = Dedup.minhashPairs(docs(
      1L -> "completely different words about cooking pasta with tomato sauce",
      2L -> "astronomy telescope observes distant galaxies through clear night skies"),
      "doc_id", "text").collect()
    assert(out.isEmpty)
  }

  test("minhash jaccard estimates match brute-force exact jaccard on testdata") {
    val d = Tables.table(spark, sf(), "documents").limit(100)
    val pairs = Dedup.minhashPairs(d, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force over the same 100 docs
    val sh = d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = sh.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      inter = (sh(i) & sh(j)).size
      uni = (sh(i) | sh(j)).size
      jac = if (uni == 0) 0.0 else inter.toDouble / uni
      if jac >= 0.5
    } yield (i, j) -> jac).toMap
    // LSH with 8 bands × 4 rows has ~>99.9% recall at j≥0.5's upper range and
    // verification is exact, so: every reported pair is a true pair, and every
    // brute-force pair with j≥0.6 must be found.
    pairs.foreach { case (k, v) =>
      assert(brute.contains(k) || v < 0.6, s"false positive $k -> $v") }
    brute.filter(_._2 >= 0.6).foreach { case (k, v) =>
      assert(pairs.contains(k), s"missed true pair $k (j=$v)") }
  }

  test("simhash: identical docs at hamming 0; near-identical within 3") {
    val a = "one two three four five six seven eight nine ten eleven twelve " * 4
    val out = Dedup.simhashPairs(docs(1L -> a, 2L -> a), "doc_id", "text")
      .collect()
    assert(out.length == 1 && out(0).getInt(2) == 0)
  }

  test("connected components converge on a planted diameter-6 chain") {
    // Path graph 10-11-12-...-16 (diameter 6) + a disjoint triangle + an
    // isolated edge: the old fixed-3-round propagation could NOT label the
    // chain's far end; the fixpoint guard must.
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)).toDF("a", "b")
    // both solver paths must agree: the size-switched driver union-find
    // (default for a tiny graph) and the distributed fixpoint (forced via
    // localSolveEdgeLimit = 0)
    for (limit <- Seq(graft.operators.Components.LocalSolveEdgeLimit, 0L)) {
      val got = graft.operators.Components.connectedComponents(edges, limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (10L to 16L).foreach(n => assert(got(n) == 10L, s"chain node $n (limit=$limit)"))
      (20L to 22L).foreach(n => assert(got(n) == 20L, s"triangle node $n (limit=$limit)"))
      assert(got(30L) == 30L && got(31L) == 30L)
      assert(got.size == 12)
    }
  }

  test("local union-find == distributed fixpoint on a pseudo-random graph") {
    // 300 deterministic edges over ~200 nodes: many multi-node components,
    // self-dups, cross-links. The two solvers must be bit-identical.
    val edges = spark.range(300).select(
      pmod(hash(col("id")), lit(200)).cast("bigint").as("a"),
      pmod(hash(col("id") * 7 + 3), lit(200)).cast("bigint").as("b"))
    val local = graft.operators.Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val dist = graft.operators.Components.connectedComponents(edges, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("non-integral keys skip the driver union-find and still solve") {
    // String ids can't round-trip through the Long-keyed local solve; the
    // size switch must route them to the type-generic distributed fixpoint
    // (min-LABEL = lexicographic minimum) instead of ClassCastException-ing.
    val edges = Seq(("alice", "bob"), ("bob", "carol"), ("dave", "erin"))
      .toDF("a", "b")
    val got = graft.operators.Components.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("alice" -> "alice", "bob" -> "alice",
      "carol" -> "alice", "dave" -> "dave", "erin" -> "dave"))
  }

  test("connected components fixpoint stops early on a clique") {
    // A 4-clique converges after round 1 (plus one no-change round to
    // detect the fixpoint); mostly a guard that the loop terminates fast.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val got = graft.operators.Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("simhash pairs on testdata are verified by true hamming distance") {
    val d = Tables.table(spark, sf(), "documents").limit(150)
    val sigs = d.select(col("doc_id"), Dedup.simhashExpr("text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = Dedup.simhashPairs(d, "doc_id", "text", 3).collect()
    found.foreach { r =>
      val h = java.lang.Long.bitCount(sigs(r.getLong(0)) ^ sigs(r.getLong(1)))
      assert(h == r.getInt(2) && h <= 3, s"pair ${r.getLong(0)},${r.getLong(1)}")
    }
  }

  test("boilerplate strip is SOURCE-scoped: a nav segment shared inside one " +
    "source is stripped there but survives in a source where it is unique") {
    val nav = (0 until 10).map(i => s"nav$i").mkString(" ")   // one segment
    val bodyA = (0 until 10).map(i => s"a$i").mkString(" ")
    val bodyB = (0 until 10).map(i => s"b$i").mkString(" ")
    val bodyC = (0 until 10).map(i => s"c$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    Seq((1L, "siteA", s"$nav $bodyA"), (2L, "siteA", s"$nav $bodyB"),
        (3L, "siteB", s"$nav $bodyC"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_boilerplate_strip")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == (1L, bodyA), s"siteA doc 1 kept its nav: ${got(1L)}")
    assert(got(2L) == (1L, bodyB), s"siteA doc 2 kept its nav: ${got(2L)}")
    assert(got(3L) == (2L, s"$nav $bodyC"),
      s"siteB's unique nav was wrongly stripped: ${got(3L)}")
    // contrast: GLOBAL segment dedup strips the nav everywhere, including
    // siteB — the source scoping is the semantic delta of this operator
    val global = SparkEntry.queries("q_dedup_segments")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(global(3L) == bodyC)
  }

  test("incremental dedup: result == plain anti-join on text (bloom FPs " +
    "are exactly verified, no false negatives)") {
    val d = Tables.table(spark, sf(), "documents")
    val history = d.filter(col("doc_id") % 3 =!= 0)
    val batch = d.filter(col("doc_id") % 3 === 0)
    val got = Dedup.incrementalNew(history, batch, "text")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val want = batch.join(history.select(col("text")), Seq("text"), "left_anti")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
    assert(got.nonEmpty, "empty batch result — split produced no new docs")
  }

  test("incremental dedup: planted overlap is dropped, fresh rows survive, " +
    "and a tiny bloom (high fpp) still verifies exactly") {
    val history = docs(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta")
    val batch = docs(10L -> "alpha beta gamma",   // dup of history 1
                     11L -> "eta theta iota",     // fresh
                     12L -> "kappa lambda mu")    // fresh
    // expectedItems=1 forces a saturated bloom — every batch row becomes a
    // candidate, so the exact-verify join carries the whole decision
    val got = Dedup.incrementalNew(history, batch, "text",
        expectedItems = 1L, fpp = 0.5)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(11L, 12L))
  }

  test("incremental dedup: NULL text is contentless — a NULL history row " +
    "dedups nothing, a NULL batch row always survives") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, true)))
    def mk(rows: (Long, String)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          rows.map(r => Row(r._1, r._2)).toList).asJava),
      sch)
    val history = mk(1L -> "alpha beta", 2L -> null)
    // saturated bloom: every batch row goes through the exact verify, the
    // hardest path for the NULL row (xxhash64(null) = the seed, so it CAN
    // collide — only text equality may drop a row, and null = anything is
    // never true)
    val got = Dedup.incrementalNew(history,
        mk(10L -> "alpha beta", 11L -> null, 12L -> "fresh stuff here"),
        "text", expectedItems = 1L, fpp = 0.5)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(11L, 12L),
      s"NULL handling wrong: $got (want 11=null survives, 10=real dup drops)")
  }

  test("incremental dedup: the exact-verify join broadcasts the candidate " +
    "hash set — the history scan is never shuffled") {
    val d = Tables.table(spark, sf(), "documents")
    val out = Dedup.incrementalNew(
      d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0),
      "text")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("Broadcast"),
      s"candidate hashes not broadcast into the history scan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup degenerated to all-pairs:\n$p")
  }

  // The SQL formulation the fused kernels replace, kept here as the
  // reference: shingles from split tokens, the boxed signature, band keys
  // by concat_ws + xxhash64, and the overlap by array_intersect.
  private def sqlShingles(text: Column) = TextHashes.shingles3(split(text, " "))
  private def sqlBandKeys(sig: Column) = {
    val rows = Dedup.NumHashes / Dedup.Bands
    array((0 until Dedup.Bands).map(b => xxhash64(concat_ws(",",
      (0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*))): _*)
  }
  private def sqlBandRows(docs: DataFrame) = docs
    .select(col("doc_id"), sqlShingles(col("text")).as("sh"))
    .filter(size(col("sh")) > 0)
    .withColumn("sig", Dedup.minhashSignature(col("sh")))
    .select(col("doc_id"), posexplode(sqlBandKeys(col("sig"))).as(Seq("band", "bh")))
    .select(col("band"), col("bh"), col("doc_id"))
  private def sqlMinhashPairs(docs: DataFrame, threshold: Double) = {
    val sh = docs.select(col("doc_id"), sqlShingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val bands = sh.select(col("doc_id"),
      posexplode(sqlBandKeys(Dedup.minhashSignature(col("sh")))).as(Seq("band", "bh")))
    bands.select(col("band"), col("bh"), col("doc_id").as("a"))
      .join(bands.select(col("band"), col("bh"), col("doc_id").as("b")),
        Seq("band", "bh"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .select(col("a"), col("b"), round(col("inter") /
        (size(col("sha")) + size(col("shb")) - col("inter")).cast("double"), 4)
        .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("a", "b")
  }

  /** A fixed draw of `g`, so a failure reproduces. */
  private def draw[T](g: Gen[T]): T = g.pureApply(Gen.Parameters.default, Seed(12L))

  /** Generated texts read back through parquet, so the kernels run in
    * generated code over the vectorized reader's strings: leading, trailing
    * and repeated spaces (the empty token), multi-byte UTF-8, `""`, NULL,
    * and one string of invalid UTF-8 bytes.
    */
  private lazy val texts: DataFrame = {
    val tok = Gen.oneOf("", "a", "b", "ab", "é", "日本", "🙂x", "a b")
    val textG = Gen.frequency(
      8 -> Gen.listOf(tok).map(_.mkString(" ")),
      1 -> Gen.const(""), 1 -> Gen.const(null: String))
    val gen = (draw(Gen.listOfN(400, textG)) ++
      Seq("a a a a a", " a b c", "a b c ", "a  b  c", "x y"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val dir = java.nio.file.Files.createTempDirectory("graft_texts").toString
    gen.toDF("doc_id", "text")
      .unionByName(spark.range(1).select(lit(-1L).as("doc_id"),
        unhex(lit("61206220FF20632064C3")).cast("string").as("text")))
      .write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t")
  }

  private def mismatches(df: DataFrame, a: Column, b: Column): Long =
    df.filter(!(a <=> b)).count()

  test("graft_shingles3_text(t) == graft_shingles3(split(t, ' ')), byte for byte") {
    Dedup.register(spark)
    assert(mismatches(texts, Dedup.shingles(col("text")),
      sqlShingles(col("text"))) == 0)
    assert(texts.filter(col("text").isNull).count() > 0)
    assert(texts.filter(col("text") === "").count() > 0)
    assert(texts.filter(col("text") === "a a a a a")
      .select(Dedup.shingles(col("text"))).head().getSeq[String](0) == Seq("a a a"))
  }

  test("MinHashBands == the SQL band expression for every band") {
    Dedup.register(spark)
    val d = texts.select(Dedup.shingles(col("text")).as("sh"))
      .unionByName(Tables.table(spark, sf(), "documents")
        .select(Dedup.shingles(col("text")).as("sh")))
    // every band of a non-empty signature and of the all-MaxValue
    // signature of an empty shingle array; a NULL array, which every caller
    // filters out, has NULL keys (the SQL form hashes the empty string)
    val nonNull = d.filter(col("sh").isNotNull)
    assert(mismatches(nonNull, Dedup.bandKeys(col("sh")),
      sqlBandKeys(Dedup.minhashSignature(col("sh")))) == 0)
    assert(nonNull.filter(size(col("sh")) === 0).count() > 0)
    assert(nonNull.filter(size(col("sh")) > 0).count() > 400)
    assert(d.filter(col("sh").isNull).select(Dedup.bandKeys(col("sh")))
      .collect().forall(_.isNullAt(0)))
  }

  test("IntersectSize == size(array_intersect) on string arrays with " +
    "duplicates and NULL elements") {
    Dedup.register(spark)
    val arr = Gen.listOf(Gen.frequency(6 -> Gen.oneOf("a", "b", "c", "é", "日"),
      1 -> Gen.const(null: String)))
    val pairs = draw(Gen.listOfN(300, Gen.zip(arr, arr)))
    val d = pairs.toDF("x", "y").repartition(2)
    assert(mismatches(d, TextHashes.intersectSize(col("x"), col("y")),
      size(array_intersect(col("x"), col("y")))) == 0)
    assert(d.select(TextHashes.intersectSize(col("x"), lit(null)
      .cast("array<string>"))).head().isNullAt(0))
  }

  test("minhashPairs rows == the SQL formulation on the testdata slice") {
    val slice = Tables.table(spark, sf(), "documents").limit(100)
    // plus near-duplicates of ten of its docs, so some pairs verify
    val d = slice.select("doc_id", "text").unionByName(slice.limit(10)
      .select((col("doc_id") + 1000).as("doc_id"),
        concat(col("text"), lit(" planted")).as("text")))
    // threshold 0 returns every candidate the bands produced
    for (t <- Seq(0.5, 0.0)) {
      val got = Dedup.minhashPairs(d, "doc_id", "text", t).collect().toSeq
      assert(got == sqlMinhashPairs(d, t).collect().toSeq, s"threshold $t")
      assert(got.size >= 10, s"threshold $t: planted pairs missed")
    }
  }

  test("an index whose band rows the SQL expression wrote probes to the " +
    "same pairs") {
    Dedup.register(spark)
    val d = Tables.table(spark, sf(), "documents")
    val history = d.filter(col("doc_id") < 100)
    // planted near-duplicates: one extra leading token
    val batch = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000).as("doc_id"),
        concat(lit("planted "), col("text")).as("text"))
    def probe(dir: String) = NearDupIndexStore
      .pairsAgainst(history, batch, "doc_id", "text", dir, 0.5)
      .collect().toSeq
    val built = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    NearDupIndexStore.build(history, "doc_id", "text", built)
    val onDisk = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    sqlBandRows(history).write.parquet(s"$onDisk/bands")
    java.nio.file.Files.copy(java.nio.file.Paths.get(built, "_meta.json"),
      java.nio.file.Paths.get(onDisk, "_meta.json"))
    def bandRows(dir: String) = spark.read.parquet(s"$dir/bands")
      .select("band", "bh", "doc_id").collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(bandRows(built) == bandRows(onDisk))
    val got = probe(built)
    assert(got == probe(onDisk))
    assert(got.size >= 20, s"planted pairs missed: $got")
  }

  test("minhashPairs releases its shingle cache when the call fails") {
    // spark.range, not a local Seq: over a local relation the UDF would
    // throw while the plan is optimized, before anything is persisted
    val boom = udf((id: Long) =>
      if (id == 2L) throw new IllegalStateException("boom")
      else s"doc $id says hello to everyone")
    val in = spark.range(4).select(col("id").as("doc_id"),
      boom(col("id")).as("text"))
    spark.catalog.clearCache()
    intercept[org.apache.spark.SparkException] {
      Dedup.minhashPairs(in, "doc_id", "text")
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
