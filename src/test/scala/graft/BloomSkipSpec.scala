package graft

import org.apache.spark.sql.functions._

/** q_needle_bloom's access path: the store's parquet footers must carry a
  * bloom filter on the lookup column (and none on the control column —
  * blooms are per-column opt-in, ~1 bit/row each), and the gate must
  * reproduce the plain scan exactly. Footer-level certification, the
  * ZOrderSpec discipline: the engine's use of the bloom at read time is
  * parquet-mr's contract once the filter is pushed and present.
  */
class BloomSkipSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("store footers: bloom on event_id in every row group; none on user_id") {
    val path = queries.Relational.bloomStore(spark, sf)
    val conf = spark.sessionState.newHadoopConf()
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length > 1, s"store degenerated to ${parts.length} file(s)")
    var (withBloom, control) = (0, 0)
    parts.foreach { f =>
      graft.storage.Footers.read(conf,
        new org.apache.hadoop.fs.Path(f.getAbsolutePath)).getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          c.getPath.toDotString match {
            case "event_id" =>
              assert(c.getBloomFilterOffset >= 0,
                s"no bloom on event_id in ${f.getName}")
              withBloom += 1
            case "user_id" =>
              assert(c.getBloomFilterOffset < 0,
                s"unexpected bloom on user_id in ${f.getName}")
              control += 1
            case _ => ()
          }
        }
      }
    }
    assert(withBloom > 0 && control > 0)
  }

  test("the blooms are real and selective: present ids hit their row " +
    "group's filter, absent ids mostly miss") {
    val path = queries.Relational.bloomStore(spark, sf)
    val conf = spark.sessionState.newHadoopConf()
    val f = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val block = reader.getFooter.getBlocks.get(0)
      val cc = block.getColumns.asScala
        .find(_.getPath.toDotString == "event_id").get
      val bloom = reader.getBloomFilterDataReader(block)
        .readBloomFilter(cc)
      assert(bloom != null, "bloom filter unreadable")
      // every event_id actually in this file must hit
      val ids = spark.read.parquet(f.getAbsolutePath)
        .select("event_id").limit(50).collect().map(_.getLong(0))
      ids.foreach { id =>
        assert(bloom.findHash(bloom.hash(id)),
          s"present id $id missed its own bloom")
      }
      // ids far outside the data range mostly miss (fpp-bounded)
      val misses = (1 to 200).count { i =>
        !bloom.findHash(bloom.hash(10000000L + i * 7919L))
      }
      assert(misses > 180, s"bloom not selective: only $misses/200 missed")
    } finally reader.close()
  }

  test("the bloom store reproduces the plain IN scan exactly") {
    val got = SparkEntry.queries("q_needle_bloom")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val want = Tables.table(spark, sf, "events")
      .filter(col("event_id").isin(11L, 57L, 123L))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty, "needle ids missing from sf0.001 — weak gate")
  }

  test("the IN predicate reaches the parquet scan as PushedFilters") {
    val df = SparkEntry.queries("q_needle_bloom")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(event_id".r.findFirstIn(plan).nonEmpty,
      s"IN-list not pushed to the scan:\n$plan")
  }
}
