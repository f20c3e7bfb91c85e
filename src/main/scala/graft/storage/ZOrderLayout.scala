package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) file clustering for multi-dimensional data
  * skipping — the Delta `OPTIMIZE ZORDER BY` technique re-expressed with
  * nothing but built-in, codegen'd column functions.
  *
  * Why it matters at 100 TB: a table laid out sorted by ONE dimension prunes
  * scans only on that dimension — a 2-D box predicate (user × metric,
  * time × tenant, …) still touches every file for the unsorted dimension.
  * Interleaving the bits of both dimensions into one sort key makes each
  * written file cover a small RECTANGLE of the 2-D space, so the parquet
  * min/max footer statistics of BOTH columns become tight and a pushed box
  * predicate skips the non-overlapping row groups (Spark's parquet reader
  * drops whole row groups on pushed-filter stats; our files are written one
  * row group each, so row-group skipping IS file skipping).
  *
  * The z-value itself is computed with `shiftleft`/`bitwiseAND`/`bitwiseOR`
  * — the classic 5-step bit-spread — entirely inside whole-stage codegen:
  * no UDF, no custom Expression needed (SURVEY §7.2 preference order (a)).
  *
  * Reference anchor: the sparse primary index + ORDER BY tuple of the
  * MergeTree DDL (`/root/reference/nginx.click:1`) — this is its
  * multi-dimensional generalization.
  */
object ZOrderLayout {

  /** Spread the low 16 bits of `x` so bit i lands at position 2i.
    * Standard Morton magic-mask ladder, all built-in long ops.
    */
  private def spread16(x: Column): Column = {
    val s1 = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Morton-interleave two 16-bit cell ids into one 32-bit z-value
    * (x gets the even bits, y the odd bits). Inputs must be in [0, 65535].
    */
  def zValue(xCell: Column, yCell: Column): Column =
    spread16(xCell.cast("long")).bitwiseOR(shiftleft(spread16(yCell.cast("long")), 1))

  /** Linear min/max bucketing of a numeric column into [0, cells-1].
    * One cheap agg pass supplies the bounds; at production scale the same
    * bounds come from table statistics or a sample. Linear scaling is
    * skew-sensitive by design (documented trade-off vs equi-depth ranks —
    * rank bucketing would cost a global sort per dimension); heavy skew on
    * a dimension should bucket its rank or log instead.
    */
  def cellOf(c: Column, lo: Double, hi: Double, cells: Int): Column = {
    val span = math.max(hi - lo, Double.MinPositiveValue)
    least(lit(cells - 1), greatest(lit(0),
      floor((c.cast("double") - lit(lo)) / lit(span) * lit(cells)).cast("int")))
  }

  /** Write `df` to `dir` z-ordered on (dimX, dimY): bucket both dims into
    * 16-bit cells, interleave, range-partition + sort by the z-value, one
    * row group per file. The z column is dropped before write — it is a
    * layout key, not data. Returns the (loX, hiX, loY, hiY) bounds used.
    *
    * Scale shape: one agg pass for bounds + one range-shuffle write; no
    * global sort of the full tuple space (repartitionByRange samples
    * boundaries), so the plan is the same shape Spark uses for any sorted
    * write and holds at 1000 executors.
    */
  def write(df: DataFrame, dir: String, dimX: String, dimY: String,
            nFiles: Int, cells: Int = 65536): (Double, Double, Double, Double) = {
    require(nFiles > 0 && cells > 0 && cells <= 65536)
    val b = df.agg(
      min(col(dimX).cast("double")), max(col(dimX).cast("double")),
      min(col(dimY).cast("double")), max(col(dimY).cast("double"))).head()
    val (loX, hiX, loY, hiY) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    df.withColumn("_z", zValue(
        cellOf(col(dimX), loX, hiX, cells), cellOf(col(dimY), loY, hiY, cells)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(dir)
    (loX, hiX, loY, hiY)
  }

  /** Per-file (min, max) of a numeric column, straight from the parquet
    * FOOTERS (no data pages read) — the exact statistics the scan's
    * row-group pruning consults. Used by the spec to certify clustering
    * quality engine-independently.
    */
  def fileStats(spark: SparkSession, dir: String,
                colX: String, colY: String): Seq[(String, Double, Double, Double, Double)] = {
    val conf = spark.sessionState.newHadoopConf()
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(conf)
    val files = fs.listStatus(d)
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
    files.toSeq.map { f =>
      val blocks = Footers.read(conf, f).getBlocks
      def mm(name: String): (Double, Double) = {
        var lo = Double.MaxValue; var hi = Double.MinValue
        blocks.forEach { blk =>
          blk.getColumns.forEach { c =>
            if (c.getPath.toDotString == name) {
              val st = c.getStatistics
              if (st != null && st.hasNonNullValue) {
                val (l, h) = (st.genericGetMin, st.genericGetMax) match {
                  case (a: java.lang.Number, b: java.lang.Number) =>
                    (a.doubleValue(), b.doubleValue())
                  case other => sys.error(s"non-numeric stats for $name: $other")
                }
                lo = math.min(lo, l); hi = math.max(hi, h)
              }
            }
          }
        }
        (lo, hi)
      }
      val (lx, hx) = mm(colX); val (ly, hy) = mm(colY)
      (f.getPath.getName, lx, hx, ly, hy)
    }
  }

  /** How many files a 2-D box predicate must touch under this layout —
    * the footer-level statistic the spec pins z-order against a single-dim
    * sort with. A file is touched iff its stats rectangle intersects the box.
    */
  def filesTouched(stats: Seq[(String, Double, Double, Double, Double)],
                   loX: Double, hiX: Double, loY: Double, hiY: Double): Int =
    stats.count { case (_, lx, hx, ly, hy) =>
      hx >= loX && lx <= hiX && hy >= loY && ly <= hiY
    }
}
