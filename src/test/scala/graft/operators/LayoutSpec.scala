package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Z-order layout: Morton math, locality, and the data-skipping payoff —
  * range-partitioned z-ordered files have bounded per-file spans in BOTH
  * key dimensions, where a one-column sort only bounds its own. */
class LayoutSpec extends SparkTestBase {

  test("zValue interleaves bits exactly (hand-checked values)") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L))
      .toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue(col("a"), col("b")).as("z"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a bits at even positions, b bits at odd: z(1,0)=1, z(0,1)=2, z(1,1)=3
    // z(5,3) = a:101 -> 010001, b:011 -> 001010  => 010001|001010 = 011011 = 27
    assert(got((0L, 0L)) == 0L && got((1L, 0L)) == 1L)
    assert(got((0L, 1L)) == 2L && got((1L, 1L)) == 3L)
    assert(got((5L, 3L)) == 27L)
  }

  test("z-ordered files bound per-file spans in BOTH dims; time-sort does not") {
    import spark.implicits._
    // 64×64 grid, one row per cell — spans are exactly measurable.
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    def spans(path: String): (Double, Double) = {
      val per = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .agg(avg("sx"), avg("sy")).collect()(0)
      (per.getDouble(0), per.getDouble(1))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-z").toString
    val (zPath, yPath) = (s"$dir/z", s"$dir/y")
    try {
      Layout.zorderWrite(grid, Layout.zValue(col("x"), col("y")), zPath, 16)
      grid.repartitionByRange(16, col("y")).sortWithinPartitions(col("y"))
        .write.mode("overwrite").parquet(yPath)
      val (zx, zy) = spans(zPath)
      val (yx, yy) = spans(yPath)
      // y-sorted: y tight but x spans the whole range (~63)
      assert(yy < 8.0 && yx > 50.0)
      // z-ordered: BOTH dims bounded well under the full range
      assert(zx < 32.0 && zy < 32.0, s"z spans ($zx, $zy)")
    } finally deleteTrees(Seq(dir))
  }
}
