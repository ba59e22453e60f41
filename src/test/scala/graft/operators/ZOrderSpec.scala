package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order correctness (against a reference Morton implementation) and
  * the locality payoff the layout exists for: a box predicate touching
  * few range partitions where a linear sort scatters it everywhere. */
class ZOrderSpec extends AnyFunSuite with SparkSuite {

  private def mortonRef(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("zValue matches the reference Morton interleave on random inputs") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(17)
    val rows = Seq.fill(500)((rng.nextInt(256).toLong, rng.nextInt(256).toLong))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zValue(col("x"), col("y"), 8).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == mortonRef(x, y, 8), s"($x,$y)") }
  }

  test("zValueSql generates the identical values through the SQL engine") {
    val sp = spark; import sp.implicits._
    val rows = Seq.tabulate(256)(i => (i.toLong, (255 - i).toLong))
    val viaSql = rows.toDF("x", "y")
      .selectExpr(s"x", "y", s"CAST(${ZOrder.zValueSql("x", "y", 8)} AS BIGINT) AS z")
      .as[(Long, Long, Long)].collect()
    viaSql.foreach { case (x, y, z) => assert(z == mortonRef(x, y, 8)) }
  }

  test("a box predicate touches far fewer z-ordered partitions than a linear layout") {
    val sp = spark; import sp.implicits._
    // full 256x256 grid, one row per cell
    val grid = (for (x <- 0 until 256; y <- 0 until 256) yield (x.toLong, y.toLong))
      .toDF("x", "y").repartition(32)
    val parts = 16
    def touched(laidOut: org.apache.spark.sql.DataFrame): Long = laidOut
      .withColumn("pid", spark_partition_id())
      // box: y-range only — the predicate a linear-by-x layout can't skip
      .filter(col("y") >= 64 && col("y") < 96)
      .select(col("pid")).distinct().count()
    val zTouched = touched(
      ZOrder.repartitionByZ(grid, col("x"), col("y"), bits = 8, numParts = parts))
    val linearTouched = touched(
      grid.repartitionByRange(parts, col("x")).sortWithinPartitions(col("x")))
    // linear-by-x scatters every y-slice across ALL partitions; z-order
    // confines a 1/8-height slab to a fraction of them
    assert(linearTouched == parts, s"linear: $linearTouched")
    assert(zTouched * 2 <= parts, s"z-order touched $zTouched of $parts")
  }
}
