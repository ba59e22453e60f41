package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GlobalRank must equal the single-partition row_number it replaces —
  * on skewed data, with ties in the sort value, and with more range
  * partitions than distinct keys (empty partitions). */
class GlobalRankSpec extends AnyFunSuite with SparkSuite {

  private def referenceRanks(rows: Seq[(Long, Double)]): Map[Long, Long] =
    rows.sortBy { case (id, v) => (-v, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap

  test("rank == single-partition row_number on skewed data with value ties") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(7)
    // heavy ties: only 20 distinct values over 5000 rows
    val rows = (0L until 5000L).map(id => (id, (rng.nextInt(20) * 10).toDouble))
    val df = rows.toDF("id", "v").repartition(16)
    val got = GlobalRank.rank(df, Seq(col("v").desc, col("id").asc), numParts = 8, rankCol = "r")
      .select(col("id"), col("r")).as[(Long, Long)].collect().toMap
    assert(got == referenceRanks(rows))
  }

  test("more range partitions than rows: empty partitions don't shift offsets") {
    val sp = spark; import sp.implicits._
    val rows = Seq((1L, 3.0), (2L, 1.0), (3L, 2.0))
    val got = GlobalRank.rank(rows.toDF("id", "v"), Seq(col("v").desc, col("id").asc), 8, "r")
      .select(col("id"), col("r")).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 3L -> 2L, 2L -> 3L))
  }

  test("rank is dense, 1-based, and a permutation") {
    val sp = spark; import sp.implicits._
    val df = (0L until 1000L).map(id => (id, (id * 2654435761L % 97).toDouble)).toDF("id", "v")
    val ranks = GlobalRank.rank(df, Seq(col("v").asc, col("id").asc), 6, "r")
      .select(col("r")).as[Long].collect().sorted
    assert(ranks.toSeq == (1L to 1000L))
  }

  test("fails fast when exchange reuse is disabled (correctness depends on it)") {
    val isolated = spark.newSession()
    isolated.conf.set("spark.sql.exchange.reuse", "false")
    val sp = isolated; import sp.implicits._
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      GlobalRank.rank(df, Seq(col("v").asc), 2, "r")
    }
    assert(e.getMessage.contains("exchange.reuse"))
  }

  test("agrees with a window row_number (oracle form) on a random frame") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(13)
    val df = (0L until 2000L).map(id => (id, rng.nextDouble())).toDF("id", "v")
    val viaWindow = df.withColumn("r",
      row_number().over(Window.orderBy(col("v").desc, col("id").asc)).cast("long"))
      .select(col("id"), col("r")).as[(Long, Long)].collect().toMap
    val viaOp = GlobalRank.rank(df, Seq(col("v").desc, col("id").asc), 8, "r")
      .select(col("id"), col("r")).as[(Long, Long)].collect().toMap
    assert(viaOp == viaWindow)
  }

  test("prefixSum == single-partition running sum, with ties, empty partitions, and total") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(29)
    // skewed values with ties: the tie-break column makes the order total
    val rows = (0L until 1500L).map(id => (id, (rng.nextInt(20)).toDouble, rng.nextInt(50).toLong))
    val df = rows.toDF("id", "v", "w")
    val viaWindow = df.withColumn("cum",
        sum(col("w")).over(Window.orderBy(col("v").desc, col("id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("id"), col("cum")).as[(Long, Long)].collect().toMap
    val viaOp = GlobalRank.prefixSum(df, Seq(col("v").desc, col("id").asc), col("w"),
        numParts = 8, cumCol = "cum", totalCol = Some("tot"))
    val got = viaOp.select(col("id"), col("cum")).as[(Long, Long)].collect().toMap
    assert(got == viaWindow)
    val totals = viaOp.select(col("tot")).distinct().as[Long].collect().toSeq
    assert(totals == Seq(rows.map(_._3).sum))
    // more partitions than rows: empty range partitions must not shift carries
    val tiny = Seq((1L, 5.0, 10L), (2L, 4.0, 20L), (3L, 3.0, 30L)).toDF("id", "v", "w")
    val t = GlobalRank.prefixSum(tiny, Seq(col("v").desc, col("id").asc), col("w"),
        numParts = 16, cumCol = "cum")
      .select(col("id"), col("cum")).as[(Long, Long)].collect().toMap
    assert(t == Map(1L -> 10L, 2L -> 30L, 3L -> 60L))
  }

  test("prefixSum fails fast when exchange reuse is disabled") {
    val isolated = spark.newSession()
    isolated.conf.set("spark.sql.exchange.reuse", "false")
    val sp = isolated; import sp.implicits._
    val df = Seq((1L, 1.0, 1L), (2L, 2.0, 2L)).toDF("id", "v", "w")
    val e = intercept[IllegalArgumentException] {
      GlobalRank.prefixSum(df, Seq(col("v").asc), col("w"), 2, "cum")
    }
    assert(e.getMessage.contains("exchange.reuse"))
  }
}
