package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bounds the sketch operators' RAW estimates against exact
  * computations — the direct check behind q29's hashed sketch_ok gate
  * (the query emits exact stats + the in-query error-bound boolean;
  * this spec holds the estimates themselves to the same bounds so a
  * loosened gate can't silently hide a degraded sketch). */
class SketchSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  // the same sketch expressions q29 aggregates, kept raw for bounding
  private def sketches = Tables.events(spark, sf)
    .select(col("event_type"), col("user_id"),
      round(col("value") * 100).cast("long").as("cents"))
    .groupBy(col("event_type"))
    .agg(
      approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
      percentile_approx(col("cents"), lit(0.5), lit(5000)).as("approx_med"),
      percentile_approx(col("cents"), lit(0.99), lit(5000)).as("approx_p99"))

  test("HLL distinct estimates land within 5% of exact per group") {
    val approx = sketches.select(col("event_type"), col("approx_users")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$k: approx $a vs exact $n")
    }
  }

  test("approx quantiles fall between neighboring exact quantiles") {
    val approx = sketches
      .select(col("event_type"), col("approx_med"), col("approx_p99")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    approx.foreach { case (k, (median, p99)) =>
      val Array(lo45, hi55, lo975) = Tables.events(spark, sf)
        .filter(col("event_type") === k)
        .select(round(col("value") * 100).cast("long").as("cents"))
        .stat.approxQuantile("cents", Array(0.45, 0.55, 0.975), 0.0) // 0.0 = exact
      assert(median >= lo45 && median <= hi55, s"$k median $median outside [$lo45, $hi55]")
      assert(p99 >= lo975, s"$k p99 $p99 below exact p97.5 $lo975")
    }
  }

  test("q29's hashed sketch_ok gate is true for every group") {
    val rows = SparkEntry.queries("q29_sketches")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("sketch_ok"),
        s"sketch_ok false for ${r.getAs[String]("event_type")} — a sketch left its error bound")
    }
  }
}
