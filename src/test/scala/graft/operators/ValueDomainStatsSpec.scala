package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared value-domain order-statistic operator behind
  * q130/q160/q185/q186: exactness vs a driver-side sort, tie and
  * even/odd behavior, and the plan property the decomposition exists
  * for — the window runs over AGGREGATED (group, value) rows, with a
  * partial aggregate below it, never a whole-group sort of raw rows.
  */
class ValueDomainStatsSpec extends AnyFunSuite with SparkSuite {

  private def df(rows: Seq[(String, Long)]) = {
    val sp = spark; import sp.implicits._
    rows.toDF("g", "v")
  }

  private def bruteLowerMedian(vs: Seq[Long]): Long =
    vs.sorted.apply((vs.size + 1) / 2 - 1)

  test("medianOf equals the sorted lower median — odd, even, heavy ties, singleton") {
    val groups = Map(
      "odd" -> Seq(5L, 1L, 9L, 3L, 7L),
      "even" -> Seq(4L, 2L, 8L, 6L),            // lower median = 4
      "ties" -> Seq(2L, 2L, 2L, 7L, 7L, 1L, 2L), // median sits inside a tie run
      "single" -> Seq(42L),
      "alltied" -> Seq(3L, 3L, 3L, 3L))
    val rows = groups.toSeq.flatMap { case (g, vs) => vs.map(g -> _) }
    val got = ValueDomainStats.medianOf(df(rows), "g", "v", "med")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == groups.keySet)
    groups.foreach { case (g, vs) =>
      assert(got(g) == bruteLowerMedian(vs), s"group $g: ${got(g)} vs brute")
    }
  }

  test("orderStat picks arbitrary ranks (min, max, quartile) exactly") {
    val vs = Seq(10L, 20L, 20L, 30L, 40L, 50L, 60L, 70L)
    val d = df(vs.map("g" -> _))
    def statAt(k: String): Long =
      ValueDomainStats.orderStat(d, "g", "v", expr(k), "x").collect()(0).getLong(1)
    assert(statAt("1") == vs.min)
    assert(statAt("ntot") == vs.max)
    assert(statAt("(ntot + 1) div 4") == vs.sorted.apply((vs.size + 1) / 4 - 1))
    // out-of-range rank selects nothing
    assert(ValueDomainStats.orderStat(d, "g", "v", expr("ntot + 1"), "x").count() == 0L)
  }

  test("cumFreq + withGroupTotal reproduce the inclusive ECDF") {
    val counts = ValueDomainStats.valueCounts(
      df(Seq("a" -> 1L, "a" -> 1L, "a" -> 3L, "b" -> 2L)), "g", "v")
    val got = ValueDomainStats.withGroupTotal(
        ValueDomainStats.cumFreq(counts, "g", "v"), "g")
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("v"),
        r.getAs[Long]("cnt"), r.getAs[Long]("cum"), r.getAs[Long]("ntot"))).toSet
    assert(got == Set(("a", 1L, 2L, 2L, 3L), ("a", 3L, 1L, 3L, 3L),
      ("b", 2L, 1L, 1L, 1L)))
  }

  test("plan: the window runs over value-domain rows with a partial aggregate below — " +
      "never a whole-group sort of raw rows") {
    val d = df((1 to 500).map(i => ("g" + (i % 2), (i % 7).toLong)))
    val plan = ValueDomainStats.medianOf(d, "g", "v", "med")
      .queryExecution.executedPlan.toString
    // the corpus-width pass is an aggregate (with a map-side partial),
    // and every Window sits ABOVE it — over (group, value) rows
    assert(plan.contains("HashAggregate"), plan)
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"expected the aggregate BELOW the window (later in the plan tree print):\n$plan")
  }
}
