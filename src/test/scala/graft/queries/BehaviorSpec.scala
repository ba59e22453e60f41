package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the behavioral-analytics queries (q66/q67)
  * beyond the oracle hash: funnel stage ordering/windows/monotone
  * narrowing, retention triangle structure. Runs at sf0.001. */
class BehaviorSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q66: stage times are strictly ordered within the 24h windows; stages only narrow") {
    val df = SparkEntry.queries("q66_funnel")(spark, sf).cache()
    try {
      val win = 86400000000L
      // ordering + window containment whenever a stage is reached
      assert(df.filter(col("t2_us").isNotNull &&
        (col("t2_us") <= col("t1_us") || col("t2_us") > col("t1_us") + win)).count() == 0)
      assert(df.filter(col("t3_us").isNotNull &&
        (col("t3_us") <= col("t2_us") || col("t3_us") > col("t2_us") + win)).count() == 0)
      // a user can't reach purchase without the click stage
      assert(df.filter(col("t3_us").isNotNull && col("t2_us").isNull).count() == 0)
      assert(df.filter(col("converted") === 1).count() ==
        df.filter(col("t3_us").isNotNull).count())
      // the funnel narrows and every stage is non-vacuous at sf0.001
      val n1 = df.count()
      val n2 = df.filter(col("t2_us").isNotNull).count()
      val n3 = df.filter(col("t3_us").isNotNull).count()
      assert(n1 >= n2 && n2 >= n3, s"$n1/$n2/$n3")
      assert(n1 > 0 && n2 > 0 && n3 > 0 && n2 < n1, s"$n1/$n2/$n3")
    } finally df.unpersist()
  }

  test("q71: exactly 20 per stratum (or the whole stratum when smaller), ranks dense") {
    val sp = spark; import sp.implicits._
    val df = SparkEntry.queries("q71_eval_sample")(spark, sf).cache()
    try {
      val sizes = Tables.documents(spark, sf).groupBy("lang").count()
        .as[(String, Long)].collect().toMap
      val got = df.groupBy("lang").agg(count(lit(1)).as("n"), max("rk").as("mx"))
        .as[(String, Long, Long)].collect()
      got.foreach { case (lang, n, mx) =>
        assert(n == math.min(20L, sizes(lang)) && mx == n, s"$lang: $n/$mx")
      }
    } finally df.unpersist()
  }

  test("q72: orphan counts equal exactly the planted corruption") {
    val sp = spark; import sp.implicits._
    val byRel = SparkEntry.queries("q72_fk_audit")(spark, sf)
      .select(col("relation"), col("n_orphans")).as[(String, Long)].collect().toMap
    val liPlanted = Tables.lineitem(spark, sf)
      .filter(pmod(col("l_orderkey"), lit(97)) === 0).count()
    val ordPlanted = Tables.orders(spark, sf)
      .filter(pmod(col("o_custkey"), lit(97)) === 0).count()
    assert(byRel("lineitem->orders") == liPlanted)
    assert(byRel("orders->customer") == ordPlanted)
    assert(liPlanted > 0 && ordPlanted > 0, "planting vacuous at this sf")
  }

  test("q67: the retention triangle starts at offset 0 and accounts for every user") {
    val df = SparkEntry.queries("q67_retention")(spark, sf).cache()
    try {
      assert(df.filter(col("day_offset") < 0 || col("n_users") < 1).count() == 0)
      // every user is active on their own cohort day
      val sp = spark; import sp.implicits._
      val atZero = df.filter(col("day_offset") === 0)
        .agg(sum(col("n_users"))).as[Long].head()
      val totalUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
      assert(atZero == totalUsers, s"$atZero != $totalUsers")
    } finally df.unpersist()
  }

  test("q163: rules equal a driver-side Apriori recompute; lift/conf arithmetic exact") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baskets = li.groupBy(_._1).map { case (_, rs) => rs.map(_._2).toSet }
    val nB = baskets.size.toLong
    val minSup = math.max(nB / 1000L, 5L)
    val itemN = li.groupBy(_._2).map { case (p, rs) => p -> rs.length.toLong }
      .filter(_._2 >= minSup)
    val pairN = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    baskets.foreach { b =>
      val s = b.toSeq.sorted
      for (i <- s.indices; j <- i + 1 until s.length) pairN((s(i), s(j))) += 1
    }
    val expected = pairN.toSeq.filter(_._2 >= minSup).flatMap { case ((a, b), nab) =>
      for {
        na <- itemN.get(a); nb2 <- itemN.get(b)
      } yield Seq(
        (a, b, na, nb2, nab, 1000 * nab / na,
          (BigInt(1000000) * nab * nB / (BigInt(na) * nb2)).toLong),
        (b, a, nb2, na, nab, 1000 * nab / nb2,
          (BigInt(1000000) * nab * nB / (BigInt(nb2) * na)).toLong))
    }.flatten.filter(_._6 >= 100).toSet
    val got = graft.SparkEntry.queries("q163_assoc_rules")(spark, sf).collect()
      .map(r => (r.getAs[Long]("ante"), r.getAs[Long]("cons"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.getAs[Long]("n_ab"), r.getAs[Long]("conf_x1000"),
        r.getAs[Long]("lift_x1e6"))).toSet
    assert(got == expected,
      s"extra=${(got diff expected).take(3)} missing=${(expected diff got).take(3)}")
    assert(got.nonEmpty, "fixture degenerate: no rules above the floors")
  }

  test("q188: the ranked trigrams equal a driver-side sequential scan") {
    val got = graft.SparkEntry.queries("q188_sequence_mining")(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
    val events = ev.select(col("user_id"), col("event_type"),
        Tables.tsAsMillis(ev).as("t"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val counts = collection.mutable.Map[(String, String, String), Long]()
      .withDefaultValue(0L)
    events.groupBy(_._1).values.foreach { rows =>
      val seq = rows.sortBy(r => (r._3, r._4)).map(_._2)
      seq.sliding(3).filter(_.length == 3).foreach { w =>
        counts((w(0), w(1), w(2))) += 1
      }
    }
    val expected = counts.toSeq.filter(_._2 >= 5)
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(20)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (r, ((a, b, c), n)) =>
      assert((r.getString(1), r.getString(2), r.getString(3)) == ((a, b, c)))
      assert(r.getAs[Long]("cnt") == n)
    }
  }

  test("q189: survival is in (0, 1e6], non-increasing, and refolds from the steps") {
    val rows = graft.SparkEntry.queries("q189_kaplan_meier")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("day"))
      var s6 = 1000000L
      var prev = Long.MaxValue
      ordered.foreach { r =>
        val (n, dd) = (r.getAs[Long]("n_at_risk"), r.getAs[Long]("n_died"))
        assert(dd >= 1 && dd <= n)
        s6 = (s6 * (n - dd)) / n
        assert(r.getAs[Long]("surv_x1e6") == s6, r.toString)
        assert(s6 <= prev); prev = s6
        assert(s6 >= 0 && s6 <= 1000000L)
      }
    }
    // risk sets shrink as duration grows (within each cohort)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byDay = rs.sortBy(_.getAs[Long]("day")).map(_.getAs[Long]("n_at_risk"))
      assert(byDay.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }
}
