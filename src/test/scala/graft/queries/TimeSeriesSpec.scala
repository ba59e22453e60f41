package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the time-series (q76–q78) and change-data
  * (q73/q80) queries that the DuckDB hash-match can't see on its own:
  * gap-fill domain density, rolling-frame containment, sliding-window
  * double-coverage, MERGE row accounting, and partial-merge equality
  * with the direct aggregate. Runs at sf0.001. */
class TimeSeriesSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q76: dense domain — |types| × |hours| rows, zero-fill non-vacuous, totals preserved") {
    val df = q("q76_gap_fill").cache()
    try {
      val types = df.select("event_type").distinct().count()
      val hours = df.select("hr").distinct().count()
      assert(df.count() == types * hours, "grid must be dense")
      assert(df.filter(col("n") === 0).count() > 0, "zero-filled slots must exist at sf0.001")
      val total = df.agg(sum("n")).head().getLong(0)
      val events = Tables.events(spark, sf).count()
      assert(total == events, s"gap fill must not lose or invent events: $total vs $events")
    } finally df.unpersist()
  }

  test("q77: rolling frame contains the row itself and only 7-day-window peers") {
    val df = q("q77_rolling").cache()
    try {
      assert(df.filter(col("roll_n") < 1).count() == 0, "frame always contains current row")
      // recompute one busy customer by hand
      val cust = df.groupBy("o_custkey").count().orderBy(desc("count")).head().getLong(0)
      val orders = Tables.orders(spark, sf)
        .filter(col("o_custkey") === cust)
        .select(expr("unix_micros(cast(o_orderdate as timestamp))").as("tsu"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"),
          col("o_orderkey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val week = 7L * 86400L * 1000000L
      val expected = orders.map { case (t, _, k) =>
        val in = orders.filter { case (t2, _, _) => t2 >= t - week && t2 <= t }
        k -> ((in.length.toLong, in.map(_._2).sum))
      }.toMap
      df.filter(col("o_custkey") === cust).collect().foreach { r =>
        val (n, cents) = expected(r.getAs[Long]("o_orderkey"))
        assert(r.getAs[Long]("roll_n") == n && r.getAs[Long]("roll_cents") == cents,
          s"orderkey ${r.getAs[Long]("o_orderkey")}")
      }
    } finally df.unpersist()
  }

  test("q78: every event is counted in exactly two sliding windows") {
    val total = q("q78_sliding_window").agg(sum("n")).head().getLong(0)
    val events = Tables.events(spark, sf).count()
    assert(total == 2 * events, s"1h/30m windows must double-count: $total vs ${2 * events}")
  }

  test("q73: merge row accounting — deletes gone, inserts present, updates applied") {
    val t = Tables.orders(spark, sf).select(
      col("o_orderkey").as("k"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents")).cache()
    val out = q("q73_merge_upsert").cache()
    try {
      val nBase = t.count()
      val nDel = t.filter(col("k") % 10 === 7).count()
      val nIns = t.filter(col("k") % 1000 === 5).count()
      assert(out.count() == nBase - nDel + nIns)
      assert(out.filter(col("o_orderkey") % 10 === 7).filter(col("o_orderkey") < 100000000L).count() == 0,
        "deleted keys must not survive")
      assert(out.filter(col("status") === "N").count() == nIns, "inserts all present")
      // spot-check an updated key: +500 cents vs the base table
      val joined = out.filter(col("o_orderkey") % 10 === 3 && col("o_orderkey") < 100000000L)
        .join(t, col("o_orderkey") === col("k"))
        .filter(col("status") =!= "U" || out("cents") =!= t("cents") + 500)
      assert(joined.count() == 0, "every surviving ≡3 key carries the update")
    } finally { out.unpersist(); t.unpersist() }
  }

  test("q80: merged partials equal the direct single-pass aggregate exactly") {
    val direct = Tables.events(spark, sf)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        round(col("value") * 100).cast("long").as("vx"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum("vx").as("sum_vx"),
        min("vx").as("min_vx"), max("vx").as("max_vx"))
    assert(q("q80_incremental_agg").exceptAll(direct).isEmpty &&
      direct.exceptAll(q("q80_incremental_agg")).isEmpty)
  }

  test("q79: every output row was actually clipped, into its group's [lo, hi], touching ≤ ~10%") {
    val out = q("q79_winsorize").cache()
    try {
      assert(out.filter(col("clipped") === col("cents")).count() == 0,
        "output must contain only rows the clamp changed")
      assert(out.filter(col("clipped") =!= col("cents")).count() == out.count())
      val total = Tables.orders(spark, sf).count()
      val frac = out.count().toDouble / total
      assert(frac > 0 && frac <= 0.12, s"winsorize touched fraction $frac")
      // clipped values are actual data values from the group (disc percentiles)
      val t = Tables.orders(spark, sf).select(col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c2"))
      val orphan = out.join(t, out("o_orderstatus") === t("o_orderstatus") &&
        out("clipped") === t("c2"), "left_anti")
      assert(orphan.count() == 0, "clip bounds must be actual group values")
    } finally out.unpersist()
  }

  test("q81: line lists are sorted, complete, and correctly sized") {
    val out = q("q81_group_concat").cache()
    try {
      assert(out.filter(col("n_lines") < 1).count() == 0)
      assert(out.count() ==
        Tables.lineitem(spark, sf).select("l_orderkey").distinct().count())
      // string order == array_sort order: re-sorting the split never changes it
      val unsorted = out.filter(
        array_join(array_sort(split(col("lines"), ",")), ",") =!= col("lines"))
      assert(unsorted.count() == 0, "lines must be sorted for determinism")
      val sizeMismatch = out.filter(size(split(col("lines"), ",")) =!= col("n_lines"))
      assert(sizeMismatch.count() == 0)
    } finally out.unpersist()
  }

  test("q80: the cutoff actually splits at least one group across base and delta") {
    val cutoff = lit("2024-01-21 12:00:00").cast("timestamp")
    val ev = Tables.events(spark, sf)
      .select(col("ts"), col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val spanning = ev.groupBy("event_type", "day")
      .agg(sum(when(col("ts") < cutoff, 1).otherwise(0)).as("lo"),
        sum(when(col("ts") >= cutoff, 1).otherwise(0)).as("hi"))
      .filter(col("lo") > 0 && col("hi") > 0)
    assert(spanning.count() > 0, "merge path must be exercised by split groups")
  }

  test("q158: segmented sweep equals a driver-side brute-force concurrency scan") {
    // independent recompute: per type, collect all (t, delta) points,
    // single sorted pass, track running sum and earliest peak instant
    val ev = Tables.events(spark, sf)
    val rows = ev.select(col("event_id"), col("event_type"),
        Tables.tsAsMillis(ev).as("st"),
        greatest(round(col("value") * 100).cast("long"), lit(1L)).as("dur"))
      .collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    val expected = byType.map { case (tp, rs) =>
      val pts = rs.flatMap { r =>
        val (id, st, dur) = (r.getAs[Long]("event_id"), r.getAs[Long]("st"), r.getAs[Long]("dur"))
        Seq((st, 1L, id), (st + dur, -1L, id))
      }.sortBy(p => (p._1, p._2, p._3))
      var run = 0L; var peak = Long.MinValue; var peakAt = 0L
      pts.foreach { case (t, dl, _) =>
        run += dl
        if (run > peak) { peak = run; peakAt = t }
      }
      tp -> (peak, peakAt)
    }
    val got = SparkEntry.queries("q158_concurrency")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("peak_conc"), r.getAs[Long]("peak_at_ms")))
      .toMap
    assert(got == expected, s"got $got\nexpected $expected")
    // the segmentation must actually have split: the sweep spans > 1 day
    val days = rows.map(_.getAs[Long]("st") / 86400000L).distinct
    assert(days.length > 1, "fixture degenerate: carry-in path unexercised")
  }

  test("q160: MAD outliers equal a driver-side sort-based recompute") {
    val rows = Tables.documents(spark, sf).select("source", "n_chars").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.length + 1) / 2 - 1)
    val expected = rows.groupBy(_._1).map { case (src, rs) =>
      val xs = rs.map(_._2).toSeq
      val med = lowerMedian(xs)
      val devs = xs.map(x => math.abs(x - med))
      val mad = lowerMedian(devs)
      val out = devs.count(d => d * 10000L > mad * 20000L).toLong
      src -> (xs.length.toLong, med, mad, out)
    }
    val got = SparkEntry.queries("q160_mad_outliers")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("med_chars"),
        r.getAs[Long]("mad_chars"), r.getAs[Long]("n_outliers"))).toMap
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.values.exists(_._4 > 0), "fixture degenerate: no outliers flagged anywhere")
  }

  test("q169: out-of-sync buckets are exactly the buckets the change feed touched") {
    val keys = Tables.orders(spark, sf).select(col("o_orderkey"))
      .collect().map(_.getLong(0))
    val touched = (keys.filter(k => k % 10 == 3 || k % 10 == 7).map(_ % 256) ++
      keys.filter(_ % 1000 == 5).map(k => (k + 100000000L) % 256)).toSet
    val rows = SparkEntry.queries("q169_table_sync")(spark, sf).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Boolean]("in_sync")).toMap
    val outOfSync = rows.filter(!_._2).keySet
    assert(outOfSync == touched,
      s"extra=${(outOfSync diff touched).take(5)} missing=${(touched diff outOfSync).take(5)}")
    assert(outOfSync.nonEmpty && outOfSync.size < rows.size,
      "fixture degenerate: both sync outcomes must be exercised")
  }

  test("q165: Lorenz shares are monotone, sum to ~10^6, and Gini matches a driver recompute") {
    val rows = SparkEntry.queries("q165_gini")(spark, sf).collect()
      .sortBy(_.getAs[Long]("decile"))
    val shares = rows.map(_.getAs[Long]("share_x1e6"))
    // ascending-rank deciles make shares nondecreasing (Lorenz)
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b }, shares.toSeq)
    val total = shares.sum
    assert(total <= 1000000 && total >= 1000000 - shares.length,
      s"floor-rounded shares must sum to ~1e6: $total")
    val gini = rows.head.getAs[Long]("gini_x1e6")
    assert(rows.forall(_.getAs[Long]("gini_x1e6") == gini))
    // independent recompute from raw orders
    val spend = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sum }
    val xs = spend.toSeq.sortBy { case (k, x) => (x, k) }.map(_._2)
    val n = BigInt(xs.length); val sx = xs.map(BigInt(_)).sum
    val srx = xs.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
    val expected = (BigInt(1000000) * (2 * srx - (n + 1) * sx)) / (n * sx)
    assert(BigInt(gini) == expected, s"gini $gini vs $expected")
    assert(gini > 0 && gini < 1000000)
  }

  test("q166: every attribution equals the brute-force latest-click-in-window lookup") {
    val ev = Tables.events(spark, sf)
    val base = ev.select(col("event_id"), col("user_id"), col("event_type"),
        Tables.tsAsMillis(ev).as("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = base.filter(_._3 == "click")
    val wk = 7L * 86400000L
    val expected = base.filter(_._3 == "purchase").map { case (id, u, _, t) =>
      val cands = clicks.filter(c => c._2 == u && c._4 <= t && t - c._4 <= wk)
      val att = if (cands.isEmpty) (-1L, -1L) else {
        val best = cands.maxBy(c => (c._4, c._1))
        (best._1, t - best._4)
      }
      id -> att
    }.toMap
    val got = SparkEntry.queries("q166_attribution")(spark, sf).collect()
      .map(r => r.getAs[Long]("buy_id") ->
        (r.getAs[Long]("att_click_id"), r.getAs[Long]("gap_ms"))).toMap
    assert(got == expected)
    assert(got.values.exists(_._1 >= 0) && got.values.exists(_._1 == -1L),
      "fixture degenerate: both attribution branches must be exercised")
  }

  test("q157: skyline equals brute-force pairwise dominance") {
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("d"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = orders.filter { case (_, d, c) =>
      !orders.exists { case (_, d2, c2) => d2 < d && c2 > c }
    }.map(_._1).toSet
    val got = SparkEntry.queries("q157_skyline")(spark, sf).collect()
      .map(_.getAs[Long]("o_orderkey")).toSet
    assert(got == expected,
      s"skyline mismatch: extra=${(got diff expected).take(5)} missing=${(expected diff got).take(5)}")
    assert(got.nonEmpty && got.size < orders.length,
      "fixture degenerate: skyline trivial")
  }

  /** Driver-side gap-filled hourly series per type — the shared input
    * of the q174/q175/q177 cross-checks. */
  private def hourlySeries(): Map[String, Array[Long]] = {
    val ev = Tables.events(spark, sf)
    ev.select(col("event_type"), Tables.tsAsMillis(ev).as("ms")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600000L))
      .groupBy(_._1).map { case (t, rows) =>
        val es = rows.map(_._2)
        val (lo, hi) = (es.min, es.max)
        val cnt = es.groupBy(identity).map { case (e, g) => e -> g.length.toLong }
        t -> (lo to hi).map(e => cnt.getOrElse(e, 0L)).toArray
      }
  }

  test("q174: the window closed form equals the recursive CUSUM definition") {
    val got = SparkEntry.queries("q174_cusum")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val series = hourlySeries()
    assert(got.keySet == series.keySet)
    series.foreach { case (t, xs) =>
      val n = xs.length.toLong; val sx = xs.sum
      var s = 0L; var peak = 0L; var alarms = 0L
      xs.foreach { x =>
        s = math.max(0L, s + (n * x - sx)) // textbook recursion, ×n scale
        peak = math.max(peak, s)
        if (s > 2 * sx) alarms += 1
      }
      assert(got(t).getAs[Long]("peak_s") == peak, s"$t peak")
      assert(got(t).getAs[Long]("n_alarms") == alarms, s"$t alarms")
      assert(got(t).getAs[Long]("n_hours") == n, s"$t hours")
    }
  }

  test("q175: |r| <= 1e6 and lag-k sums match a driver-side scan") {
    val got = SparkEntry.queries("q175_acf")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(math.abs(r.getAs[Long]("r_x1e6")) <= 1000000L))
    val series = hourlySeries()
    val byKey = got.map(r => (r.getString(0), r.getAs[Long]("lag")) -> r).toMap
    series.foreach { case (t, xs) =>
      val n = xs.length.toLong; val sx = xs.sum
      val c = xs.map(x => n * x - sx)
      val den = c.map(v => BigInt(v) * v).sum
      (1L to 12L).foreach { k =>
        val num = (0 until (c.length - k.toInt))
          .map(i => BigInt(c(i)) * c(i + k.toInt)).sum
        val expect = if (den == 0) BigInt(0) else (num * 1000000) / den
        val r = byKey((t, k))
        assert(r.getAs[Long]("n_pairs") == c.length - k,
          s"$t lag $k pairs")
        assert(BigInt(r.getAs[Long]("r_x1e6")) == expect, s"$t lag $k r")
      }
    }
  }

  test("q177: full-frame residuals average to the reported seasonal index") {
    val got = SparkEntry.queries("q177_seasonal")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("hod")) -> r).toMap
    val ev = Tables.events(spark, sf)
    val es = ev.select(col("event_type"), Tables.tsAsMillis(ev).as("ms")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600000L))
    es.groupBy(_._1).foreach { case (t, rows) =>
      val hrs = rows.map(_._2)
      val (lo, hi) = (hrs.min, hrs.max)
      val cnt = hrs.groupBy(identity).map { case (e, g) => e -> g.length.toLong }
      val xs = (lo to hi).map(e => cnt.getOrElse(e, 0L)).toArray
      val buckets = collection.mutable.Map[Long, (Long, Long)]().withDefaultValue((0L, 0L))
      for (i <- 12 until xs.length - 12) {
        val wsum = (i - 12 to i + 12).map(xs).sum
        val hod = (lo + i) % 24
        val (n0, s0) = buckets(hod)
        buckets(hod) = (n0 + 1, s0 + 25 * xs(i) - wsum)
      }
      buckets.foreach { case (hod, (nObs, ssum)) =>
        val r = got((t, hod))
        assert(r.getAs[Long]("n_obs") == nObs, s"$t hod $hod n")
        // Spark div truncates toward zero, like BigInt /
        assert(r.getAs[Long]("seasonal_x100") ==
          (BigInt(100) * ssum / (25 * nObs)).toLong, s"$t hod $hod idx")
      }
    }
  }

  test("q191: segmented islands equal a driver-side sequential merge, and merges exist") {
    // sf0.01: the sf0.001 fixture is overlap-free (1k short intervals
    // over 60 days) — the merge path would go untested there
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q191_interval_coalesce")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("island_start"),
        r.getAs[Long]("island_end"), r.getAs[Long]("n_merged"))).toSet
    val ev = Tables.events(spark, sf)
    val ivs = ev.select(col("event_type"), Tables.tsAsMillis(ev).as("st"),
        greatest(org.apache.spark.sql.functions.round(col("value") * 100)
          .cast("long"), lit(1L)).as("dur"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(1) + r.getLong(2), r.getLong(3)))
    val expected = ivs.groupBy(_._1).flatMap { case (t, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._4))
      val islands = collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      sorted.foreach { case (_, st, en, _) =>
        islands.lastOption match {
          case Some((is, ie, n)) if st <= ie => // touching merges
            islands(islands.length - 1) = (is, math.max(ie, en), n + 1)
          case _ => islands += ((st, en, 1L))
        }
      }
      islands.map { case (is, ie, n) => (t, is, ie, n) }
    }.toSet
    assert(got == expected,
      s"extra=${(got diff expected).take(3)} missing=${(expected diff got).take(3)}")
    assert(expected.exists(_._4 > 1), "fixture degenerate: nothing merged")
  }

  test("q180: Cauchy-Schwarz bound holds and every non-ref type reports all 25 lags") {
    val rows = SparkEntry.queries("q180_ccf")(spark, sf).collect()
    assert(rows.nonEmpty)
    val types = rows.map(_.getString(0)).distinct
    types.foreach { t =>
      val lags = rows.filter(_.getString(0) == t).map(_.getAs[Long]("lag")).sorted
      assert(lags.toSeq == (-12L to 12L), s"$t lags $lags")
    }
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("r2s_x1e12")) <= 1000000000000L, r.toString)
      val rr = r.getAs[Long]("r2s_x1e12")
      assert(rr == 0L || (rr > 0) == (r.getAs[Long]("ccf_num") > 0))
    }
  }
}
