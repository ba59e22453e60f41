package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The deterministic sketches (q137-q139) beyond the hash gate: the
  * estimates must actually ESTIMATE (error inside the family's
  * theoretical bounds on real data), and the sketch state must be
  * MERGEABLE — the property that makes a sketch a distributed operator
  * rather than a curiosity (partial aggregation IS a merge). */
class SketchesSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q137: raw HLL estimate lands within 3σ (m=32 → ±55%) of exact in the raw regime") {
    // sf0.01: n_exact = 150 per type ≥ 2.5m = 80, the raw estimator's
    // home regime (the query deliberately ships the RAW formula — no
    // float linear-counting branch, engine-portable by construction —
    // and documents the low-range bias)
    val rows = SparkEntry.queries("q137_hll_sketch")(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("est")
      assert(exact >= 80, s"fixture left the raw regime: $exact")
      assert(math.abs(est - exact) <= (exact * 55) / 100,
        s"${r.getString(0)}: est $est vs exact $exact")
      assert(r.getAs[Long]("nreg") <= 32)
    }
    // below the raw regime (sf0.001: n = 15) the raw formula's known
    // positive bias stays bounded by the α·m ceiling
    SparkEntry.queries("q137_hll_sketch")(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("est") <= 3L * 32, r.toString)
    }
  }

  test("q137: the register sketch is mergeable — max-merge of halves equals the whole") {
    // re-derive (event_type, idx, rank) with the query's own hash
    // construction, split by user parity, and check elementwise-max of
    // the halves' registers equals the full registers — partial
    // aggregation on max IS the HLL merge, so a 1000-executor rollup is
    // exact by this property.
    val h = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .withColumn("idx", col("h") % 32)
      .withColumn("rank", least(lit(56) - length(bin(expr("h div 32"))), lit(40)))
    def regs(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Int] =
      df.groupBy(col("event_type"), col("idx")).agg(max(col("rank")).as("m"))
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getInt(2))).toMap
    val whole = regs(h)
    val a = regs(h.filter(col("user_id") % 2 === 0))
    val b = regs(h.filter(col("user_id") % 2 === 1))
    val merged = (a.keySet ++ b.keySet).map { k =>
      k -> math.max(a.getOrElse(k, 0), b.getOrElse(k, 0))
    }.toMap
    assert(merged == whole)
  }

  test("hll_registers (native aggregate) equals the relational groupBy(idx).max derivation") {
    val sp = spark; import sp.implicits._
    graft.functions.GraftFunctions.register(spark)
    val vals = (1 to 500).map(i => ("g" + (i % 3), (i * 2654435761L) & ((1L << 60) - 1)))
    val df = vals.toDF("g", "h")
    val native = df.groupBy(col("g"))
      .agg(expr("hll_registers(h)").as("regs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toVector).toMap
    val relational = df
      .withColumn("idx", col("h") % 32)
      .withColumn("rank", least(lit(56) - length(bin(expr("h div 32"))), lit(40)))
      .groupBy(col("g"), col("idx")).agg(max(col("rank")).as("m"))
      .collect().groupBy(_.getString(0)).map { case (g, rows) =>
        val regs = Array.fill(32)(0)
        rows.foreach(r => regs(r.getLong(1).toInt) = r.getInt(2))
        g -> regs.toVector
      }
    assert(native == relational)
  }

  test("q138: KMV estimate is exact below k and within ±20% (3σ for k=256) above it") {
    val rows = SparkEntry.queries("q138_kmv_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_tokens_exact")
      val est = r.getAs[Long]("est")
      val skSize = r.getAs[Long]("sk_size")
      if (skSize < 256)
        // degenerate regime: the sketch saw every hash — est counts
        // distinct TRUNCATED hashes, so allow only collision slack
        assert(exact - est <= math.max(2L, exact / 50) && est <= exact,
          s"${r.getString(0)}: degenerate est $est vs exact $exact")
      else
        assert(math.abs(est - exact) <= (exact * 20) / 100,
          s"${r.getString(0)}: est $est vs exact $exact")
    }
  }

  test("q144: count-min is one-sided and tight — est ≥ exact, overshoot within the CM bound") {
    val rows = SparkEntry.queries("q144_countmin")(spark, sf).collect()
    assert(rows.length == 20)
    val n = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).count()
    rows.foreach { r =>
      val exact = r.getAs[Long]("c_exact")
      val est = r.getAs[Long]("c_est")
      assert(est >= exact, s"${r.getAs[String]("token")}: CM must never undercount ($est < $exact)")
      // standard CM guarantee: overshoot ≤ 2N/w with prob 1-2^-d per
      // probe; gate at 4N/w for slack on a fixed corpus
      assert(est - exact <= math.max(5L, 4L * n / 512),
        s"${r.getAs[String]("token")}: overshoot ${est - exact} vs N=$n")
    }
  }

  test("q144: the counter table is mergeable by addition — sum-merge of halves equals the whole") {
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
    def cm(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      df.groupBy(col("t")).agg(count(lit(1)).as("c"))
        .select(col("t"), col("c"), explode(sequence(lit(0), lit(3))).as("r"))
        .withColumn("b", expr(
          "CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', t)), 1, 15), 16, 10) AS BIGINT) % 512"))
        .groupBy(col("r"), col("b")).agg(sum(col("c")).as("cnt"))
        .collect().map(x => ((x.getInt(0), x.getLong(1)), x.getLong(2))).toMap
    val whole = cm(toks)
    val a = cm(toks.filter(col("doc_id") % 2 === 0))
    val b = cm(toks.filter(col("doc_id") % 2 === 1))
    val merged = (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == whole)
  }

  test("q139: KMV Jaccard tracks exact vocabulary Jaccard within ±0.2 on every pair") {
    val toks = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).distinct()
    val bySrc = toks.collect().groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getString(1)).toSet }
    val got = SparkEntry.queries("q139_kmv_jaccard")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (sa, sb) = (bySrc(a), bySrc(b))
      val exact = (sa & sb).size.toDouble / (sa | sb).size
      val est = r.getAs[Long]("jacc_x1000") / 1000.0
      assert(math.abs(est - exact) <= 0.2, s"($a,$b): est $est vs exact $exact")
    }
  }

  test("q156: streaming count-min converges to the batch counter table exactly") {
    // the q142 property for the sum-mergeable member: cross-micro-batch
    // stateful sums must equal q144's batch-derived counters — the
    // identity that makes the streaming face a drop-in for the batch
    // sketch (and the partial-agg merge for both)
    val streamed = SparkEntry.queries("q156_stream_countmin")(spark, sf).collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("b")) -> r.getAs[Long]("cnt")).toMap
    val batch = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0)
      .select(col("t"), explode(sequence(lit(0), lit(3))).as("r"))
      .withColumn("b", expr(
        "CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', t)), 1, 15), 16, 10) AS BIGINT) % 512"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getAs[Int]("r").toLong, r.getAs[Long]("b")) -> r.getAs[Long]("cnt")).toMap
    assert(streamed == batch,
      s"${streamed.size} streamed vs ${batch.size} batch counters; diff=${
        (streamed.toSet diff batch.toSet).take(3)}")
  }

  test("q167: streaming moments converge to the batch sketch exactly (row-identical to q152)") {
    def key(r: org.apache.spark.sql.Row) = r.getAs[String]("source")
    def snap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => key(r) -> r.toSeq.toList).toMap
    val batch = snap(SparkEntry.queries("q152_moments")(spark, sf).collect())
    val streamed = snap(SparkEntry.queries("q167_stream_moments")(spark, sf).collect())
    assert(streamed == batch,
      s"faces diverge: ${(streamed.toSet diff batch.toSet).take(2)}")
  }

  test("q152: the moments sketch is mergeable — sum-merge of halves equals the whole") {
    // power sums computed on doc-parity halves, merged by ADDITION,
    // must equal the whole-corpus sums: that identity is why one
    // partial-aggregable pass (and any cross-shard rollup) is exact
    def sums(parity: Option[Int]): Map[String, (Long, BigInt, BigInt)] = {
      val rows = Tables.documents(spark, sf).collect()
        .filter(r => parity.forall(p => r.getAs[Long]("doc_id") % 2 == p))
      rows.groupBy(_.getAs[String]("source")).map { case (src, rs) =>
        val xs = rs.map(r => BigInt(r.getAs[Long]("n_chars")))
        src -> (rs.length.toLong, xs.sum, xs.map(x => x * x * x * x).sum)
      }
    }
    val (even, odd, whole) = (sums(Some(0)), sums(Some(1)), sums(None))
    (even.keySet ++ odd.keySet).foreach { src =>
      val e = even.getOrElse(src, (0L, BigInt(0), BigInt(0)))
      val o = odd.getOrElse(src, (0L, BigInt(0), BigInt(0)))
      val w = whole(src)
      assert((e._1 + o._1, e._2 + o._2, e._3 + o._3) == w, src)
    }
    // and the query's shipped s4 equals the driver-side exact sum —
    // the decimal-string channel carries the full magnitude
    val got = SparkEntry.queries("q152_moments")(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> BigInt(r.getAs[String]("s4_str"))).toMap
    whole.foreach { case (src, (_, _, s4)) => assert(got(src) == s4, src) }
  }

  test("q152: derived stats re-derive exactly from the shipped sums (self-consistency)") {
    SparkEntry.queries("q152_moments")(spark, sf).collect().foreach { r =>
      val n = BigInt(r.getAs[Long]("n"))
      val s1 = BigInt(r.getAs[Long]("s1")); val s2 = BigInt(r.getAs[Long]("s2"))
      val s3 = BigInt(r.getAs[String]("s3_str")); val s4 = BigInt(r.getAs[String]("s4_str"))
      val m2 = n * s2 - s1 * s1
      val m3n = n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
      val m4n = n * n * n * s4 - 4 * n * n * s1 * s3 + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
      assert(BigInt(r.getAs[Long]("mean_x1000")) == (1000 * s1) / n, r.toString)
      assert(BigInt(r.getAs[Long]("var_x1e6")) == (1000000 * m2) / (n * n), r.toString)
      assert(BigInt(r.getAs[Long]("m3c")) == m3n / (n * n * n), r.toString)
      if (m2 != 0)
        assert(BigInt(r.getAs[Long]("kurt_x1000")) == (1000 * n * m4n) / (m2 * m2), r.toString)
      // moment inequalities any valid sketch satisfies: m2 >= 0,
      // kurtosis >= 1 (Pearson's bound kurt >= skew^2 + 1)
      assert(m2 >= 0 && m4n >= 0, r.toString)
      if (m2 != 0) assert(r.getAs[Long]("kurt_x1000") >= 1000, r.toString)
    }
  }

  // accuracy bounds run at sf0.01 (the driver-gate scale): at sf0.001
  // the fixtures are smaller than the fixed sketch geometries — CM's
  // w=512 sits under the orderkey population (collisions dominate) and
  // the raw HLL estimator is biased high for n ≲ m — both the KNOWN
  // sketch small-range regimes, not regressions.
  private val sfGate = "/root/testdata/sf0.01"

  test("q182: AMS estimate is within its variance bound and exact matches a driver recompute") {
    val r = Sketches.queries("q182_join_size_sketch")(spark, sfGate).collect()(0)
    assert(r.getAs[Boolean]("within_bound"))
    // driver-side exact Σ c_A(k)·c_B(k) and F2 moments
    val ca = Tables.orders(spark, sfGate).groupBy(col("o_orderkey")).count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val cb = Tables.lineitem(spark, sfGate).groupBy(col("l_orderkey")).count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val exact = ca.iterator.map { case (k, c) => c * cb.getOrElse(k, 0L) }.sum
    assert(r.getAs[Long]("exact_join_size") == exact)
    assert(r.getAs[Long]("f2_a") == ca.values.map(c => c * c).sum)
    assert(r.getAs[Long]("f2_b") == cb.values.map(c => c * c).sum)
    // unbiased estimator with k=128 on this join shape: ~9% std error;
    // hold the realized error to 30%
    assert(math.abs(r.getAs[Long]("err_x1e6")) <= 300000L,
      s"AMS estimate off: ${r.getAs[Long]("err_x1e6")}")
  }

  test("q183: union estimate dominates both sides, inclusion-exclusion is internally consistent") {
    val rows = Sketches.queries("q183_hll_intersect")(spark, sfGate).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ea, eb, eu) = (r.getAs[Long]("est_a"), r.getAs[Long]("est_b"),
        r.getAs[Long]("est_union"))
      // register-wise max is monotone in every register ⇒ est(A∪B) ≥ est(A), est(B)
      assert(eu >= math.max(ea, eb), r.toString)
      assert(r.getAs[Long]("est_inter") == ea + eb - eu, r.toString)
      // m = 32 registers ⇒ ~18% standard error; hold the union to 45%
      val exactU = r.getAs[Long]("n_a") + r.getAs[Long]("n_b") -
        r.getAs[Long]("inter_exact")
      assert(math.abs(eu - exactU).toDouble / exactU <= 0.45,
        s"union estimate off: $eu vs $exactU")
    }
  }

  test("q176: MG candidates prune a planted-Zipf vocabulary yet keep every true heavy hitter") {
    // Planted Zipf: vocab 5000 ≫ m = 700 slots, so per-partition MG
    // must genuinely evict — the superset theorem (not capacity) is
    // what keeps the true heavy hitters alive. Word w_r appears
    // ⌈2000/r⌉ times; docs shuffle words deterministically by hash.
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mghh").toString
    try {
      val words = (1 to 5000).flatMap(r => Seq.fill(2000 / r + 1)(s"w$r"))
        .sortBy(w => { // deterministic shuffle
          val c = new java.util.zip.CRC32(); c.update((w + "salt").getBytes); c.getValue
        })
      val docs = words.grouped(200).zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "), "en", "s", ws.mkString(" ").length.toLong)
      }.toSeq
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(8) // force multiple MG partitions
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Sketches.queries("q176_heavy_hitters")(spark, dir).collect()
        .map(r => r.getAs[String]("bigram") -> r.getAs[Long]("cnt")).toMap
      // exact truth, recomputed flat
      val bigrams = spark.read.parquet(s"$dir/documents.parquet")
        .select(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ").as("ts"))
        .selectExpr("explode(transform(sequence(1, size(ts) - 1), " +
          "i -> concat(element_at(ts, i), '_', element_at(ts, i + 1)))) AS b")
        .groupBy("b").count().collect()
        .map(r => r.getString(0) -> r.getLong(1))
      val n = bigrams.map(_._2).sum
      val truth = bigrams.filter(_._2 * 600 > n).toMap
      assert(got == truth,
        s"HH mismatch: got ${got.size}, truth ${truth.size}")
      assert(truth.nonEmpty, "fixture degenerate: no heavy hitters planted")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
