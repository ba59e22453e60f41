package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the corpus-preparation queries (q57–q65) that
  * the DuckDB hash-match can't see on its own: rule-flag consistency,
  * chunk geometry/reconstruction, scrub completeness, quantization
  * saturation, ntile bucket balance, NFC change parity, diff status
  * partitioning. Runs at sf0.001. */
class CorpusSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q57: keep is exactly the conjunction of the four rule flags") {
    val bad = q("q57_gopher_rules")
      .filter(col("keep") =!= col("r_count") * col("r_wordlen") * col("r_distinct") * col("r_stop"))
      .count()
    assert(bad == 0)
  }

  test("q57: every flag is 0/1 and the filter is non-vacuous (both outcomes occur)") {
    val df = q("q57_gopher_rules").cache()
    try {
      Seq("r_count", "r_wordlen", "r_distinct", "r_stop", "keep").foreach { c =>
        assert(df.filter(col(c) < 0 || col(c) > 1).count() == 0, c)
      }
      val n = df.count()
      val kept = df.filter(col("keep") === 1).count()
      assert(kept > 0 && kept < n, s"filter vacuous: $kept of $n kept")
    } finally df.unpersist()
  }

  test("q60: chunk count and sizes match the w=32/s=24 geometry") {
    val sp = spark; import sp.implicits._
    val chunks = q("q60_chunk").cache()
    try {
      // every chunk within [1, 32] tokens
      assert(chunks.filter(col("n_chunk_tokens") < 1 || col("n_chunk_tokens") > 32).count() == 0)
      // per-doc chunk count = floor((n_tokens-1)/24)+1 against an
      // independent token count
      val nToks = Tables.documents(spark, sf)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      val mismatches = chunks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), max("chunk_idx").as("max_idx"))
        .join(nToks, "doc_id")
        .filter(col("n_chunks") =!= expr("(n - 1) div 24 + 1") ||
                col("max_idx") =!= expr("(n - 1) div 24"))
        .count()
      assert(mismatches == 0)
      // stride < window ⇒ consecutive chunks overlap ⇒ every token is
      // covered: the sum of chunk sizes per doc exceeds n_tokens unless
      // there is exactly one chunk
      val uncovered = chunks.groupBy("doc_id")
        .agg(sum("n_chunk_tokens").as("tot"), count(lit(1)).as("nc"))
        .join(nToks, "doc_id")
        .filter(col("nc") > 1 && col("tot") <= col("n"))
        .count()
      assert(uncovered == 0)
    } finally chunks.unpersist()
  }

  test("q59: planted PII is found and fully scrubbed") {
    val sp = spark; import sp.implicits._
    val df = q("q59_pii_scrub").cache()
    try {
      assert(df.filter(col("n_emails") < 1 || col("n_phones") < 1).count() == 0)
      // recompute the scrub inline and prove no pattern survives it
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+1-[0-9]{3}-[0-9]{4}"
      val planted = concat(
        lit("user"), col("doc_id").cast("string"), lit("@example.com "),
        col("text"),
        lit(" +1-555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val residue = Tables.documents(spark, sf)
        .select(regexp_replace(regexp_replace(planted, email, "<EMAIL>"), phone, "<PHONE>").as("s"))
        .filter(size(regexp_extract_all(col("s"), lit(email), lit(0))) > 0 ||
                size(regexp_extract_all(col("s"), lit(phone), lit(0))) > 0)
        .count()
      assert(residue == 0)
    } finally df.unpersist()
  }

  test("q62: quantization saturates at ±127 on the max-abs element, bounded everywhere") {
    val df = q("q62_quantize").cache()
    try {
      assert(df.filter(col("q_max") > 127 || col("q_min") < -127).count() == 0)
      // the element attaining max |x| maps to exactly +127 (x = mx) or
      // −127 (x = −mx): every vector must touch a saturation point
      assert(df.filter(col("q_max") =!= 127 && col("q_min") =!= -127).count() == 0)
      assert(df.filter(col("n_dims") <= 0).count() == 0)
    } finally df.unpersist()
  }

  test("q63: equi-depth buckets are contiguous, cover all rows, sizes differ by at most 1") {
    val sp = spark; import sp.implicits._
    val h = q("q63_equidepth").orderBy("bucket")
      .select(col("bucket"), col("n_rows"), col("lo_x100"), col("hi_x100"))
      .as[(Long, Long, Long, Long)].collect()
    assert(h.map(_._1).toSeq == (1L to h.length))
    val sizes = h.map(_._2)
    assert(sizes.max - sizes.min <= 1, sizes.mkString(","))
    assert(sizes.sum == Tables.orders(spark, sf).count())
    // depth boundaries are non-decreasing across buckets
    h.sliding(2).foreach { case Array(a, b) => assert(a._4 <= b._3, s"$a !<= $b"); case _ => }
  }

  test("q64: exactly the even doc_ids change, each losing one combining codepoint") {
    val df = q("q64_normalize").cache()
    try {
      // planted (even ids): NFC composes e+U+0301 -> one codepoint less
      assert(df.filter(col("changed") === 1 &&
        (pmod(col("doc_id"), lit(2)) =!= 0 || col("len_raw") - col("len_nfc") =!= 1)).count() == 0)
      // odd ids: ASCII soup is NFC-invariant
      assert(df.filter(col("changed") === 0 && pmod(col("doc_id"), lit(2)) === 0).count() == 0)
      val n = df.count()
      assert(df.filter(col("changed") === 1).count() == (n + 1) / 2)
    } finally df.unpersist()
  }

  test("q65: diff statuses partition the id space exactly as the v2 derivation dictates") {
    val sp = spark; import sp.implicits._
    val df = q("q65_snapshot_diff").cache()
    try {
      val byStatus = df.groupBy("status").count().as[(String, Long)].collect().toMap
      val ids = Tables.documents(spark, sf).select(col("doc_id")).as[Long].collect()
      assert(byStatus.getOrElse("removed", 0L) == ids.count(_ % 13 == 0))
      assert(byStatus.getOrElse("added", 0L) == ids.count(_ % 11 == 0))
      assert(byStatus.getOrElse("changed", 0L) == ids.count(i => i % 7 == 0 && i % 13 != 0))
      assert(byStatus.values.sum == ids.length + ids.count(_ % 11 == 0))
      assert(byStatus.keySet == Set("added", "removed", "changed", "unchanged"))
    } finally df.unpersist()
  }

  test("q61: per-doc token count agrees with an independent tokenizer; rarest_tf >= 1") {
    val nToks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val bad = q("q61_unigram_lm").join(nToks, "doc_id")
      .filter(col("n_tokens") =!= col("n") || col("rarest_tf") < 1 ||
              col("sum_tf") < col("n_tokens"))
      .count()
    assert(bad == 0)
  }
}
