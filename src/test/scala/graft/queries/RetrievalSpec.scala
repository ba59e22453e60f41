package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite

/** q154's BM25 beyond the hash gate: the whole scoring chain —
  * tokenize, df, quantized idf, tf saturation, length normalization,
  * top-k — re-derived INDEPENDENTLY in driver-side Scala over the raw
  * corpus and compared rank-for-rank, so an arithmetic slip that both
  * engines happened to share could not survive.
  */
class RetrievalSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private val terms = Seq("spark", "join", "window", "stream")

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  test("q154: ranking equals an independent driver-side BM25 recompute") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    val dl = docs.map { case (id, ts) => id -> ts.length.toLong }.toMap
    val n = docs.length.toLong
    val avgdl = dl.values.sum / n
    val tf: Map[(Long, String), Long] = docs.flatMap { case (id, ts) =>
      ts.filter(terms.contains).groupBy(identity).map { case (t, o) => (id, t) -> o.length.toLong }
    }.toMap
    val df = terms.map(t => t -> tf.keys.count(_._2 == t).toLong).toMap
    def idfQ(t: String): Long = {
      val r = ((n - df(t) + 1) * 1024) / (df(t) + 1)
      java.lang.Long.toBinaryString(r).length.toLong
    }
    val scores = tf.groupBy(_._1._1).map { case (id, m) =>
      id -> m.map { case ((_, t), f) =>
        (idfQ(t) * f * 22 * (100 * avgdl) * 1000) /
          (10 * f * 100 * avgdl + 12 * (25 * avgdl + 75 * dl(id)))
      }.sum
    }
    val expected = scores.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(20)
    val got = SparkEntry.queries("q154_bm25")(spark, sf).collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score")))
    assert(got.toSeq == expected, s"got $got\nexpected $expected")
    assert(got.nonEmpty && got.head._2 > 0)
    // the md5 helper pins the hash alphabet assumption used elsewhere
    assert(md5hex("spark").length == 32)
  }

  test("q154: quantized idf is monotone decreasing in document frequency") {
    val n = 1000L
    def idfQ(df: Long): Long = {
      val r = ((n - df + 1) * 1024) / (df + 1)
      java.lang.Long.toBinaryString(r).length.toLong
    }
    val vals = Seq(1L, 5L, 20L, 100L, 400L, 900L).map(idfQ)
    assert(vals == vals.sorted.reverse, s"idf not monotone: $vals")
    assert(vals.forall(_ >= 1))
  }

  test("q178: fused scores recompute from the shipped ranks and dominate single-list peers") {
    val rows = Retrieval.queries("q178_rrf_fusion")(spark, sf).collect()
    assert(rows.length == 20)
    def contrib(r: Long): Long = if (r < 0) 0L else 100000000L / (60L + r)
    rows.foreach { r =>
      val (bm, vr) = (r.getAs[Long]("bm25_rank"), r.getAs[Long]("vec_rank"))
      assert(r.getAs[Long]("rrf_x1e8") == contrib(bm) + contrib(vr), r.toString)
      assert(bm == -1L || (bm >= 1 && bm <= 100))
      assert(vr == -1L || (vr >= 1 && vr <= 100))
      assert(bm != -1L || vr != -1L, "row in neither ranker")
    }
    // ranks strictly ordered by fused score with doc_id tie-break
    val fused = rows.sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("rrf_x1e8"), r.getAs[Long]("doc_id")))
    assert(fused.sliding(2).forall { case Array((s1, d1), (s2, d2)) =>
      s1 > s2 || (s1 == s2 && d1 < d2) },
      "fused order not (score desc, doc_id asc)")
  }
}
