package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the quality/representation queries
  * (q121–q125) beyond the DuckDB hash-match: full Scala brute-force
  * recomputation of every metric, stream ≡ batch equality for the
  * incremental band dedup, and non-vacuity of every flag and score at
  * this scale. Runs at sf0.001 with in-memory recomputation as the
  * oracle.
  */
class QualitySpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val docs: Map[Long, String] =
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Spark's round(): BigDecimal HALF_UP on the double — the spec must
    * mirror it exactly (Scala math.round floors negatives differently). */
  private def sparkRound(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  // ---- q121 ----------------------------------------------------------

  test("q121: repetition metrics match brute force; both flag reasons fire") {
    val expected = docs.map { case (id, text) =>
      val ts = text.split(" ", -1)
      if (ts.length < 3) (id, 0L, 0L, 0L, false)
      else {
        val bg = ts.sliding(2).map(_.mkString(" ")).toSeq
        val tg = ts.sliding(3).map(_.mkString(" ")).toSeq
        val maxBg = bg.groupBy(identity).values.map(_.size).max.toLong
        val top = maxBg * 100 / bg.size
        val dup = (tg.size - tg.distinct.size).toLong * 100 / tg.size
        (id, bg.size.toLong, top, dup, top >= 8 || dup >= 2)
      }
    }.toSet
    val got = q("q121_repetition").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSet
    assert(got == expected)
    val flagged = got.filter(_._5)
    assert(flagged.nonEmpty && flagged.size < got.size, "flag is vacuous at this scale")
    // both rules must be live: some doc flagged by top-bigram, some by dup-trigram
    assert(got.exists(r => r._3 >= 8), "top-bigram rule never fires")
    assert(got.exists(r => r._4 >= 2), "dup-trigram rule never fires")
  }

  // ---- q122 ----------------------------------------------------------

  test("q122: int8 codes, scale, and reconstruction error match brute force") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val expected = vecs.map { case (id, v) =>
      val amax = v.map(x => math.abs(x.toDouble)).max
      val codes =
        if (amax == 0d) v.map(_ => 0L)
        else v.map(x => sparkRound(x.toDouble * 127 / amax))
      val err =
        if (amax == 0d) 0L
        else v.zip(codes).map { case (x, c) =>
          sparkRound(math.abs(x.toDouble - c.toDouble * amax / 127) * 1e9)
        }.sum
      (id, sparkRound(amax * 1e6), md5hex(codes.mkString(",")), err)
    }.toSet
    val got = q("q122_quantize_embed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got == expected)
    // non-vacuous: quantization is lossy but codes differ across vectors
    assert(got.exists(_._4 > 0), "every vector reconstructed exactly — vacuous")
    assert(got.map(_._3).size == vecs.length, "code digests collide across all vectors")
  }

  // ---- q123 ----------------------------------------------------------

  test("q123: familiarity equals brute-force corpus-bigram scoring") {
    val allBg = docs.values.flatMap { t =>
      val ts = t.split(" ", -1); if (ts.length >= 2) ts.sliding(2).map(w => (w(0), w(1))) else Nil
    }.toSeq
    val cAb = allBg.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val cFirst = allBg.groupBy(_._1).map { case (k, xs) => k -> xs.size.toLong }
    val expected = docs.map { case (id, t) =>
      val ts = t.split(" ", -1)
      if (ts.length < 2) (id, 0L, 0L, 0L)
      else {
        val bg = ts.sliding(2).map(w => (w(0), w(1))).toSeq
        val sumP = bg.map(b => cAb(b) * 1000000L / cFirst(b._1)).sum
        (id, bg.size.toLong, sumP / bg.size, bg.count(cAb(_) == 1L).toLong)
      }
    }.toSet
    val got = q("q123_lm_familiarity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.map(_._3).toSeq.distinct.size > 1, "familiarity constant — vacuous")
    assert(got.exists(_._4 > 0), "no hapax bigrams — vacuous")
  }

  // ---- q124 ----------------------------------------------------------

  test("q124: stream ≡ batch — bucket keepers equal the batch LSH recomputation; dups exist") {
    // batch truth from the ALREADY-VERIFIED q15 signature operator:
    // bucket minima over full-corpus band keys
    val sigs = graft.operators.MinHashDedup
      .signatures(Tables.documents(spark, sf), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    import graft.operators.MinHashDedup.{Bands, RowsPerBand}
    val bucketOf = sigs.flatMap { case (id, sig) =>
      (0 until Bands).map { b =>
        (b, (0 until RowsPerBand).map(r => sig(b * RowsPerBand + r)).mkString("_")) -> id
      }
    }
    val bmin = bucketOf.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).min }
    val expected = sigs.map { case (id, sig) =>
      val keeper = (0 until Bands).map { b =>
        bmin((b, (0 until RowsPerBand).map(r => sig(b * RowsPerBand + r)).mkString("_")))
      }.min
      (id, keeper, keeper < id)
    }.toSet
    val got = q("q124_stream_band_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == expected)
    assert(got.exists(_._3), "no near-duplicates found — vacuous")
    assert(got.exists(r => !r._3), "everything a duplicate — vacuous")
  }

  // ---- q125 ----------------------------------------------------------

  test("q125: chi-square drift equals exact BigInt recomputation; sources differ") {
    val bySource = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, xs) =>
        s -> xs.flatMap(_._2.split(" ", -1)).groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
      }
    val tot = bySource.values.flatten.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    val ns = bySource.map { case (s, m) => s -> m.values.sum }
    val n = ns.values.sum
    val expected = bySource.map { case (s, m) =>
      val chi = m.map { case (t, o) =>
        val d = BigInt(o * n - tot(t) * ns(s))
        (d * d * 1000 / (BigInt(n) * tot(t) * ns(s))).toLong
      }.sum
      (s, ns(s), chi)
    }.toSet
    val got = q("q125_source_drift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.map(_._3).toSeq.distinct.size > 1, "all sources drift identically — vacuous")
  }
}
