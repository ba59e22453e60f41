package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the curation queries (q101–q106) beyond the
  * DuckDB hash-match: blocking losslessness vs a Scala brute force,
  * cluster-label minimality, vocabulary ordering, span-dedup
  * reconstruction (an untouched document rebuilds to its own md5),
  * bigram argmax determinism, and manifest digest integrity. Runs at
  * sf0.001 with full in-memory recomputation as the oracle.
  */
class CurationSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val docs: Map[Long, String] =
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  // ---- q101 ----------------------------------------------------------

  test("q101: band blocking is lossless — output equals the Scala brute-force hamming count") {
    // signatures straight from the q16 gate query (itself hash-verified)
    val sigs = q("q16_dedup_simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val near = ids.map { a =>
      val others = ids.filter(b => b != a &&
        java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3)
      a -> others
    }.toMap
    val out = q("q101_simhash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.length == ids.length)
    out.foreach { case (id, n, mn) =>
      val exp = near(id)
      assert(n == exp.length, s"doc $id: n_near $n != ${exp.length}")
      assert(mn == (if (exp.isEmpty) -1L else exp.min), s"doc $id: min_neighbor")
    }
    assert(out.exists(_._2 > 0), "vacuous: no near pairs at sf0.001")
  }

  // ---- q102 ----------------------------------------------------------

  test("q102: cluster ids are component minima, keepers are exactly the labels, sizes sum to the corpus") {
    val rows = q("q102_dedup_pipeline").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length == docs.size)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid label is not its min member")
      assert(members.forall(_._3 == members.length), s"cluster $cid size column wrong")
      assert(members.count(_._4) == 1 && members.find(_._4).get._1 == cid,
        s"cluster $cid keeper flag wrong")
    }
    assert(byCluster.values.map(_.length).sum == docs.size)
    // and the clustering is consistent with the q15 pairs it came from
    val pairs = q("q15_dedup_minhash").collect().map(r => (r.getLong(0), r.getLong(1)))
    val label = rows.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across clusters")
    }
  }

  // ---- q103 ----------------------------------------------------------

  test("q103: vocabulary is the exact top-20 by (count DESC, token ASC) of the subword counts") {
    val pat = java.util.regex.Pattern.compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.values.foreach { t =>
      val m = pat.matcher(t)
      while (m.find()) counts(m.group) = counts.getOrElse(m.group, 0L) + 1
    }
    val expected = counts.toSeq.sortBy { case (tok, c) => (-c, tok) }.take(20)
      .zipWithIndex.map { case ((tok, c), i) => (i + 1L, tok, c) }
    val got = q("q103_vocab_build").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == expected, s"vocab mismatch:\n got=$got\n exp=$expected")
  }

  // ---- q104 ----------------------------------------------------------

  /** Full Scala reimplementation of the span-dedup semantics. */
  private def spanDedupExpected: Map[Long, (Long, Long, String)] = {
    case class Occ(doc: Long, ci: Int, chunk: String)
    val occs = docs.toSeq.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val nch = toks.length / 10
      (1 to nch).map(i => Occ(id, i, toks.slice((i - 1) * 10, i * 10).mkString(" ")))
    }
    val keepOcc = occs.groupBy(_.chunk).map { case (c, os) =>
      c -> os.map(o => o.doc * 16 + o.ci).min
    }
    docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val nch = toks.length / 10
      val kept = (1 to nch).filter { i =>
        val chunk = toks.slice((i - 1) * 10, i * 10).mkString(" ")
        keepOcc(chunk) == id * 16 + i
      }
      val parts = kept.map(i => toks.slice((i - 1) * 10, i * 10).mkString(" ")) ++
        (if (toks.length > nch * 10) Seq(toks.drop(nch * 10).mkString(" ")) else Nil)
      id -> ((nch.toLong, kept.length.toLong, md5hex(parts.mkString(" "))))
    }
  }

  test("q104: output equals the full Scala recomputation of first-occurrence span dedup") {
    val exp = spanDedupExpected
    val got = q("q104_span_dedup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == exp.keySet)
    got.foreach { case (id, v) => assert(v == exp(id), s"doc $id: $v != ${exp(id)}") }
  }

  test("q104: a document whose chunks all survive rebuilds to md5 of its ORIGINAL text") {
    val exp = spanDedupExpected
    val untouched = docs.filter { case (id, _) => exp(id)._1 == exp(id)._2 }
    assert(untouched.nonEmpty, "vacuous: every doc lost a chunk")
    untouched.foreach { case (id, text) =>
      assert(exp(id)._3 == md5hex(text), s"doc $id did not reconstruct")
    }
  }

  // ---- q105 ----------------------------------------------------------

  test("q105: per-token argmax matches Scala recomputation, ties broken by token ASC") {
    val big = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.values.foreach { t =>
      val toks = t.split(" ", -1)
      toks.sliding(2).foreach { case Array(a, b) =>
        big((a, b)) = big.getOrElse((a, b), 0L) + 1
      case _ => ()
      }
    }
    val expected = big.groupBy(_._1._1).map { case (tok, m) =>
      val cFirst = m.values.sum
      val (nb, c) = m.toSeq.map { case ((_, b), c) => (b, c) }.minBy { case (b, c) => (-c, b) }
      tok -> ((nb, c, cFirst, c * 1000000L / cFirst))
    }
    val got = q("q105_bigram_lm").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
  }

  // ---- q107 ----------------------------------------------------------

  test("q107: decayed score equals Scala recomputation; decay strictly discounts old activity") {
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(round(value * 100) AS BIGINT) AS vx", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val anchor = ev.map(_._3).max
    val exp = ev.groupBy(_._1).map { case (u, es) =>
      val decayed = es.map { case (_, vx, us) =>
        vx >> math.min((anchor - us) / 604800000000L, 62L).toInt
      }.sum
      u -> ((es.length.toLong, es.map(_._2).sum, decayed))
    }
    val got = q("q107_decay_agg").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == exp)
    // non-vacuous: some user's decayed score is strictly below raw
    assert(got.values.exists(v => v._3 < v._2), "decay vacuous — no event older than a week")
  }

  // ---- q108 ----------------------------------------------------------

  test("q108: token ids rebuild from the q103 vocab; unk count is the out-of-vocab count") {
    val vocab = q("q103_vocab_build").collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    val pat = java.util.regex.Pattern.compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
    val exp = docs.map { case (id, text) =>
      val toks = scala.collection.mutable.ArrayBuffer.empty[String]
      val m = pat.matcher(text)
      while (m.find()) toks += m.group
      val ids = toks.map(t => vocab.getOrElse(t, 0L))
      id -> ((ids.length.toLong, ids.count(_ == 0L).toLong, md5hex(ids.mkString(","))))
    }
    val got = q("q108_token_ids").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == exp)
  }

  // ---- q109 ----------------------------------------------------------

  test("q109: k-means assignment equals a full Scala Lloyd recomputation; iterations move points") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000).toLong).toArray)
      .toMap
    val k = 8
    def assign(cents: Map[Int, Array[Long]]): Map[Long, (Int, Long)] =
      vecs.map { case (id, q) =>
        val (cid, d2) = cents.toSeq.map { case (c, v) =>
          (c, q.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
        }.minBy { case (c, d) => (d, c) }
        id -> ((cid, d2))
      }
    def update(a: Map[Long, (Int, Long)]): Map[Int, Array[Long]] =
      a.groupBy(_._2._1).map { case (c, m) =>
        val members = m.keys.toSeq.map(vecs)
        c -> Array.tabulate(64)(i => {
          val s = members.map(_(i)).sum
          // truncate-toward-zero: Spark `div` and DuckDB `//` both do
          // (-7 div 2 = -3), which is Java's `/` — NOT floorDiv
          s / members.size.toLong
        })
      }
    var cents = (0 until k).map(c => c -> vecs(c.toLong)).toMap
    val first = assign(cents)
    (1 to 2).foreach { _ => cents = update(assign(cents)) }
    val expected = assign(cents)
    val got = q("q109_kmeans").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1).toInt, r.getLong(2)))).toMap
    assert(got == expected)
    assert(got.exists { case (id, (c, _)) => first(id)._1 != c },
      "vacuous: no vector changed cluster across Lloyd rounds")
    assert(got.values.map(_._1).toSet.size > 1, "degenerate single cluster")
  }

  // ---- q111 ----------------------------------------------------------

  test("q111: pairwise shared-fingerprint counts equal a Scala recomputation") {
    val sources = Tables.documents(spark, sf).select("source", "text", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val bySource = sources.groupBy(_._1).map { case (s, docs) =>
      s -> docs.flatMap { case (_, text, nChars) =>
        val hi = math.max(nChars - 6, 2).toInt - 1
        // the fingerprint IS the raw 8-char window (see the query doc)
        (1 to hi).map(i => text.substring(i - 1, math.min(i - 1 + 8, text.length)))
      }.toSet
    }
    val names = bySource.keys.toSeq.sorted
    val expected = (for {
      a <- names; b <- names if a < b
      n = (bySource(a) & bySource(b)).size if n > 0
    } yield (a, b, n.toLong)).toSet
    val got = q("q111_source_overlap").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "vacuous: no source pair shares a fingerprint")
  }

  // ---- q112 ----------------------------------------------------------

  test("q112: delta classification matches the planted-duplicate ground truth, all classes live") {
    val rows = q("q112_delta_dedup").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    val counts = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(counts.keySet == Set("keeper", "dup_in_new", "dup_of_old"),
      s"some status vacuous: $counts")
    rows.foreach { case (id, status, baseKeeper) =>
      val isPlantedDup = id % 5 == 4
      val leader = if (isPlantedDup) id - 4 else id
      if (status == "dup_of_old") {
        assert(isPlantedDup && leader < 252, s"doc $id misclassified dup_of_old")
        assert(baseKeeper == leader, s"doc $id base keeper should be its group leader")
      }
      if (status == "dup_in_new")
        assert(isPlantedDup && leader >= 252, s"doc $id misclassified dup_in_new")
      if (status == "keeper")
        assert(!isPlantedDup || leader >= 252 && id == leader,
          s"doc $id misclassified keeper")
    }
  }

  // ---- q114 ----------------------------------------------------------

  test("q114: negatives are reproducible, in-range, never the anchor, and k per anchor") {
    val n = docs.size.toLong
    val rows = q("q114_negative_sampling").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == docs.size * 4)
    rows.foreach { case (id, j, neg) =>
      val draw = ((id % 1000003L) * 2654435761L + j * 40503L) % 1000000007L % n
      val expected = if (draw == id) (draw + 1) % n else draw
      assert(neg == expected, s"anchor $id draw $j")
      assert(neg != id && neg >= 0 && neg < n, s"anchor $id: negative $neg out of contract")
    }
    // the collision repair actually fires somewhere (non-vacuous)
    assert(rows.exists { case (id, j, _) =>
      ((id % 1000003L) * 2654435761L + j * 40503L) % 1000000007L % n == id
    } || docs.size < 100, "no draw ever collided — repair path untested at this scale")
  }

  // ---- q115 ----------------------------------------------------------

  test("q115: hard negatives are the nearest DIFFERENT-label vectors, exactly top-3") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = vecs.filter(_._1 < 50).flatMap { case (qid, qlab, qe) =>
      vecs.filter(_._2 != qlab)
        .map { case (cid, _, ce) => (cid, cos(qe, ce)) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(3).zipWithIndex
        .map { case ((cid, s), i) => (qid, i + 1L, cid) }
    }.toSet
    val got = q("q115_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    // every result really crosses labels
    val label = vecs.map(v => v._1 -> v._2).toMap
    got.foreach { case (qid, _, cid) => assert(label(qid) != label(cid)) }
  }

  // ---- q110 ----------------------------------------------------------

  test("q110: entity groups honor the fuzzy pairs, min-key survivorship, and singleton identity") {
    val rows = q("q110_entity_resolution").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val names = Tables.part(spark, sf).select("p_partkey", "p_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == names.size, "every part gets exactly one entity row")
    val byEntity = rows.groupBy(_._2)
    byEntity.foreach { case (eid, members) =>
      assert(members.map(_._1).min == eid, s"entity $eid is not its min member")
      assert(members.forall(_._3 == members.length), s"entity $eid size wrong")
      assert(members.forall(_._4 == names(eid)), s"entity $eid canonical name wrong")
    }
    val pairs = JoinHardening.queries("q91_fuzzy_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val entity = rows.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(entity(a) == entity(b), s"fuzzy pair ($a,$b) split across entities")
    }
    assert(byEntity.values.exists(_.length > 1), "vacuous: no multi-record entity")
    assert(byEntity.values.exists(_.length == 1), "vacuous: no singleton entity")
  }

  // ---- q116 ----------------------------------------------------------

  test("q116: PMI top-20 matches a brute-force integer recomputation") {
    val texts = docs.values.map(_.split(" ", -1).toSeq).toSeq
    val n = texts.map(_.length.toLong).sum
    val uni = texts.flatten.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val cab = texts.flatMap(ts => ts.zip(ts.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
      .filter(_._2 >= 5L)
    val expected = cab.toSeq.map { case ((t1, t2), c) =>
      (t1, t2, c, ((c * 1000000L / uni(t1)) * n) / uni(t2))
    }.sortBy { case (t1, t2, _, s) => (-s, t1, t2) }.take(20)
    val got = q("q116_collocations").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty, "vacuous: support floor killed every bigram at this scale")
  }

  // ---- q117 ----------------------------------------------------------

  test("q117: containment pairs match brute force; asymmetry is real") {
    val shingles: Map[Long, Set[String]] = docs.collect {
      case (id, text) if text.split(" ", -1).length >= 3 =>
        val ts = text.split(" ", -1)
        id -> ts.sliding(3).map(_.mkString(" ")).toSet
    }
    val expected = (for {
      (a, sa) <- shingles; (b, sb) <- shingles if a != b
      shared = (sa & sb).size.toLong if shared * 100 >= 50L * sa.size
    } yield (a, b, shared, sa.size.toLong, shared * 100 / sa.size)).toSet
    val got = q("q117_containment_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expected)
    // directedness: some (a,b) scores differently than its reverse
    // (or the reverse fails the threshold entirely)
    assert(expected.exists { case (a, b, _, _, cont) =>
      !expected.exists(e => e._1 == b && e._2 == a && e._5 == cont)
    } || expected.isEmpty, "vacuous: containment never asymmetric at this scale")
  }

  // ---- q118 ----------------------------------------------------------

  test("q118: novelty matches brute-force first-occurrence attribution") {
    val shingles: Map[Long, Set[String]] = docs.map { case (id, text) =>
      val ts = text.split(" ", -1)
      id -> (if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSet else Set.empty[String])
    }
    val firstDoc: Map[String, Long] = shingles.toSeq
      .flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).map { case (sh, xs) => sh -> xs.map(_._2).min }
    val expected = shingles.map { case (id, ss) =>
      val novel = ss.count(firstDoc(_) == id).toLong
      val n = ss.size.toLong
      (id, n, novel, if (n == 0) 100L else novel * 100 / n)
    }.toSet
    val got = q("q118_ngram_novelty").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    // non-vacuous: somebody repeats and somebody innovates
    assert(got.exists(_._4 < 100) && got.exists(_._4 > 0))
  }

  // ---- q119 ----------------------------------------------------------

  test("q119: every doc lands on its FIRST failing q57 rule; totals partition the corpus") {
    val meta = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val stop = Set("the", "a", "of", "to", "and")
    val expected = meta.groupBy { case (src, text) =>
      val ts = text.split(" ", -1)
      val wc = text.replace(" ", "").length
      val stage =
        if (ts.length < 30 || ts.length > 90) "1_count"
        else if (wc < ts.length * 4 || wc > ts.length * 5) "2_wordlen"
        else if (ts.distinct.length * 2 < ts.length) "3_distinct"
        else if (ts.distinct.count(stop) < 2) "4_stop"
        else "pass"
      (src, stage)
    }.map { case ((src, stage), xs) => (src, stage, xs.length.toLong) }.toSet
    val got = q("q119_filter_cascade").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
    // toSeq first: summing over the Set would collapse equal counts
    assert(got.toSeq.map(_._3).sum == docs.size, "stages do not partition the corpus")
  }

  // ---- q120 ----------------------------------------------------------

  test("q120: per-source top-10 bigram document frequencies, deterministically ranked") {
    val meta = Tables.documents(spark, sf).select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySource = meta.groupBy(_._2)
    val expected = bySource.flatMap { case (src, rows) =>
      val df = rows.flatMap { case (_, _, text) =>
        val ts = text.split(" ", -1)
        if (ts.length >= 2) ts.sliding(2).map(_.mkString(" ")).toSet else Set.empty[String]
      }.groupBy(identity).map { case (bg, xs) => bg -> xs.length.toLong }
      df.toSeq.sortBy { case (bg, c) => (-c, bg) }.take(10).zipWithIndex.map {
        case ((bg, c), i) => (src, i + 1L, bg, c, rows.length.toLong)
      }
    }.toSet
    val got = q("q120_boilerplate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expected)
  }

  // ---- q106 ----------------------------------------------------------

  test("q106: shards partition the corpus and each digest re-derives from the sorted member ids") {
    def shardOf(id: Long): Long = ((id % 1000003L) * 2971215073L) % 1000000007L % 16L
    val byShard = docs.keys.toSeq.groupBy(shardOf)
    val got = q("q106_shard_manifest").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == byShard.keySet)
    assert(got.values.map(_._1).sum == docs.size, "shards do not partition the corpus")
    byShard.foreach { case (s, ids) =>
      val (nDocs, nToks, digest) = got(s)
      assert(nDocs == ids.length)
      assert(nToks == ids.map(id => docs(id).split(" ", -1).length.toLong).sum)
      assert(digest == md5hex(ids.sorted.mkString(",")), s"shard $s digest")
    }
  }
}
