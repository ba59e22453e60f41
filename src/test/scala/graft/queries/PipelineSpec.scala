package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the pipeline batch-two queries (q126-q130)
  * beyond the DuckDB hash-match: full Scala brute-force recomputation
  * of the redaction bytes, the SemDeDup verdicts, and the learned BPE
  * merges, plus structural invariants for the selection and card
  * queries. Runs at sf0.001 with in-memory recomputation as the
  * oracle.
  */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val docs: Seq[(Long, String)] =
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  test("q126: redaction bytes match a Java-regex brute force; negative classes stay zero") {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val ent = "\\b(customer|supplier|account)\\b"
    val got = q("q126_pii_redact").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
      .toMap
    assert(got.size == docs.size)
    var entHits = 0L
    docs.foreach { case (id, text) =>
      val red = text.replaceAll(email, "<EMAIL>").replaceAll(ip, "<IP>")
        .replaceAll(ent, "<ENT>")
      val (nE, nI, nN, len, dig) = got(id)
      assert(nE == 0 && nI == 0, s"doc $id: synthetic corpus has no email/ip")
      assert(nN == ent.r.findAllIn(text).size, s"doc $id entity count")
      assert(len == red.length, s"doc $id redacted length")
      assert(dig == md5hex(red), s"doc $id redacted md5")
      entHits += nN
    }
    assert(entHits > 0, "entity lexicon must fire somewhere at this scale")
  }

  test("q127: SemDeDup verdicts match a BigInt brute force over the q109 clusters") {
    val clusters = q("q109_kmeans").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map { r =>
        val q = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000L).toLong).toArray
        r.getLong(0) -> q
      }.toMap
    def dot(a: Array[Long], b: Array[Long]): BigInt =
      a.indices.foldLeft(BigInt(0))((acc, i) => acc + BigInt(a(i)) * b(i))
    val expect = emb.keys.toSeq.sorted.map { v =>
      val partners = emb.keys.filter(u => u < v && clusters(u) == clusters(v)).filter { u =>
        val d = dot(emb(u), emb(v))
        d > 0 && d * d * 100 >= dot(emb(u), emb(u)) * dot(emb(v), emb(v)) * 9
      }
      v -> (if (partners.isEmpty) v else partners.min)
    }.toMap
    val got = q("q127_semdedup").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.size == emb.size)
    got.foreach { case (v, (cl, keeper, isDup)) =>
      assert(cl == clusters(v), s"vec $v cluster")
      assert(keeper == expect(v), s"vec $v keeper")
      assert(isDup == (expect(v) < v), s"vec $v is_dup")
    }
  }

  /** Brute-force BPE learner shared by the q128 and q131 tests:
    * word counts -> spaced segs -> 4 greedy merges. */
  private def bruteBpeMerges: Seq[(String, String, Long)] = {
    var segs: Map[String, Long] = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        (" " + w.toCharArray.map(c => s"$c ").mkString) -> ws.size.toLong
      }
    (1 to 4).map { _ =>
      val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (seg, c) =>
        val arr = seg.trim.split(" ")
        (0 until arr.length - 1).foreach { i =>
          pairCnt((arr(i), arr(i + 1))) = pairCnt.getOrElse((arr(i), arr(i + 1)), 0L) + c
        }
      }
      val ((a, b), cnt) = pairCnt.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
      segs = segs.map { case (seg, c) => seg.replace(s" $a $b ", s" $a$b ") -> c }
      (a, b, cnt)
    }
  }

  test("q128: learned merges match a string brute force; counts non-increasing") {
    val expect = bruteBpeMerges
    val got = q("q128_bpe_merges").collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expect, s"merge tables differ: got $got expected $expect")
    assert(got.map(_._3).sliding(2).forall(w => w.head >= w.last),
      "BPE max-pair counts must be non-increasing across rounds")
  }

  test("q131: encoded stream matches applying the brute-force merges per word") {
    val merges = bruteBpeMerges
    def encode(w: String): String = {
      val spaced = " " + w.toCharArray.map(c => s"$c ").mkString
      merges.foldLeft(spaced) { case (s, (a, b, _)) => s.replace(s" $a $b ", s" $a$b ") }.trim
    }
    val got = q("q131_bpe_encode").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.size == docs.size)
    var anyMerged = false
    docs.foreach { case (id, text) =>
      val enc = text.split(" ").filter(_.nonEmpty).map(encode).mkString(" ")
      val (n, dig) = got(id)
      assert(n == enc.split(" ", -1).length, s"doc $id subword count")
      assert(dig == md5hex(enc), s"doc $id encoded digest")
      if (enc.split(" ", -1).length < text.count(_ != ' ')) anyMerged = true
    }
    assert(anyMerged, "the learned merges must actually fuse symbols somewhere")
  }

  test("q132: quotas are an exact Hamilton apportionment of the budget") {
    val rows = q("q132_mixture_apportion").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._4).sum == 100000L, "quotas must sum exactly to the budget")
    rows.foreach { case (src, _, base, quota) =>
      assert(quota == base || quota == base + 1, s"$src quota within 1 of base")
    }
    // brute force: largest remainder over exact integer arithmetic
    val n = rows.map(_._2).sum
    val withRem = rows.map { case (src, nt, base, quota) =>
      assert(base == 100000L * nt / n, s"$src base")
      (src, 100000L * nt - base * n, quota - base)
    }
    val leftover = 100000L - rows.map(_._3).sum
    val topUp = withRem.sortBy { case (src, rem, _) => (-rem, src) }
      .zipWithIndex.map { case ((src, _, got), i) => (src, got, if (i < leftover) 1L else 0L) }
    topUp.foreach { case (src, got, want) => assert(got == want, s"$src top-up") }
  }

  test("q129: per-source ranking is a dense 1..n prefix with non-increasing scores") {
    val rows = q("q129_domain_select").collect()
      .map(r => (r.getString(1), r.getLong(3), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to byRank.length).toSeq, s"$src ranks dense")
      assert(byRank.length <= 50, s"$src keeps at most 50")
      assert(byRank.map(_._3).sliding(2).forall(w => w.head >= w.last),
        s"$src scores non-increasing in rank")
    }
  }

  test("q133/q134: the cell-store round trips carry exactly the documents-derived content") {
    val tail = q("q133_cells_tail").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(tail == docs.filter(_._1 % 10 == 0).map { case (id, text) =>
      (id, s"doc-$id", md5hex(text))
    }.toSet, "q133 tail content")
    val compact = q("q134_cells_compact").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(compact == docs.filter(_._1 % 20 == 0).map { case (id, _) =>
      (s"doc-$id", id * 4 + 3, md5hex(s"$id-3"))
    }.toSet, "q134 keeps exactly the latest version's content")
  }

  test("q135: winnowing fingerprints match a brute-force window-min selection") {
    val BaseMod = graft.operators.MinHashDedup.BaseMod
    def h(g: String): Long =
      java.lang.Long.parseLong(md5hex(g).take(8), 16) % BaseMod
    val got = q("q135_winnowing").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got.size == docs.size)
    var anyWindowed = false
    docs.foreach { case (id, text) =>
      val ts = text.split(" ")
      val g = ts.length - 2
      val fps: Seq[Long] =
        if (g < 1) Seq.empty
        else {
          val hs = (1 to math.max(g, 1)).map(i => h(s"${ts(i - 1)} ${ts(i)} ${ts(i + 1)}"))
          (1 to math.max(g - 3, 1)).map { i =>
            (i to math.min(i + 3, g)).map(j => hs(j - 1) * 4294967296L + j).min
          }.distinct.sorted
        }
      val (nGrams, nFp, dig) = got(id)
      assert(nGrams == math.max(g, 0), s"doc $id gram count")
      assert(nFp == fps.length, s"doc $id fingerprint count")
      assert(dig == md5hex(fps.mkString(",")), s"doc $id fingerprint digest")
      if (g >= 4 && nFp < nGrams) anyWindowed = true
    }
    assert(anyWindowed, "window selection must actually thin the gram set somewhere")
  }

  test("q130: card totals reconcile with the corpus") {
    val rows = q("q130_dataset_card").collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length, "one row per source")
    assert(rows.map(_.getLong(1)).sum == docs.size, "n_docs partitions the corpus")
    rows.foreach { r =>
      val pct = r.getLong(6)
      assert(pct >= 0 && pct <= 100, s"${r.getString(0)} dup_pct in [0,100]")
      assert(r.getLong(2) >= r.getLong(1), "at least one token per doc")
    }
  }
}
