package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** SimilarityJoin vs brute force on seeded random sets (including
  * boundary-exact pairs), and the hostile-corpus property the prefix
  * filter exists for: a stop-shingle in every document must NOT
  * quadratically inflate the candidate set. */
class SimilarityJoinSpec extends AnyFunSuite with SparkSuite {

  private def brute(docs: Seq[(Long, Set[String])], tauNum: Int, tauDen: Int) =
    (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      shared = (sa & sb).size.toLong
      total = (sa | sb).size.toLong
      if shared * tauDen >= total * tauNum
    } yield (a, b, shared, total)).sorted

  private def run(docs: Seq[(Long, Set[String])], tauNum: Int, tauDen: Int) = {
    val sp = spark; import sp.implicits._
    val elems = docs.flatMap { case (id, s) => s.map(e => (id, e)) }
    SimilarityJoin.jaccardJoin(elems.toDF("doc_id", "shingle"),
        "doc_id", "shingle", tauNum, tauDen)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
  }

  test("matches brute force on seeded random sets at tau = 1/2 and 4/5") {
    val rnd = new Random(21)
    val vocab = Vector.tabulate(60)(i => s"w$i")
    // overlapping sets: draw from a small vocab so near-dups occur
    val docs = Seq.tabulate(80) { i =>
      val base = rnd.shuffle(vocab).take(6 + rnd.nextInt(8)).toSet
      (i.toLong, base)
    } ++ Seq.tabulate(10) { j => // planted near-identical pairs
      (1000L + j, Vector.tabulate(10)(k => s"p$j-$k").toSet)
    } ++ Seq.tabulate(10) { j =>
      (2000L + j, Vector.tabulate(10)(k => s"p$j-$k").drop(1).toSet + s"x$j")
    }
    Seq((1, 2), (4, 5)).foreach { case (n, dn) =>
      assert(run(docs, n, dn) == brute(docs, n, dn), s"tau=$n/$dn")
    }
    assert(brute(docs, 1, 2).nonEmpty) // non-vacuous
  }

  test("boundary pairs exactly at tau are kept (integer threshold, no float drift)") {
    // |A|=|B|=3, shared=2, total=4 → jaccard exactly 1/2
    val docs = Seq(
      (1L, Set("a", "b", "c")),
      (2L, Set("a", "b", "d")))
    assert(run(docs, 1, 2) == Seq((1L, 2L, 2L, 4L)))
    assert(run(docs, 51, 100).isEmpty) // just above 1/2 → excluded
  }

  test("hostile corpus: a universal stop-shingle creates no quadratic candidate blowup") {
    val sp = spark; import sp.implicits._
    val n = 300
    // each doc: 9 unique shingles + THE stop shingle present everywhere
    val docs = Seq.tabulate(n)(i => (i.toLong, Vector.tabulate(9)(k => s"u$i-$k") :+ "STOP"))
    val elems = docs.flatMap { case (id, v) => v.map(e => (id, e)) }.toDF("id", "e")
    val cands = SimilarityJoin.candidatePairs(elems, 1, 2).count()
    // a plain inverted-index join would meet n*(n-1)/2 = 44850 pairs on
    // STOP alone; the prefix filter (STOP has max df → sorts last, out
    // of every prefix) must produce ZERO candidates here
    assert(cands == 0L, s"candidates = $cands")
    // and the full join agrees with brute force (no qualifying pairs)
    assert(run(docs.map { case (id, v) => (id, v.toSet) }, 1, 2).isEmpty)
  }

  // ---- containment join (directed, |A∩B| >= tau*|A|) ----

  private def bruteContain(docs: Seq[(Long, Set[String])], tauNum: Int, tauDen: Int) =
    (for {
      (a, sa) <- docs; (b, sb) <- docs if a != b
      shared = (sa & sb).size.toLong
      if shared * tauDen >= sa.size.toLong * tauNum
    } yield (a, b, shared, sa.size.toLong)).sorted

  private def runContain(docs: Seq[(Long, Set[String])], tauNum: Int, tauDen: Int) = {
    val sp = spark; import sp.implicits._
    val elems = docs.flatMap { case (id, s) => s.map(e => (id, e)) }
    SimilarityJoin.containmentJoin(elems.toDF("doc_id", "shingle"),
        "doc_id", "shingle", tauNum, tauDen)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
  }

  test("containment matches brute force on seeded random sets (tau = 1/2, 4/5), incl. boundary") {
    val rnd = new Random(23)
    val vocab = Vector.tabulate(50)(i => s"w$i")
    val docs = Seq.tabulate(70) { i =>
      (i.toLong, rnd.shuffle(vocab).take(4 + rnd.nextInt(10)).toSet)
    } ++ Seq.tabulate(8) { j => // planted strict subsets: full containment one way
      (500L + j, Vector.tabulate(12)(k => s"c$j-$k").toSet)
    } ++ Seq.tabulate(8) { j =>
      (600L + j, Vector.tabulate(12)(k => s"c$j-$k").take(4).toSet) // ⊂ 500+j
    }
    Seq((1, 2), (4, 5)).foreach { case (n, dn) =>
      val got = runContain(docs, n, dn)
      assert(got == bruteContain(docs, n, dn), s"tau=$n/$dn")
      assert(got.nonEmpty, s"tau=$n/$dn must be non-vacuous")
    }
    // directedness: each planted subset is contained in its superset,
    // never the reverse at tau=4/5 (shared=4 < 4/5 * 12)
    val got = runContain(docs, 4, 5).toSet
    assert((0 until 8).forall(j => got.exists(p => p._1 == 600L + j && p._2 == 500L + j)))
    assert((0 until 8).forall(j => !got.exists(p => p._1 == 500L + j && p._2 == 600L + j)))
  }

  test("containment boundary: exactly tau*|A| shared is kept, one fewer is dropped") {
    val docs = Seq(
      (1L, Set("a", "b", "c", "d")), // |A| = 4
      (2L, Set("a", "b", "x", "y", "z"))) // shared = 2 = 4 * 1/2 exactly
    val got = runContain(docs, 1, 2)
    assert(got.contains((1L, 2L, 2L, 4L)), got.toString)
    assert(runContain(docs, 51, 100).forall(_._1 != 1L)) // just above 1/2 → (1,2) dropped
  }

  test("hostile corpus: the stop-shingle contributes zero CONTAINMENT candidates (cap engaged)") {
    val sp = spark; import sp.implicits._
    val n = 300
    // each doc: 9 unique shingles + THE stop shingle present everywhere.
    // A plain inverted-index self-join meets n² pairs on STOP alone; the
    // a-side prefix (len 10 → prefix 10 - 5 + 1 = 6 lowest-df elements)
    // excludes STOP (max df → sorts last), so zero candidates survive.
    val docs = Seq.tabulate(n)(i => (i.toLong, Vector.tabulate(9)(k => s"u$i-$k") :+ "STOP"))
    val elems = docs.flatMap { case (id, v) => v.map(e => (id, e)) }.toDF("id", "e")
    val cands = SimilarityJoin.containmentCandidates(elems, 1, 2).count()
    assert(cands == 0L, s"candidates = $cands")
    assert(runContain(docs.map { case (id, v) => (id, v.toSet) }, 1, 2).isEmpty)
  }
}
