package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants fixed-point PageRank must satisfy (the q92
  * oracle pins exact values; this pins the math on graphs small enough
  * to reason about). */
class PageRankSpec extends AnyFunSuite with SparkSuite {

  override protected def threads = 2

  private def edges(pairs: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    // symmetrize, as q92 does
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  }

  test("regular graph: every node gets exactly the uniform rank, bit-for-bit") {
    // 4-cycle: all degrees 2 ⇒ PageRank is exactly uniform and the
    // integer update maps base -> (15*base + 85*base) div 100 = base
    // whenever base is a multiple of 100 ... with scale 10^12 and n=4,
    // base = 2.5e11: 15b+85b = 100b ⇒ rank stays exactly base.
    val r = PageRank.ranks(edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L), 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val base = 1000000000000L / 4
    assert(r.values.toSet == Set(base), r)
  }

  test("star graph: hub outranks leaves; total mass conserved within truncation loss") {
    val r = PageRank.ranks(edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L), 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) > r(1L), r)
    assert(Set(r(1L), r(2L), r(3L), r(4L)).size == 1, s"leaves must tie: $r")
    val total = r.values.sum
    val scale = 1000000000000L
    // each div truncates < 1 unit per node per iteration (plus the
    // initial base rounding): loss is bounded by ~n * iters * outdeg
    assert(total <= scale && total > scale - 1000L, s"mass leaked: $total")
  }

  test("deterministic across reruns and partitionings") {
    val e = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 1L)
    val a = PageRank.ranks(e, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = PageRank.ranks(e.repartition(7), 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }
}
