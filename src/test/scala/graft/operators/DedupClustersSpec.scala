package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** DedupClusters vs an independent union-find reference on seeded random
  * graphs, plus the shapes that trip naive implementations: chains
  * (label must travel multiple hops), singleton-free input, and
  * duplicate/reversed pair listings. */
class DedupClustersSpec extends AnyFunSuite with SparkSuite {

  /** Plain array union-find — structurally unrelated reference. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // root-chase to the true minimum of each component
    touched.map(x => x -> find(x.toInt).toLong).toMap
  }

  test("matches union-find on a seeded random graph") {
    val sp = spark; import sp.implicits._
    val rnd = new Random(13)
    val n = 300
    val edges = Seq.fill(220)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val got = DedupClusters.connectedComponents(
        edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val want = unionFind(n, edges)
    assert(got == want)
    // sanity: the random graph actually has multi-node and merged clusters
    assert(want.values.toSet.size < want.size)
  }

  test("labels cross long chains (diameter > 1) and duplicate/reversed pairs are harmless") {
    val sp = spark; import sp.implicits._
    // chain 10-11-12-...-19 plus reversed + duplicate listings
    val chain = (10L until 19L).map(i => (i, i + 1))
    val noisy = chain ++ chain.map(_.swap) ++ chain.take(3)
    val got = DedupClusters.connectedComponents(noisy.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 10)
    assert(got.values.toSet == Set(10L))
  }

  test("string node ids cluster correctly (lexicographic min becomes the cluster id)") {
    val sp = spark; import sp.implicits._
    // two components with string ids, plus a chain so labels must travel:
    // {doc-a, doc-c, doc-b} and {x9, x2}
    val edges = Seq(("doc-c", "doc-a"), ("doc-a", "doc-b"), ("x9", "x2"))
    val got = DedupClusters.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "x2" -> "x2", "x9" -> "x2"))
  }

  test("empty pair list yields an empty clustering, not a crash") {
    val sp = spark; import sp.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupClusters.connectedComponents(empty, "a", "b").count() == 0)
  }

  test("non-convergence throws instead of returning a partial clustering") {
    val sp = spark; import sp.implicits._
    val chain = (0L until 12L).map(i => (i, i + 1))
    assertThrows[IllegalStateException] {
      DedupClusters.connectedComponents(chain.toDF("a", "b"), "a", "b", maxIter = 2)
    }
  }
}
