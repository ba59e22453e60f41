package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract checks for the exact fixed-point k-means operator (the
  * hash-gated path is q109; this spec pins the input contract). */
class KMeansExactSpec extends AnyFunSuite with SparkSuite {

  private def vecs(ids: Seq[Long]) = {
    val sp = spark; import sp.implicits._
    ids.map(i => (i, Array.tabulate(4)(j => (i * 7 + j).toFloat / 10f)))
      .toDF("vec_id", "embedding")
  }

  test("dense 0-based ids seed exactly k clusters and assign every vector") {
    val out = KMeansExact.assignments(vecs(0L until 20L), k = 4, rounds = 2).collect()
    assert(out.length == 20)
    val clusters = out.map(_.getAs[Long]("cluster")).toSet
    assert(clusters.subsetOf((0L until 4L).toSet))
  }

  test("sparse/offset ids fail fast instead of seeding fewer than k clusters") {
    // pre-fix: vec_id < k found only one seed (id 2) and nearest()
    // silently produced garbage cluster/dist2 for every row
    val e = intercept[IllegalArgumentException] {
      KMeansExact.assignments(vecs(Seq(2L, 100L, 101L, 102L, 103L)), k = 4, rounds = 1)
    }
    assert(e.getMessage.contains("dense 0-based vec_ids"), e.getMessage)
  }
}
