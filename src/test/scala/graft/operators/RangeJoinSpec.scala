package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** RangeJoin vs a per-row reference: exactly-once pair meeting across
  * bucket boundaries, inclusive bounds, and the no-nested-loop plan. */
class RangeJoinSpec extends AnyFunSuite with SparkSuite {

  test("matches a per-row reference, each qualifying pair exactly once") {
    val sp = spark; import sp.implicits._
    val rnd = new Random(7)
    // intervals of varying span (0–3 buckets wide at width 100)
    val left = Seq.tabulate(120) { i =>
      val lo = rnd.nextInt(2000).toLong
      (i.toLong, lo, lo + rnd.nextInt(300).toLong)
    }
    val right = Seq.tabulate(400)(j => (j.toLong, rnd.nextInt(2300).toLong))

    val want = (for {
      (lid, lo, hi) <- left
      (rid, pt) <- right
      if pt >= lo && pt <= hi
    } yield (lid, rid)).sorted

    // sweep widths around and far from the typical span: results must be
    // width-INDEPENDENT (width tunes replication, never answers), and
    // multiset equality would reveal double bucket-meeting
    Seq(1L, 7L, 100L, 1000L, 100000L).foreach { width =>
      val got = RangeJoin.rangeJoin(
          left.toDF("lid", "lo", "hi"), right.toDF("rid", "pt"),
          "lo", "hi", "pt", bucketWidth = width)
        .select("lid", "rid").as[(Long, Long)].collect()
      assert(got.sorted.toSeq == want, s"width=$width")
    }
    assert(want.nonEmpty)
  }

  test("inclusive bounds: points exactly at lo/hi and at bucket edges match once") {
    val sp = spark; import sp.implicits._
    val left = Seq((1L, 100L, 200L)).toDF("lid", "lo", "hi")
    // pt=100 (lo, bucket edge), 199, 200 (hi, next bucket edge), 99 and 201 (out)
    val right = Seq((1L, 100L), (2L, 199L), (3L, 200L), (4L, 99L), (5L, 201L))
      .toDF("rid", "pt")
    val got = RangeJoin.rangeJoin(left, right, "lo", "hi", "pt", 100L)
      .select("rid").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("maxReplication guard fails loudly on a pathological interval") {
    val sp = spark; import sp.implicits._
    val left = Seq((1L, 0L, 10_000_000L)).toDF("lid", "lo", "hi") // 1M buckets at width 10
    val right = Seq((1L, 50L)).toDF("rid", "pt")
    val e = intercept[Exception] {
      RangeJoin.rangeJoin(left, right, "lo", "hi", "pt", 10L, maxReplication = 1000L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("rangeJoin")), e.toString)
  }

  test("NULL interval bounds drop the row (inner-join null semantics), never abort") {
    val sp = spark; import sp.implicits._
    val left = Seq((1L, Some(100L), Some(200L)), (2L, None, Some(300L)), (3L, Some(100L), None))
      .toDF("lid", "lo", "hi")
    val right = Seq((9L, 150L)).toDF("rid", "pt")
    val got = RangeJoin.rangeJoin(left, right, "lo", "hi", "pt", 100L)
      .select("lid").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("dot/space column names resolve as literal identifiers") {
    val sp = spark; import sp.implicits._
    val left = Seq((1L, 100L, 200L)).toDF("l id", "lo.x", "hi.x")
    val right = Seq((9L, 150L), (8L, 999L)).toDF("rid", "p t")
    val got = RangeJoin.rangeJoin(left, right, "lo.x", "hi.x", "p t", 100L)
      .select("rid").as[Long].collect().toSeq
    assert(got == Seq(9L))
  }

  test("plan is an equi-join on the bucket id, not a nested loop") {
    val sp = spark; import sp.implicits._
    val left = Seq.tabulate(50)(i => (i.toLong, i * 10L, i * 10L + 25L)).toDF("lid", "lo", "hi")
    val right = Seq.tabulate(50)(j => (j.toLong, j * 11L)).toDF("rid", "pt")
    val df = RangeJoin.rangeJoin(left, right, "lo", "hi", "pt", 100L)
    df.collect() // AQE final plan
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }
}
