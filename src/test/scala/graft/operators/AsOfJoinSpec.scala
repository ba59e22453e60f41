package graft.operators

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** AsOfJoin semantics vs a per-row reference computation, the `<=`
  * tie rule, the outer-null path, and the no-join-node plan shape. */
class AsOfJoinSpec extends AnyFunSuite with SparkSuite {

  test("matches a per-row reference on seeded random data, incl. <= ties and no-match nulls") {
    val sp = spark; import sp.implicits._
    val rnd = new Random(42)
    // left: 400 probes over 20 keys; right: 150 unique (key, ts) states.
    val left = Seq.tabulate(400)(i => (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val rightRaw = Seq.tabulate(150)(i => (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val right = rightRaw.groupBy(r => (r._1, r._2)).map { case ((k, ts), rows) =>
      (k, ts, rows.map(_._3).max)
    }.toSeq

    val ldf = left.toDF("k", "lts", "lid")
    val rdf = right.toDF("k", "rts", "rid")

    // multiset equality (sorted seqs, not sets): a bug that duplicated or
    // collapsed value-identical left rows must not go undetected.
    val got = AsOfJoin.asOf(ldf, rdf, key = "k", leftTs = "lts", rightTs = "rts",
      payload = Seq("rts", "rid"))
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSeq.sorted

    val byKey = right.groupBy(_._1)
    val want = left.map { case (k, lts, lid) =>
      val best = byKey.getOrElse(k, Seq.empty).filter(_._2 <= lts) // <= : equal ts matches
        .sortBy(_._2).lastOption
      (k, lts, lid, best.map(_._2), best.map(_._3))
    }.sorted

    assert(got == want)
    // the data actually exercises both paths
    assert(want.exists(_._4.isEmpty), "no no-match rows generated")
    assert(want.exists(_._4.nonEmpty), "no matched rows generated")
    // and the <= tie case occurs
    assert(left.exists { case (k, lts, _) =>
      byKey.getOrElse(k, Seq.empty).exists(_._2 == lts)
    }, "no equal-timestamp tie generated")
  }

  test("rejects inputs with reserved __-prefixed columns; handles dot-named columns") {
    val sp = spark; import sp.implicits._
    val bad = Seq((1L, 10L, "a")).toDF("k", "lts", "__side")
    val rdf = Seq((1L, 5L, "x")).toDF("k", "rts", "rv")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOf(bad, rdf, "k", "lts", "rts", Seq("rv"))
    }
    assert(e.getMessage.contains("__side"))

    // dots in column names must resolve as literal names, not struct paths
    val ldot = Seq((1L, 10L, "a"), (1L, 3L, "b")).toDF("k", "l.ts", "l.v")
    val rdot = Seq((1L, 5L, "x")).toDF("k", "r.ts", "r.v")
    val out = AsOfJoin.asOf(ldot, rdot, "k", "l.ts", "r.ts", Seq("r.v"))
      .as[(Long, Long, String, Option[String])].collect().toSeq.sorted
    assert(out == Seq((1L, 3L, "b", None), (1L, 10L, "a", Some("x"))))
  }

  test("string keys and timestamp-typed time columns work (key type is not assumed numeric)") {
    val sp = spark; import sp.implicits._
    val ldf = Seq(("alpha", 10L, 1), ("beta", 20L, 2), ("alpha", 4L, 3)).toDF("k", "lts", "lid")
    val rdf = Seq(("alpha", 5L, "x"), ("beta", 20L, "y")).toDF("k", "rts", "rv")
    val out = AsOfJoin.asOf(ldf, rdf, "k", "lts", "rts", Seq("rv"))
      .select("k", "lid", "rv").as[(String, Int, Option[String])].collect().toSeq.sorted
    // alpha@4 has no earlier state; alpha@10 sees x; beta@20 ties (<=) to y
    assert(out == Seq(("alpha", 1, Some("x")), ("alpha", 3, None), ("beta", 2, Some("y"))))
  }

  test("plan has one shuffle + window, no join node") {
    val sp = spark; import sp.implicits._
    val ldf = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "lts", "lv")
    val rdf = Seq((1L, 5L, "x"), (2L, 25L, "y")).toDF("k", "rts", "rv")
    val df = AsOfJoin.asOf(ldf, rdf, "k", "lts", "rts", Seq("rv"))
    df.collect() // AQE: final plan only after execution
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("Join"), s)
    assert(s.contains("Window"), s)
  }
}
