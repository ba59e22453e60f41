package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite

/** The q17 cost-switch escalation, end to end on a corpus built to trip
  * it: clone-heavy postings must (a) push the Σdf²/Σdf probe past the
  * escalation threshold, (b) resolve the duplicate-heavy source in the
  * prefix-filtered phase, (c) fall back to the posting join ONLY for
  * the clone-poor source — and the assembled top-5-per-source output
  * must equal brute force exactly. The driver's oracle gate only ever
  * sees the benign branch (the test corpora are clone-free), so this
  * spec is the escalated assembly's correctness gate. */
class AdaptiveJoinSpec extends AnyFunSuite with SparkSuite {

  private var dir: String = _

  // 8 stop tokens shared by every document: 6 stop shingles with
  // df = |docs|, enough Σdf² mass to trip the fan-out probe
  private val stop = (1 to 8).map(i => s"p$i").mkString(" ")

  private def text(tail: String*): String = stop + " " + tail.mkString(" ")

  /** (doc_id, source, text): 8 clone groups of 5 identical docs in
    * source "dup" (J = 1.0 pairs — phase 1 resolves; stop-shingle df
    * 40 inside the source pushes Σdf²/Σdf past 16), 10 unique-tailed
    * docs in source "thin" whose pairwise J = 6/14 < 1/2 (phase 2
    * must supply its top-5). */
  private val docs: Seq[(Long, String, String)] = {
    val dup = for (g <- 0 until 8; i <- 0 until 5) yield
      ((g * 5 + i).toLong, "dup", text(s"d$g-a", s"d$g-b", s"d$g-c", s"d$g-d"))
    val thin = for (i <- 0 until 10) yield
      ((100 + i).toLong, "thin", text(s"t$i-a", s"t$i-b", s"t$i-c", s"t$i-d"))
    dup ++ thin
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = java.nio.file.Files.createTempDirectory("graft-adaptive").toString
    val sp = spark; import sp.implicits._
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  private def shingles(t: String): Set[String] =
    t.split(" ").sliding(3).map(_.mkString(" ")).toSet

  test("the fixture trips the escalation probe (fan-out > 16)") {
    val sp = spark; import sp.implicits._
    val inv = docs.flatMap { case (id, src, t) => shingles(t).map(sh => (src, id, sh)) }
      .toDF("source", "doc_id", "shingle")
    val (df2, dfsum) = graft.operators.SimilarityJoin.postingCost(inv, Seq("source", "shingle"))
    assert(df2 > 16L * dfsum, s"fixture must escalate: df2=$df2 dfsum=$dfsum")
  }

  test("q117's two-signal switch: stop-shingle volume escalates, clone volume stays direct") {
    val sp = spark; import sp.implicits._
    def decide(rows: Seq[(Long, String)], nDocs: Long): Boolean = {
      val inv = rows.toDF("doc_id", "shingle")
      val st = graft.operators.SimilarityJoin
        .postingStats(inv, Seq("shingle"), math.max(64L, nDocs / 8))
      st.df2 > 16L * st.dfSum && st.hazard * 2 >= st.df2 // true = escalate
    }
    // stop-shingle corpus: 300 docs, one universal shingle + 9 unique.
    // fan-out = (300² + 2700)/3000 ≈ 31 > 16, and the universal element
    // (df = 300 ≥ max(64, 37)) carries ~97% of Σdf² → escalate: this is
    // the blowup the prefix filter provably removes.
    val stopCorpus = (0 until 300).flatMap(i =>
      ("STOP" +: (0 until 9).map(k => s"u$i-$k")).map(sh => (i.toLong, sh)))
    assert(decide(stopCorpus, 300), "stop-shingle corpus must escalate")
    // clone corpus: 200 docs in identical groups of 25, NO universal
    // element. fan-out = 25 > 16, but max df = 25 < max(64, 25) —
    // hazard 0: the volume is true-duplication OUTPUT work, where the
    // direct join is the cheaper exact plan (sf1 probe: escalation
    // measured 1.3× slower there) → stay direct.
    val cloneCorpus = (0 until 200).flatMap { i =>
      val g = i / 25
      (0 until 10).map(k => (i.toLong, s"c$g-$k"))
    }
    assert(!decide(cloneCorpus, 200), "clone corpus must stay on the direct join")
  }

  test("escalated q17 equals brute-force top-5 per source (phase 1 + phase 2 assembly)") {
    val brute: Seq[(String, Long, Long, Long, Long, Long)] = {
      val bySrc = docs.groupBy(_._2)
      bySrc.toSeq.flatMap { case (src, ds) =>
        val pairs = for {
          (a, _, ta) <- ds; (b, _, tb) <- ds if a < b
          sa = shingles(ta); sb = shingles(tb)
          shared = (sa & sb).size.toLong if shared >= 1
        } yield (a, b, shared, (sa | sb).size.toLong)
        pairs
          .sortBy { case (a, b, sh, tot) => (-(sh.toDouble / tot), a, b) }
          .take(5).zipWithIndex
          .map { case ((a, b, sh, tot), i) => (src, (i + 1).toLong, a, b, sh, tot) }
      }.sorted
    }
    val got = SparkEntry.queries("q17_ngram_jaccard")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1).toLong, r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq.sorted
    assert(got == brute, s"\ngot:   $got\nwant:  $brute")
    // both sources produced a full top-5 (non-vacuous on each path:
    // "dup" resolves in phase 1, "thin" only exists via phase 2)
    assert(got.count(_._1 == "dup") == 5 && got.count(_._1 == "thin") == 5)
    // the dup source's top-5 are exact-clone pairs
    assert(got.filter(_._1 == "dup").forall { case (_, _, _, _, sh, tot) => sh == tot })
  }
}
