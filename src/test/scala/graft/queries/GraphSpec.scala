package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph-family behavior beyond the hash gate. q153's compact-forward
  * triangle count is cross-checked against a structurally different
  * algorithm — driver-side neighbor-set intersection over the collected
  * edge list — so an orientation bug (the classic double/half-count)
  * cannot survive even if both engines shared it.
  */
class GraphSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q153: triangle count equals brute-force neighbor-set intersection") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u
    }
    // each triangle counted once: for edge (u,v) with u<v, common
    // neighbors w > v close it exactly once
    val brute = edges.map { case (u, v) =>
      (adj(u) & adj(v)).count(_ > v).toLong
    }.sum
    val r = SparkEntry.queries("q153_triangles")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_triangles") == brute,
      s"compact-forward ${r.getAs[Long]("n_triangles")} vs brute $brute")
    assert(r.getAs[Long]("n_nodes") == adj.size)
    assert(r.getAs[Long]("n_edges") == edges.length.toLong)
    val wedges = adj.valuesIterator.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(r.getAs[Long]("n_wedges") == wedges)
    assert(r.getAs[Long]("n_triangles") > 0,
      "fixture degenerate: no triangles to verify against")
    // transitivity = 3·tri/wedges, in [0, 1000]
    val t = r.getAs[Long]("transitivity_x1000")
    assert(t == 3000L * brute / wedges && t >= 0 && t <= 1000)
  }

  test("q153: orientation is a total order — every edge oriented exactly once") {
    // re-derive the oriented edge list the query builds and check it is
    // a permutation of the undirected edges (no drops, no duplicates) —
    // the property the wedge join's correctness rests on
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("c"))
    val ed = e
      .join(deg.select(col("node").as("u"), col("c").as("cu")), "u")
      .join(deg.select(col("node").as("v"), col("c").as("cv")), "v")
    val lt = (col("cu") < col("cv")) ||
      (col("cu") === col("cv") && col("u") < col("v"))
    val o = ed.select(
      when(lt, col("u")).otherwise(col("v")).as("s"),
      when(lt, col("v")).otherwise(col("u")).as("t"))
    val undirected = e.collect().map(r => {
      val (a, b) = (r.getLong(0), r.getLong(1)); (math.min(a, b), math.max(a, b))
    }).toSeq.sorted
    val oriented = o.collect().map(r => {
      val (a, b) = (r.getLong(0), r.getLong(1)); (math.min(a, b), math.max(a, b))
    }).toSeq.sorted
    assert(oriented == undirected)
  }

  test("q179: capped peel equals the driver-side unbounded fixpoint (convergence under the cap)") {
    val row = Graph.queries("q179_kcore")(spark, sf).collect()(0)
    // brute-force the TRUE 64-core, no round cap
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val adj = collection.mutable.Map[Long, collection.mutable.Set[Long]]()
    byOrder.values.foreach { ps =>
      for (a <- ps; b <- ps if a < b) {
        adj.getOrElseUpdate(a, collection.mutable.Set()) += b
        adj.getOrElseUpdate(b, collection.mutable.Set()) += a
      }
    }
    val nNodes = adj.size.toLong
    var rounds = 0
    var removed = 0L
    var continue = true
    while (continue) {
      // edge-derived-degree semantics, matching the query: a node whose
      // last edge vanished mid-peel is an ORPHAN — it leaves the graph
      // without being counted as removed and without costing a round
      // (the query's degree table simply never shows it again)
      adj.filterInPlace((_, s) => s.nonEmpty)
      val bad = adj.collect { case (n, s) if s.size < 64 => n }.toSeq
      if (bad.isEmpty) continue = false
      else {
        rounds += 1
        removed += bad.size
        bad.foreach { n => adj(n).foreach(m => adj(m) -= n); adj -= n }
      }
    }
    adj.filterInPlace((_, s) => s.nonEmpty)
    assert(rounds < 6, s"fixture peels in $rounds rounds — cap margin gone")
    assert(row.getAs[Long]("n_rounds") == rounds.toLong)
    assert(row.getAs[Long]("n_core") == adj.size.toLong)
    assert(row.getAs[Long]("n_removed") == removed)
    assert(row.getAs[Boolean]("converged"))
    assert(row.getAs[Long]("core_edges") == adj.values.map(_.size.toLong).sum / 2)
    if (adj.nonEmpty) {
      assert(row.getAs[Long]("core_min_deg") == adj.values.map(_.size).min.toLong)
      assert(row.getAs[Long]("core_min_deg") >= 64L, "core property violated")
    } else assert(row.getAs[Long]("core_min_deg") == -1L)
  }

  test("KCore: deep-peel graph exhausts the round cap — converged flags false, strict throws") {
    val sp = spark; import sp.implicits._
    // a path graph peels from both ends, one layer per round: under
    // k=2 a 30-node path needs 15 rounds to empty — far past a 4-round
    // cap, so the capped result is NOT the 2-core (which is empty)
    val e = (0L until 29L).map(i => (i, i + 1)).toDF("u", "v")
    val capped = graft.operators.KCore.peel(e, k = 2, maxRounds = 4)
    assert(!capped.converged, "a truncated peel must not claim the fixpoint")
    assert(capped.nRounds == 4L && capped.nCore > 0L)
    val ex = intercept[IllegalStateException] {
      graft.operators.KCore.peel(e, k = 2, maxRounds = 4, strict = true)
    }
    assert(ex.getMessage.contains("did not converge"))
    // with the cap lifted the same graph converges to the empty 2-core
    val full = graft.operators.KCore.peel(e, k = 2, maxRounds = 32)
    assert(full.converged && full.nCore == 0L && full.coreMinDeg == -1L)
    assert(full.nRemoved + full.nCore <= full.nNodes) // orphans are neither
  }

  test("KCore: orphaned node is neither core nor removed (edge-derived degrees)") {
    val sp = spark; import sp.implicits._
    // star: center 0 with 3 leaves. k=2 peels the leaves in round 1;
    // the center is then edgeless — an orphan, not a removal, and the
    // peel converges in exactly 1 round with an empty core
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("u", "v")
    val r = graft.operators.KCore.peel(e, k = 2, maxRounds = 6)
    assert(r.converged && r.nRounds == 1L)
    assert(r.nCore == 0L && r.nRemoved == 3L && r.nNodes == 4L)
  }
}
