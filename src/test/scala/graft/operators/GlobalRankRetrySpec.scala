package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GlobalRank's position-in-partition comes from
  * `monotonically_increasing_id` evaluated above the partition-local
  * sort, so a retried task must replay the identical sorted iterator
  * and reassign identical ids — otherwise ranks duplicate or skip.
  * This spec kills the first attempt of the rank-assembly task
  * (post-shuffle, where the ids are generated) and proves the output
  * is still the exact permutation. */
class GlobalRankRetrySpec extends AnyFunSuite with SparkSuite {

  // local[threads, maxTaskFailures]: allow the retry we provoke
  override protected def threads = 2
  override protected def taskAttempts = 3

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  test("a killed-and-retried rank task reassigns identical ids — ranks stay a permutation") {
    val sp = spark; import sp.implicits._
    val rng = new scala.util.Random(41)
    val rows = (0L until 2000L).map(id => (id, rng.nextDouble()))
    val df = rows.toDF("id", "v").repartition(4)
    val ranked = GlobalRank.rank(df, Seq(col("v").desc, col("id").asc), 4, "r")
      .select(col("id"), col("r")).as[(Long, Long)]
      .map { row =>
        val tc = org.apache.spark.TaskContext.get()
        // die mid-stage on the first attempt of partition 0 — the same
        // task that just evaluated monotonically_increasing_id
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
          throw new RuntimeException("simulated executor death")
        row
      }
    val got = ranked.collect().toMap
    val expected = rows.sortBy { case (id, v) => (-v, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    assert(got == expected)
  }
}
