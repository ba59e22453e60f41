package graft.ingest

import graft.SparkSuite
import graft.ingest.IngestPipeline.IngestedRow
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The reference re-opens a failed stream mid-file and skips already-
  * written lines (HBaseWriter.kt:131-286). The Spark mapping is: a
  * failed task is RETRIED WHOLE (master local[2,3] here, like a real
  * cluster's spark.task.maxFailures), the output committer discards the
  * dead attempt's files, and F5 existence filtering makes any replayed
  * writes idempotent. This spec kills a task's first attempt mid-stage
  * and proves the sink ends up with exactly the right cells — no
  * duplicates, no losses. */
class TaskRetrySpec extends AnyFunSuite with SparkSuite {

  // local[threads, maxTaskFailures]: allow the retry we provoke
  override protected def threads = 2
  override protected def taskAttempts = 3

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  private def cell(i: Int): IngestedRow =
    IngestedRow("f", i.toLong, "db", "c", "t:retry", "m.csv", "ok",
      s"key-$i".getBytes("UTF-8"), 1000L + i, s"body-$i", "MONGO_IMPORT", s"line-$i\n", "DoNotFilter", "")

  test("a killed-and-retried task writes no duplicate and no missing cells") {
    val sp = spark; import sp.implicits._
    val sinkDir = Files.createTempDirectory("graft-retry").resolve("sink").toString
    val rows = sp.createDataset((1 to 20).map(cell)).repartition(2)
      .map { r =>
        val tc = org.apache.spark.TaskContext.get()
        // first attempt of partition 0 dies mid-stage, every stage
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
          throw new RuntimeException("simulated executor death")
        r
      }
    val put = IngestPipeline.writeTableSink(rows, sinkDir)
    assert(put == 20)

    val sink = sp.read.parquet(sinkDir)
    assert(sink.count() == 20) // dead attempts left no stray cells
    assert(sink.select("rowkey", "version").distinct().count() == 20)

    // replaying the whole job is also clean: F5 drops every cell
    assert(IngestPipeline.writeTableSink(rows, sinkDir) == 0)
    assert(sp.read.parquet(sinkDir).count() == 20)
  }
}
