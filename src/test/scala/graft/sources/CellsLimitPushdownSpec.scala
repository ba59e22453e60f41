package graft.sources

import graft.SparkSuite
import graft.ingest.{BulkLoad, FileStore, PushTableSink}
import graft.ingest.PushTableSink.CellPut
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SupportsPushDownLimit / SupportsPushDownTopN: LIMIT truncates every
  * shard unconditionally (any N rows are correct under the retained
  * GlobalLimit); ORDER BY (rowkey [, version]) LIMIT N truncates only
  * shards that provably stream sorted (compacted — the
  * outputOrdering condition), decided per shard AT READ TIME, so a
  * put backlog silently falls back to the full-row path and Spark's
  * TakeOrdered still answers correctly. DESC and non-key orders
  * decline at planning. */
class CellsLimitPushdownSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft-limit").toString
    super.beforeAll()
    val sp = spark; import sp.implicits._
    BulkLoad.writeCells(
      (0 until 400).map(i => ("t", f"K-$i%04d".getBytes("UTF-8"), 10L + i, s"b-$i".getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def tbl: DataFrame =
    spark.read.format("graft-cells").option("root", root).option("table", "t").load()

  private def scanDesc(df: DataFrame): String = {
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.getOrElse("")
  }

  test("plain LIMIT pushes and truncates per shard") {
    CellsSource.cappedRowsEmitted.set(0)
    val df = tbl.select(col("rowkey").cast("string")).limit(7)
    assert(scanDesc(df).contains("limit=7"), scanDesc(df))
    assert(df.collect().length == 7)
    val emitted = CellsSource.cappedRowsEmitted.get()
    val shards = FileStore(root).splitsOf("t").size
    assert(emitted > 0 && emitted <= 7L * shards,
      s"per-shard truncation: emitted $emitted across $shards shards")
  }

  test("ORDER BY rowkey LIMIT pushes as top-N; compacted shards stop at N") {
    CellsSource.cappedRowsEmitted.set(0)
    val df = tbl.orderBy("rowkey").select(col("rowkey").cast("string").as("k")).limit(5)
    assert(scanDesc(df).contains("topK=5"), scanDesc(df))
    val got = df.collect().map(_.getString(0)).toSeq
    assert(got == (0 until 5).map(i => f"K-$i%04d"), s"$got")
    val emitted = CellsSource.cappedRowsEmitted.get()
    val shards = FileStore(root).splitsOf("t").size
    assert(emitted > 0 && emitted <= 5L * shards,
      s"sorted shards must stop at N: emitted $emitted across $shards shards (400 rows total)")
  }

  test("rowkey DESC pushes as a REVERSE top-N (r16); non-key orders decline") {
    CellsSource.cappedRowsEmitted.set(0)
    val desc = tbl.orderBy(col("rowkey").desc).select(col("rowkey").cast("string").as("k")).limit(3)
    assert(scanDesc(desc).contains("topK=3 rev"), scanDesc(desc))
    assert(desc.collect().map(_.getString(0)).toSeq ==
      (399 until 396 by -1).map(i => f"K-$i%04d"))
    assert(CellsSource.cappedRowsEmitted.get() > 0,
      "the reverse walk truncates (CellsReverseScanSpec pins the bounds)")
    CellsSource.cappedRowsEmitted.set(0)
    val byBody = tbl.orderBy("body").limit(3)
    assert(!scanDesc(byBody).contains("topK"), scanDesc(byBody))
    assert(byBody.count() == 3)
    assert(CellsSource.cappedRowsEmitted.get() == 0, "declined pushes must not cap readers")
  }

  test("a put backlog disables top-N truncation at read time but never correctness") {
    // the new smallest key lands as a PUT — its shard is no longer
    // sorted, so that shard must emit everything (else the true top-1
    // could be truncated away); other shards still stop at N
    FileStore(root).putBatch("t",
      Seq(CellPut("t", "A-0000".getBytes("UTF-8"), 1L, "first".getBytes("UTF-8"))))
    val df = tbl.orderBy("rowkey").select(col("rowkey").cast("string").as("k")).limit(2)
    assert(scanDesc(df).contains("topK=2"), scanDesc(df))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("A-0000", "K-0000"),
      "the put-backlog key must win the top spot")
  }
}
