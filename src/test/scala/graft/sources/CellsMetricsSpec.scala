package graft.sources

import graft.SparkSuite
import graft.ingest.BulkLoad
import java.nio.file.Files
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 CustomMetric: the connector's I/O counters surface as native
  * SQL metrics on the scan and write nodes — `filesOpened` /
  * `cellsEmitted` on reads, `cellsWritten` / `bytesWritten` on writes
  * — so pruning quality is observable per query node, not just
  * through the global spec counters. */
class CellsMetricsSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("cells-metrics").toString
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gmx", classOf[CellsCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmx.root", root)
    val sp = spark; import sp.implicits._
    BulkLoad.writeCells(
      (0 until 50).map(i => ("mx", f"X-$i%02d".getBytes("UTF-8"), 10L, s"b-$i".getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def metricsOf(plan: SparkPlan, pick: SparkPlan => Boolean): Map[String, Long] = {
    var found = Map.empty[String, Long]
    def walk(p: SparkPlan): Unit = {
      if (pick(p) && found.isEmpty) found = p.metrics.map { case (k, m) => (k, m.value) }
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case c: org.apache.spark.sql.execution.CommandResultExec => walk(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(walk)
    }
    walk(plan)
    found
  }

  test("scan nodes report filesOpened and cellsEmitted") {
    val df = spark.table("gmx.mx")
      .select(col("rowkey").cast("string"), col("body").cast("string"))
    assert(df.count() == 50) // count() path may plan differently; collect the projection
    val rows = df.collect()
    assert(rows.length == 50)
    val m = metricsOf(df.queryExecution.executedPlan,
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec])
    assert(m.contains("filesOpened") && m.contains("cellsEmitted"), s"$m")
    assert(m("cellsEmitted") == 50, s"$m")
    assert(m("filesOpened") > 0, s"$m")
  }

  test("a pushed top-N shows its truncation in cellsEmitted") {
    val df = spark.table("gmx.mx").orderBy("rowkey")
      .select(col("rowkey").cast("string")).limit(3)
    df.collect()
    val m = metricsOf(df.queryExecution.executedPlan,
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec])
    assert(m("cellsEmitted") > 0 && m("cellsEmitted") < 50,
      s"per-shard truncation must show up in the node metric: $m")
  }

  test("row-level (MERGE) nodes report puts, markers and bytes") {
    spark.sql("CREATE TABLE gmx.rl (rowkey BINARY, version BIGINT, body BINARY)")
    spark.sql("INSERT INTO gmx.rl SELECT cast(concat('R-', id) as binary), " +
      "cast(10 + id as bigint), cast('old' as binary) FROM range(0, 4)")
    val sp = spark; import sp.implicits._
    Seq(("R-0", 10L, "patched"), ("R-9", 90L, "new"), ("R-1", 99L, "moved"))
      .toDF("k", "version", "b")
      .selectExpr("cast(k as binary) as rowkey", "version", "cast(b as binary) as body")
      .createOrReplaceTempView("rl_src")
    val mrg = spark.sql(
      """MERGE INTO gmx.rl t USING rl_src e ON t.rowkey = e.rowkey
         WHEN MATCHED THEN UPDATE SET version = e.version, body = e.body
         WHEN NOT MATCHED THEN INSERT (rowkey, version, body)
           VALUES (e.rowkey, e.version, e.body)""")
    val m = metricsOf(mrg.queryExecution.executedPlan,
      p => p.metrics.contains("cellsWritten"))
    // R-0 in-place put, R-9 insert put, R-1 moved: marker + put
    assert(m("cellsWritten") == 3 && m("markersWritten") == 1, s"$m")
    assert(m("bytesWritten") > 0, s"$m")
  }

  test("write nodes report cellsWritten and bytesWritten") {
    val ins = spark.sql(
      "INSERT INTO gmx.mx SELECT cast(concat('Y-', id) as binary), " +
        "cast(100 + id as bigint), cast('fresh' as binary) FROM range(0, 7)")
    val m = metricsOf(ins.queryExecution.executedPlan,
      p => p.nodeName.toLowerCase.contains("append"))
    assert(m.contains("cellsWritten") && m("cellsWritten") == 7, s"$m")
    assert(m("bytesWritten") >= 7L * ("Y-0".length + "fresh".length), s"$m")
  }
}
