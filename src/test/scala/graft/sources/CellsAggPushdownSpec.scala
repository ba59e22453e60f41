package graft.sources

import graft.SparkSuite
import graft.ingest.{BulkLoad, FileStore, PushTableSink}
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Aggregate pushdown: ungrouped count/min/max(version) answered from
  * metadata (zero file contents) through [[CellsAggScan]], masks and
  * cross-kind identity dedup applied, the $latest face composing;
  * grouped/rowkey-filtered shapes decline to the row scan; an empty
  * table counts 0. */
class CellsAggPushdownSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _
  private val cat = "gagg"

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft-aggpd").toString
    super.beforeAll()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[CellsCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)

    val sp = spark; import sp.implicits._
    // mixed store-file population: a bulk generation (segments), a put
    // backlog (including one DUPLICATE identity — dedup must not
    // double-count), and both marker kinds
    BulkLoad.writeCells(
      (0 until 50).map(i => ("t", s"K-$i".getBytes("UTF-8"), 100L + i, s"b-$i".getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    val store = FileStore(root)
    store.putBatch("t", Seq(
      CellPut("t", "K-0".getBytes("UTF-8"), 100L, "b-0".getBytes("UTF-8")), // dup identity
      CellPut("t", "K-0".getBytes("UTF-8"), 500L, "new".getBytes("UTF-8")),
      CellPut("t", "K-99".getBytes("UTF-8"), 7L, "low".getBytes("UTF-8"))))
    store.deleteCells("t", Seq(("K-1".getBytes("UTF-8"), 101L)))      // masks K-1 entirely
    store.deleteCellsExact("t", Seq(("K-2".getBytes("UTF-8"), 102L))) // masks exactly K-2@102
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def aggScans(df: DataFrame): Seq[Any] =
    // the optimized logical plan (AQE wraps the physical one): a
    // pushed aggregate shows as a ScanRelation over CellsAggScan
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if r.scan.isInstanceOf[CellsAggScan] => r
    }

  // live cells: 50 bulk + 2 extra puts − 2 masked = 50; min = 7 (K-99),
  // max = 500 (K-0's put)
  test("count/min/max push down to metadata: one agg row per region, zero content reads") {
    CellsSource.filesOpened.set(0)
    val df = spark.sql(s"SELECT count(*) AS n, min(version) AS mn, max(version) AS mx FROM $cat.t")
    val r = df.collect()(0)
    assert(aggScans(df).nonEmpty, "the plan must carry the pushed agg scan")
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (50L, 7L, 500L), s"$r")
    assert(CellsSource.filesOpened.get() == 0, "aggregate pushdown must read zero file contents")
  }

  test("the $latest face composes: count = live keys, max over winners") {
    CellsSource.filesOpened.set(0)
    val df = spark.sql(s"SELECT count(*) AS n, max(version) AS mx FROM $cat.`t$$latest`")
    val r = df.collect()(0)
    assert(aggScans(df).nonEmpty)
    // 50 bulk keys − K-1 (bound-masked) − K-2 (its only version is
    // exactly masked) + K-99 = 49 live keys
    assert((r.getLong(0), r.getLong(1)) == (49L, 500L), s"$r")
    assert(CellsSource.filesOpened.get() == 0)
  }

  test("a pushed version window composes with the aggregate") {
    val df = spark.sql(
      s"SELECT count(*) AS n, min(version) AS mn FROM $cat.t WHERE version >= 110 AND version <= 120")
    val r = df.collect()(0)
    assert(aggScans(df).nonEmpty)
    assert((r.getLong(0), r.getLong(1)) == (11L, 110L), s"$r")
  }

  test("grouped aggregates and rowkey predicates decline to the row scan — same answers") {
    val grouped = spark.sql(s"SELECT version % 2 AS p, count(*) AS n FROM $cat.t GROUP BY 1")
    assert(aggScans(grouped).isEmpty, "grouping declines pushdown")
    assert(grouped.collect().map(_.getLong(1)).sum == 50L)
    val keyed = spark.sql(
      s"SELECT count(*) AS n FROM $cat.t WHERE rowkey = cast('K-5' as binary)")
    assert(aggScans(keyed).isEmpty, "residual rowkey predicates decline pushdown")
    assert(keyed.collect()(0).getLong(0) == 1L)
  }

  test("an empty table counts 0, not null") {
    spark.sql(s"CREATE TABLE $cat.empty (rowkey BINARY, version BIGINT, body BINARY)")
    val df = spark.sql(s"SELECT count(*) AS n, max(version) AS mx FROM $cat.empty")
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1), s"$r")
  }
}
