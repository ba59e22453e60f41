package graft.sources

import graft.SparkSuite
import graft.ingest.{BulkLoad, FileStore}
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pushed top-N, version-DESC shape (r15): `ORDER BY rowkey ASC,
  * version DESC LIMIT k` — the HBase Get.readVersions(k) serving
  * order — truncates per shard on KEY-GROUP boundaries once ≥ k rows
  * are out (a bounded superset the retained TakeOrdered finalizes).
  * Pins: acceptance of the shape, the group-complete cap bound,
  * read-time sortedness gating (put backlog ⇒ no cap), result
  * equality with the unpushed reference, and the OFFSET decline
  * (correct answers with OFFSET evaluated by Spark above the scan). */
class CellsTopNDescSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = java.nio.file.Files.createTempDirectory("topn-desc").toString
    val sp = spark; import sp.implicits._
    // ONE shard ('K…'), 8 keys × 3 versions, one bulk load ⇒ one
    // sorted segment (the compacted steady state)
    BulkLoad.writeCells(
      (for (k <- 0 until 8; v <- 1 to 3)
        yield ("t", f"K-$k%02d", k * 10L + v, s"b-$k-$v"))
        .map(x => (x._1, x._2.getBytes("UTF-8"), x._3, x._4.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def read = spark.read.format("graft-cells")
    .option("root", root).option("table", "t").load()

  private def descOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.getOrElse("")

  test("the (rowkey ASC, version DESC) shape pushes and truncates at key-group boundaries") {
    CellsSource.cappedRowsEmitted.set(0)
    val top = read.orderBy(col("rowkey").asc, col("version").desc).limit(4)
      .select(col("rowkey").cast("string"), col("version"))
    assert(descOf(top).contains("topK=4 vdesc"), descOf(top))
    val got = top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // top 4: all of K-00 (versions 3,2,1 desc) then K-01's newest
    assert(got == Seq(("K-00", 3L), ("K-00", 2L), ("K-00", 1L), ("K-01", 13L)), s"$got")
    // cap = finish the 2nd key group: 6 rows emitted of 24
    val emitted = CellsSource.cappedRowsEmitted.get()
    assert(emitted == 6, s"expected 2 complete 3-version groups, emitted $emitted")
  }

  test("a put backlog withdraws the cap (unsorted stream) but answers stay correct") {
    FileStore(root).putBatch("t",
      Seq(CellPut("t", "K-00".getBytes("UTF-8"), 99L, "fresh".getBytes("UTF-8"))))
    try {
      CellsSource.cappedRowsEmitted.set(0)
      val top = read.orderBy(col("rowkey").asc, col("version").desc).limit(2)
        .select(col("rowkey").cast("string"), col("version"))
      val got = top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("K-00", 99L), ("K-00", 3L)), s"$got")
      assert(CellsSource.cappedRowsEmitted.get() == 0,
        "an unsorted shard must not truncate — TakeOrdered does the work")
    } finally {
      // restore the compacted fixture for later tests: exact-delete
      // the injected cell, then a major purges marker + cell and
      // leaves one fresh sorted segment per shard
      FileStore(root).deleteCellsExact("t", Seq(("K-00".getBytes("UTF-8"), 99L)))
      graft.ingest.Compaction.major(spark, root, "t")
    }
  }

  test("the pushed DESC top-N equals the unpushed reference on the restored fixture") {
    val pushed = read.orderBy(col("rowkey").asc, col("version").desc).limit(7)
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val reference = read.collect()
      .map(r => (new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"), r.getLong(1)))
      .sortBy { case (k, v) => (k, -v) }.take(7).toSeq
    assert(pushed == reference, s"$pushed vs $reference")
  }

  test("OFFSET is evaluated by Spark above the (still capped) scan — declined by design") {
    // the connector implements no SupportsPushDownOffset: a multi-shard
    // merge has no global order to skip against, so a per-shard skip
    // would drop rows the global OFFSET still needs. Spark's own
    // GlobalLimit+Offset over the pushed-topN stream is correct.
    read.createOrReplaceTempView("graft_cells_offset_probe")
    val got = spark.sql(
      "SELECT cast(rowkey as string) AS k, version FROM graft_cells_offset_probe " +
        "ORDER BY k ASC, version ASC LIMIT 5 OFFSET 3")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("K-01", 11L), ("K-01", 12L), ("K-01", 13L),
      ("K-02", 21L), ("K-02", 22L)), s"$got")
  }
}
