package graft.sources

import graft.SparkSuite
import graft.ingest.{BulkLoad, FileStore}
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** REVERSE SCAN pushdown (r16 — HBase Scan.setReversed): `ORDER BY
  * rowkey DESC [, version DESC] LIMIT k` walks a compacted shard's
  * seekable index backward and reads ~k entries. Pins: shape
  * acceptance (and the version-ASC / $latest declines), exact results
  * vs the unpushed reference, bounded emission, mask + retention
  * application in reverse, and the put-backlog forward fallback. */
class CellsReverseScanSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = java.nio.file.Files.createTempDirectory("reverse-scan").toString
    val sp = spark; import sp.implicits._
    // ONE shard ('K…'), 8 keys × 3 versions, one bulk load ⇒ one
    // sorted segment (the compacted steady state the reverse walk rides)
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

  test("(rowkey DESC, version DESC) pushes, reads ~k entries, answers exactly") {
    CellsSource.cappedRowsEmitted.set(0)
    CellsSource.filesOpened.set(0)
    val q = read.orderBy(col("rowkey").desc, col("version").desc).limit(4)
      .select(col("rowkey").cast("string"), col("version"))
    assert(descOf(q).contains("topK=4 rev vdesc"), descOf(q))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("K-07", 73L), ("K-07", 72L), ("K-07", 71L), ("K-06", 63L)), s"$got")
    // the exact shape stops at exactly k on the one shard
    assert(CellsSource.cappedRowsEmitted.get() == 4)
  }

  test("(rowkey DESC) alone pushes with key-group truncation") {
    CellsSource.cappedRowsEmitted.set(0)
    val q = read.orderBy(col("rowkey").desc).limit(4)
      .select(col("rowkey").cast("string"), col("version"))
    assert(descOf(q).contains("topK=4 rev") && !descOf(q).contains("vdesc"), descOf(q))
    val got = q.collect().map(r => r.getString(0)).toSeq
    assert(got.size == 4 && got.toSet == Set("K-07", "K-06"), s"$got")
    // stops at the first key change once ≥ 4 rows are out: ≤ 4 + one
    // key's versions
    val emitted = CellsSource.cappedRowsEmitted.get()
    assert(emitted >= 4 && emitted <= 7, s"emitted $emitted")
  }

  test("(rowkey DESC, version ASC) is declined — no physical order matches") {
    val q = read.orderBy(col("rowkey").desc, col("version").asc).limit(4)
      .select(col("rowkey").cast("string"), col("version"))
    assert(!descOf(q).contains("rev"), descOf(q))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("K-07", 71L), ("K-07", 72L), ("K-07", 73L), ("K-06", 61L)), s"$got")
  }

  test("delete masks and version windows apply in reverse") {
    // exact-mask the global top cell: the walk must serve the next one
    FileStore(root).deleteCellsExact("t", Seq(("K-07".getBytes("UTF-8"), 73L)))
    try {
      val q = read.orderBy(col("rowkey").desc, col("version").desc).limit(2)
        .select(col("rowkey").cast("string"), col("version"))
      assert(descOf(q).contains("rev"))
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("K-07", 72L), ("K-07", 71L)), s"$got")
      // a pushed version window composes: top under version <= 65
      val w = read.where(col("version") <= 65)
        .orderBy(col("rowkey").desc, col("version").desc).limit(2)
        .select(col("rowkey").cast("string"), col("version"))
      val gotW = w.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(gotW == Seq(("K-06", 63L), ("K-06", 62L)), s"$gotW")
    } finally {
      // restore: purge the marker via a major (it GCs marker + masked)
      graft.ingest.Compaction.major(spark, root, "t")
      val back = read.orderBy(col("rowkey").desc, col("version").desc).limit(1)
        .collect()(0).getLong(1)
      assert(back == 72L, "the major purged the masked top cell with its marker")
    }
  }

  test("a put backlog falls back to the forward reader, uncapped but exact") {
    FileStore(root).putBatch("t",
      Seq(CellPut("t", "K-09".getBytes("UTF-8"), 91L, "fresh".getBytes("UTF-8"))))
    try {
      CellsSource.cappedRowsEmitted.set(0)
      val q = read.orderBy(col("rowkey").desc, col("version").desc).limit(2)
        .select(col("rowkey").cast("string"), col("version"))
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("K-09", 91L), ("K-07", 72L)), s"$got")
      assert(CellsSource.cappedRowsEmitted.get() == 0,
        "a backlogged shard must not truncate — TakeOrdered does the work")
    } finally {
      FileStore(root).deleteCellsExact("t", Seq(("K-09".getBytes("UTF-8"), 91L)))
      graft.ingest.Compaction.major(spark, root, "t")
    }
  }

  test("retention applies in reverse: hidden versions never serve") {
    val r2 = java.nio.file.Files.createTempDirectory("reverse-ret").toString
    val sp = spark; import sp.implicits._
    FileStore(r2).ensureTable("rt", TableSpec(maxVersions = 1, compactionThreshold = 0))
    BulkLoad.writeCells(
      (for (k <- 0 until 4; v <- 1 to 3)
        yield ("rt", f"R-$k%02d", k * 10L + v, s"b-$k-$v"))
        .map(x => (x._1, x._2.getBytes("UTF-8"), x._3, x._4.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), r2)
    try {
      val q = spark.read.format("graft-cells").option("root", r2).option("table", "rt")
        .load().orderBy(col("rowkey").desc, col("version").desc).limit(3)
        .select(col("rowkey").cast("string"), col("version"))
      assert(descOf(q).contains("rev"))
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // cap 1: only each key's newest is visible, in reverse key order
      assert(got == Seq(("R-03", 33L), ("R-02", 23L), ("R-01", 13L)), s"$got")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r2))
  }

  test("the $latest face declines the reverse shape (fold streams forward)") {
    val latest = spark.read.format("graft-cells")
      .option("root", root).option("table", "t").option("latest", "true").load()
    val q = latest.orderBy(col("rowkey").desc).limit(2)
      .select(col("rowkey").cast("string"), col("version"))
    assert(!descOf(q).contains("rev"), descOf(q))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("K-07", 72L), ("K-06", 63L)), s"$got")
  }
}
