package graft.sources

import graft.SparkSuite
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native streaming SINK (StreamingWrite): `writeStream.format(
  * "graft-cells")` / `.toTable(...)` — puts and tombstones as
  * micro-batch appends, exactly-once cell STATE across restart and
  * epoch replay (idempotent renames; no epoch ledger), update mode
  * accepted as upsert-append, complete mode declined. */
class CellsStreamingSinkSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("cells-ssink").toString
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gsink", classOf[CellsCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsink.root", root)
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def cells(table: String): Set[(String, Long, String)] =
    spark.read.format("graft-cells").option("root", root).option("table", table).load()
      .select(col("rowkey").cast("string"), col("version"), col("body").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  private def putsDF(input: MemoryStream[(String, Long, String)]): DataFrame =
    input.toDF().selectExpr("cast(_1 as binary) as rowkey", "_2 as version",
      "cast(_3 as binary) as body")

  test("streamed puts land as cells; a restarted query resumes exactly-once from the checkpoint") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("cells-ssink-cp").toString
    val input = MemoryStream[(String, Long, String)]
    input.addData(("S-1", 10L, "a"), ("S-2", 20L, "b"))
    val q1 = putsDF(input).writeStream.format("graft-cells")
      .option("root", root).option("table", "strm")
      .option("checkpointLocation", cp).start()
    q1.processAllAvailable(); q1.stop()
    assert(cells("strm") == Set(("S-1", 10L, "a"), ("S-2", 20L, "b")))
    // restart from the SAME checkpoint: only new data flows, the old
    // batch is not re-delivered (and would converge even if it were)
    input.addData(("S-3", 30L, "c"), ("S-1", 11L, "a2"))
    val q2 = putsDF(input).writeStream.format("graft-cells")
      .option("root", root).option("table", "strm")
      .option("checkpointLocation", cp).start()
    q2.processAllAvailable(); q2.stop()
    assert(cells("strm") == Set(
      ("S-1", 10L, "a"), ("S-2", 20L, "b"), ("S-3", 30L, "c"), ("S-1", 11L, "a2")))
  }

  test("a tombstone stream masks; the two-stream replication pair composes") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("cells-ssink-cp2").toString
    val input = MemoryStream[(String, Long)]
    input.addData(("S-2", 20L))
    val q = input.toDF()
      .selectExpr("cast(_1 as binary) as rowkey", "_2 as version")
      .writeStream.format("graft-cells")
      .option("root", root).option("table", "strm")
      .option("tombstone", "true")
      .option("checkpointLocation", cp).start()
    q.processAllAvailable(); q.stop()
    assert(cells("strm").map(c => (c._1, c._2)) ==
      Set(("S-1", 10L), ("S-3", 30L), ("S-1", 11L)), "the ≤20 marker masks S-2")
  }

  test("writeStream.toTable through the catalog; update output mode is upsert-append") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("cells-ssink-cp3").toString
    spark.sql("CREATE TABLE gsink.agg (rowkey BINARY, version BIGINT, body BINARY)")
    val input = MemoryStream[(String, Long, String)]
    input.addData(("U-1", 1L, "x"), ("U-1", 1L, "x")) // dupe in-batch: same rename
    val q = putsDF(input).writeStream
      .outputMode("update")
      .option("checkpointLocation", cp)
      .toTable("gsink.agg")
    q.processAllAvailable(); q.stop()
    assert(cells("agg") == Set(("U-1", 1L, "x")))
  }

  test("complete mode declines loudly") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("cells-ssink-cp4").toString
    val input = MemoryStream[(String, Long, String)]
    input.addData(("C-1", 1L, "x"))
    // complete mode needs a truncating sink — the streaming face refuses
    val e = intercept[Exception] {
      val q = putsDF(input).groupBy("rowkey")
        .agg(max("version").as("version"), max("body").as("body"))
        .writeStream.format("graft-cells").outputMode("complete")
        .option("root", root).option("table", "cmpl")
        .option("checkpointLocation", cp).start()
      try { q.processAllAvailable() } finally q.stop()
    }
    assert(e.getMessage != null)
  }

  test("wrong shape fails fast at the driver, not mid-epoch") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cp = Files.createTempDirectory("cells-ssink-cp5").toString
    val input = MemoryStream[(String, Long, String)]
    input.addData(("W-1", 1L, "x"))
    val e = intercept[Exception] {
      val q = input.toDF()
        .selectExpr("_1 as rowkey", "_2 as version", "cast(_3 as binary) as body")
        .writeStream.format("graft-cells")
        .option("root", root).option("table", "bad")
        .option("checkpointLocation", cp).start()
      try { q.processAllAvailable() } finally q.stop()
    }
    assert(e.getMessage.contains("rowkey BINARY") ||
      (e.getCause != null && e.getCause.getMessage.contains("rowkey BINARY")),
      s"${e.getMessage}")
  }
}
