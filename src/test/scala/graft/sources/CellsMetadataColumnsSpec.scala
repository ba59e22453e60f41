package graft.sources

import graft.SparkSuite
import graft.ingest.{BulkLoad, FileStore, PushTableSink}
import graft.ingest.PushTableSink.CellPut
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SupportsMetadataColumns — the Iceberg `_file` idiom: `_shard`,
  * `_file`, `_kind` name the store file whose copy WON read precedence
  * for each emitted row. SELECT-only (a `SELECT *` stays the 3-column
  * cell schema); joins against the `$versions` inventory face on
  * (_shard, _file). */
class CellsMetadataColumnsSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("cells-metacols").toString
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gmc", classOf[CellsCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmc.root", root)
    val sp = spark; import sp.implicits._
    // segment-resident cells (bulk), one put-backlog cell, one marker
    BulkLoad.writeCells(
      (0 until 20).map(i => ("mc", f"M-$i%02d".getBytes("UTF-8"), 10L, s"seg-$i".getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    FileStore(root).putBatch("mc",
      Seq(CellPut("mc", "M-99".getBytes("UTF-8"), 20L, "fresh".getBytes("UTF-8"))))
    FileStore(root).deleteCells("mc", Seq(("M-05".getBytes("UTF-8"), 10L)))
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("_kind reports the winning store file's type; SELECT * stays the cell schema") {
    val rows = spark.sql(
      """SELECT cast(rowkey as string) AS k, _kind, _file, _shard
         FROM gmc.mc""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    val byKind = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byKind("segment") == 19, s"$byKind") // M-05 is masked
    assert(byKind("put") == 1)
    assert(rows.filter(_._2 == "put").head._1 == "M-99")
    assert(rows.forall(r => r._3.nonEmpty && r._4.nonEmpty))
    // every (_shard, _file) provenance joins against the $versions inventory
    val inv = spark.sql("SELECT shard, file FROM gmc.`mc$versions`")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.forall(r => inv.contains((r._4, r._3))),
      "provenance must name real inventory files")
    // metadata columns are SELECT-only
    assert(spark.table("gmc.mc").columns.toSeq == Seq("rowkey", "version", "body"))
  }

  test("the $versions face reports exact file-count statistics; provenance joins broadcast it") {
    val scan = CellsVersionsScan(root, "mc")
    val stats = scan.estimateStatistics()
    val rows = spark.sql("SELECT count(*) FROM gmc.`mc$versions`").collect()(0).getLong(0)
    assert(stats.numRows().getAsLong == rows,
      s"stats ${stats.numRows()} vs actual $rows")
    // the inventory side is file-count-sized → broadcast under defaults
    val joined = spark.sql(
      """SELECT t._file, v.bytes FROM gmc.mc t
         JOIN gmc.`mc$versions` v ON t._shard = v.shard AND t._file = v.file""")
    joined.collect()
    val hasBhj = joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    assert(hasBhj, joined.queryExecution.executedPlan.toString.take(800))
  }

  test("metadata columns are a BATCH-face feature: the stream face without them stays healthy") {
    // Spark's streaming exec does not thread DSv2 metadata columns
    // (the analyzer resolves `_kind` but MicroBatchScanExec binds the
    // relation's extra attributes past the reader's schema), so a
    // stream selecting one fails inside Spark — pinned here so an
    // upgrade that fixes it is noticed. Provenance on streams comes
    // from the `$versions` face instead.
    val cp = Files.createTempDirectory("mc-stream-cp").toString
    val q = spark.readStream.table("gmc.mc")
      .selectExpr("cast(rowkey as string) AS k", "_kind")
      .writeStream.format("memory").queryName("mc_meta_stream")
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[Exception] { q.awaitTermination() }
    assert(e.getMessage != null)
    // the same stream WITHOUT metadata columns is healthy
    val cp2 = Files.createTempDirectory("mc-stream-cp2").toString
    val q2 = spark.readStream.table("gmc.mc")
      .selectExpr("cast(rowkey as string) AS k")
      .writeStream.format("memory").queryName("mc_plain_stream")
      .option("checkpointLocation", cp2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("mc_plain_stream").count() == 21) // WAL view: M-05 unmasked
  }

  test("the change-feed face reports marker kinds") {
    val kinds = spark.sql(
      """SELECT op, _kind FROM gmc.`mc$changes`""").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(kinds.contains(("put", "segment")) && kinds.contains(("put", "put")))
    assert(kinds.contains(("delete", "marker_bound")), s"$kinds")
  }
}
