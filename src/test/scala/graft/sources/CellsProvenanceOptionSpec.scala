package graft.sources

import graft.SparkSuite
import graft.ingest.{BulkLoad, FileStore}
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `option("provenance","true")` (r15 — the STREAMING provenance
  * face): Spark's streaming exec does not thread DSv2 metadata
  * columns, so the widened-schema option bakes `_shard/_file/_kind`
  * into the read schema itself — same reader, same values. Pins:
  * batch equivalence with the metadata-column projection, the
  * streamed provenance across a restart, read-only-ness of the
  * widened face, and metadata-column suppression (no duplicate
  * names). */
class CellsProvenanceOptionSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = java.nio.file.Files.createTempDirectory("prov-opt").toString
    val sp = spark; import sp.implicits._
    BulkLoad.writeCells(
      (0 until 6).map(i => ("t", f"P-$i", i + 1L, s"b-$i"))
        .map(x => (x._1, x._2.getBytes("UTF-8"), x._3, x._4.getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    FileStore(root).putBatch("t",
      Seq(CellPut("t", "P-9".getBytes("UTF-8"), 100L, "put".getBytes("UTF-8"))))
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def read(opts: (String, String)*) = {
    val b = spark.read.format("graft-cells")
      .option("root", root).option("table", "t")
    opts.foldLeft(b) { case (x, (k, v)) => x.option(k, v) }.load()
  }

  test("batch: the widened schema equals the metadata-column projection, value for value") {
    val viaOption = read("provenance" -> "true")
      .select(col("rowkey").cast("string"), col("version"),
        col("_shard"), col("_file"), col("_kind"))
      .collect().map(_.toString).sorted.toSeq
    val viaMetadata = read()
      .select(col("rowkey").cast("string"), col("version"),
        col("_shard"), col("_file"), col("_kind")) // metadata columns resolve when named
      .collect().map(_.toString).sorted.toSeq
    assert(viaOption == viaMetadata)
    assert(viaOption.nonEmpty)
    // kinds discriminate the store-file population
    val kinds = read("provenance" -> "true").groupBy("_kind").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(kinds == Map("segment" -> 6L, "put" -> 1L), s"$kinds")
  }

  test("SELECT * on the widened face includes provenance; on the base face it does not") {
    assert(read("provenance" -> "true").columns.toSeq ==
      Seq("rowkey", "version", "body", "_shard", "_file", "_kind"))
    assert(read().columns.toSeq == Seq("rowkey", "version", "body"))
  }

  test("the widened face is read-only and suppresses duplicate metadata columns") {
    val sp = spark; import sp.implicits._
    val e = intercept[Exception] {
      Seq(("x".getBytes("UTF-8"), 1L, "y".getBytes("UTF-8")))
        .toDF("rowkey", "version", "body")
        .write.format("graft-cells").mode("append")
        .option("root", root).option("table", "t")
        .option("provenance", "true").save()
    }
    assert(e.getMessage != null)
  }

  test("streaming: provenance columns ride the micro-batch reader across a restart") {
    val ck = java.nio.file.Files.createTempDirectory("prov-ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("prov-out").toString + "/rows"
    try {
      def drain(): Unit = {
        // foreachBatch sink: the memory sink cannot recover from a
        // checkpoint, and restart-recovery is the point of this test
        val q = spark.readStream.format("graft-cells")
          .option("root", root).option("table", "t")
          .option("changeFeed", "true").option("provenance", "true").load()
          .select(col("rowkey").cast("string").as("k"), col("version"),
            col("op"), col("_kind"), col("_file"))
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain()
      val first = spark.read.parquet(outDir).collect()
      assert(first.length == 7 && first.forall(_.getAs[String]("_file").nonEmpty))
      // restart with new edits: one put and one marker, provenanced
      FileStore(root).putBatch("t",
        Seq(CellPut("t", "P-9".getBytes("UTF-8"), 200L, "p2".getBytes("UTF-8"))))
      FileStore(root).deleteCells("t", Seq(("P-0".getBytes("UTF-8"), 300L)))
      drain()
      val log = spark.read.parquet(outDir)
      val rows = log.select("k", "op", "_kind").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(rows.contains(("P-9", "put", "put")))
      assert(rows.contains(("P-0", "delete", "marker_bound")))
      assert(log.count() == 9, "exactly-once across the restart")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir).getParentFile)
    }
  }
}
