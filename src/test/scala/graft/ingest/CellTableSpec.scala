package graft.ingest

import graft.SparkSuite
import graft.ingest.IngestPipeline.IngestedRow
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Versioned reads over the cell sink: full history, latest, and
  * as-of (time travel) per rowkey. */
class CellTableSpec extends AnyFunSuite with SparkSuite {

  override protected def threads = 2

  private var sinkDir: String = _

  private def row(table: String, key: String, version: Long): IngestedRow =
    IngestedRow("f", 1, "db", "c", table, "m.csv", "ok",
      key.getBytes("UTF-8"), version, s"body-$key-v$version", "MONGO_IMPORT", "line\n", "DoNotFilter", "")

  override def beforeAll(): Unit = {
    super.beforeAll()
    sinkDir = Files.createTempDirectory("graft-cells").resolve("sink").toString
    val sp = spark; import sp.implicits._
    // key a: versions 10, 20, 30; key b: 15; other table: 99
    val rows = sp.createDataset(Seq(
      row("t:x", "a", 10), row("t:x", "a", 20), row("t:x", "a", 30),
      row("t:x", "b", 15), row("t:y", "a", 99)))
    IngestPipeline.writeTableSink(rows, sinkDir)
  }

  private def keyed(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8") -> r.getAs[Long]("version")).toMap

  test("scan returns the full version history, pruned to one table") {
    val t = CellTable.scan(spark, sinkDir, "t:x")
    assert(t.count() == 4)
    assert(t.filter(t("version") === 99).count() == 0) // other table pruned
  }

  test("latest picks the newest version per key") {
    assert(keyed(CellTable.latest(spark, sinkDir, "t:x")) == Map("a" -> 30L, "b" -> 15L))
  }

  test("asOf reads the table as it was at T") {
    assert(keyed(CellTable.asOf(spark, sinkDir, "t:x", 25)) == Map("a" -> 20L, "b" -> 15L))
    assert(keyed(CellTable.asOf(spark, sinkDir, "t:x", 12)) == Map("a" -> 10L))
    assert(keyed(CellTable.asOf(spark, sinkDir, "t:x", 5)) == Map.empty[String, Long])
  }

  test("bodies ride along: latest returns the newest cell's payload") {
    val body = CellTable.latest(spark, sinkDir, "t:x")
      .collect().map(r => new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8") -> new String(r.getAs[Array[Byte]]("body"), "UTF-8")).toMap
    assert(body("a") == "body-a-v30")
  }
}
