package graft.ingest

import graft.SparkSuite
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The Backup operator chain (the ExportSnapshot → LoadIncrementalHFiles
  * idiom): watermark recording, incremental slicing above the RECORDED
  * watermark, chained restore equality, descriptor passthrough (DDL +
  * split layout), and the restore-never-replays-puts physics. */
class BackupSpec extends AnyFunSuite with SparkSuite {

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def seed(root: String, table: String, cells: Seq[(String, Long)],
                   spec: TableSpec = TableSpec()): Unit = {
    val store = FileStore(root)
    store.ensureTable(table, spec)
    store.putBatch(table, cells.map { case (key, v) =>
      CellPut(table, k(key), v, k(s"body-$key-$v")) })
  }

  private def state(root: String, table: String): Seq[(String, Long, String)] =
    FileStore(root).scanTable(table).map { case (kh, v, b) => (kh, v, new String(b)) }.sorted

  test("full backup records the observed watermark and the table descriptor") {
    val root = Files.createTempDirectory("bak-full-src").toString
    val bak = Files.createTempDirectory("bak-full-dir").toString
    seed(root, "t", Seq(("a", 5L), ("b", 17L), ("c", 9L)), TableSpec(maxVersions = 4))
    val meta = Backup.full(spark, root, "t", bak)
    assert(meta.watermark == 17L, "watermark = max version exported")
    assert(meta.specJson.exists(_.contains(""""maxVersions":4""")))
    assert(meta.splitsJson.isEmpty, "default layout is not materialized")
    // meta round-trips through its json file
    val back = Backup.readMeta(bak)
    assert(back == meta)
  }

  test("incremental exports exactly the post-watermark slice and advances the chain") {
    val root = Files.createTempDirectory("bak-incr-src").toString
    val bak = Files.createTempDirectory("bak-incr-dir").toString
    val dst = Files.createTempDirectory("bak-incr-dst").toString
    seed(root, "t", Seq(("a", 1L), ("b", 2L)))
    val m1 = Backup.full(spark, root, "t", bak)
    assert(m1.watermark == 2L)
    // second generation lands above the watermark; a BACK-DATED write
    // at version <= watermark is outside the incremental guarantee
    seed(root, "t", Seq(("a", 10L), ("c", 11L)))
    val m2 = Backup.incremental(spark, root, "t", bak)
    assert(m2.watermark == 11L && m2.increments == Vector("incr-0"))
    val incr = spark.read.parquet(s"$bak/incr-0")
    assert(incr.count() == 2L)
    assert(incr.agg(min(col("version"))).collect()(0).getLong(0) == 10L)
    // third generation chains a second increment
    seed(root, "t", Seq(("d", 20L)))
    val m3 = Backup.incremental(spark, root, "t", bak)
    assert(m3.watermark == 20L && m3.increments == Vector("incr-0", "incr-1"))
    // the chained restore reproduces the live table cell-for-cell
    Backup.restore(spark, bak, dst)
    assert(state(dst, "t") == state(root, "t"))
  }

  test("empty increment keeps the watermark (null export-max folds to no-op)") {
    // pins the observe()-folded watermark path: an increment with no
    // post-watermark cells writes an empty export, whose max(version)
    // aggregate is NULL — the chain's watermark must not move
    val root = Files.createTempDirectory("bak-empty-src").toString
    val bak = Files.createTempDirectory("bak-empty-dir").toString
    seed(root, "t", Seq(("a", 7L)))
    val m1 = Backup.full(spark, root, "t", bak)
    assert(m1.watermark == 7L)
    val m2 = Backup.incremental(spark, root, "t", bak)
    assert(m2.watermark == 7L && m2.increments == Vector("incr-0"))
    assert(spark.read.parquet(s"$bak/incr-0").count() == 0L)
  }

  test("restore carries DDL + split layout and rebuilds via segments, not puts") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("bak-ddl-src").toString
    val bak = Files.createTempDirectory("bak-ddl-dir").toString
    val dst = Files.createTempDirectory("bak-ddl-dst").toString
    val points = (1 to 4).map(i => k(s"Z-$i"))
    val cells = (0 until 40).map(i => ("t", k(s"Z-${i % 5}-key-$i"), i.toLong, k(s"b$i")))
      .toDF("tableName", "rowkey", "version", "body")
    BulkLoad.writeCells(cells, root,
      BulkLoad.Config(tableSpec = TableSpec(maxVersions = 2), splitPoints = points))
    Backup.full(spark, root, "t", bak)
    Backup.restore(spark, bak, dst)
    assert(FileStore(dst).readSpecJson("t") == FileStore(root).readSpecJson("t"),
      "DDL must survive the round-trip byte-identically")
    assert(FileStore(dst).splitsOf("t").toJson == FileStore(root).splitsOf("t").toJson,
      "split layout must survive the round-trip")
    assert(state(dst, "t") == state(root, "t"))
    // restore physics: the rebuilt store holds ONLY bulk segments
    val files = Files.list(Paths.get(dst, "t")).iterator().asScala
      .filter(Files.isDirectory(_)).flatMap { s =>
        val l = Files.list(s)
        try l.iterator().asScala.map(_.getFileName.toString).toVector finally l.close()
      }.toVector
    assert(files.nonEmpty && files.forall(CellSegment.isSegment),
      "restore never replays puts — segments only")
  }

  test("a backup chain refuses a different table name") {
    val root = Files.createTempDirectory("bak-name-src").toString
    val bak = Files.createTempDirectory("bak-name-dir").toString
    seed(root, "t", Seq(("a", 1L)))
    Backup.full(spark, root, "t", bak)
    val ex = intercept[IllegalArgumentException] {
      Backup.incremental(spark, root, "other", bak)
    }
    assert(ex.getMessage.contains("other"))
  }
}
