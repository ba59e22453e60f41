package graft.ingest

import graft.SparkSuite
import graft.ingest.IngestPipeline.{IngestedRow, Status}
import graft.ingest.PushTableSink._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The durable file-backed Store: DDL recording, read-your-writes
  * existence, atomic cell puts, maxVersions pruning — and the full
  * PushTableSink.write path over it, including convergence after a
  * transient putBatch failure mid-write (the kill-retry case). */
class FileStoreSpec extends AnyFunSuite with SparkSuite {

  override protected def threads = 2

  private def cell(table: String, key: String, version: Long, body: String) =
    CellPut(table, key.getBytes("UTF-8"), version, body.getBytes("UTF-8"))

  test("ensureTable records the DDL once, idempotently") {
    val root = Files.createTempDirectory("fs-ddl").toString
    val store = FileStore(root)
    store.ensureTable("ns:tbl", TableSpec())
    store.ensureTable("ns:tbl", TableSpec(maxVersions = 1)) // second call must not overwrite
    val json = store.readSpecJson("ns:tbl").get
    assert(json.contains(s""""maxVersions":${Int.MaxValue}"""))
    assert(json.contains(""""compression":"GZ""""))
    assert(json.contains(""""regionReplication":3"""))
  }

  test("ensureSplits: refused on a populated table, idempotent on a recorded one, race-checked") {
    val root = Files.createTempDirectory("fs-splits").toString
    val store = FileStore(root)
    val layout = FileStore.Splits.ofSplitPoints(Seq("m".getBytes("UTF-8")))
    // cells already placed under the default layout: re-pointing the
    // regions would make them invisible to point GETs — must throw
    store.ensureTable("pop", TableSpec())
    store.putBatch("pop", Seq(cell("pop", "a-key", 1L, "b")))
    val ex = intercept[IllegalArgumentException] {
      store.ensureSplits("pop", layout)
    }
    assert(ex.getMessage.contains("already holds cells"))
    // a lone tombstone counts as state too (it must keep masking)
    store.ensureTable("tomb", TableSpec())
    store.deleteCells("tomb", Seq(("a-key".getBytes("UTF-8"), 1L)))
    assert(intercept[IllegalArgumentException] {
      store.ensureSplits("tomb", layout)
    }.getMessage.contains("already holds cells"))
    // empty table: records once; identical re-ensure is a no-op even
    // after cells land; a DIFFERENT layout still throws
    store.ensureTable("fresh", TableSpec())
    store.ensureSplits("fresh", layout)
    store.putBatch("fresh", Seq(cell("fresh", "a-key", 1L, "b")))
    store.ensureSplits("fresh", layout) // recorded + identical: fine
    assert(intercept[IllegalArgumentException] {
      store.ensureSplits("fresh", FileStore.Splits.ofSplitPoints(Seq("x".getBytes("UTF-8"))))
    }.getMessage.contains("different split layout"))
    // the default layout is never materialized and never checked
    FileStore(root).ensureSplits("pop", FileStore.Splits.Default)
  }

  test("put / exists are read-your-writes; bodies round-trip; re-put replaces") {
    val root = Files.createTempDirectory("fs-rw").toString
    val store = FileStore(root)
    store.ensureTable("db:t", TableSpec())
    val a = cell("db:t", "k1", 10L, "body-a")
    val b = cell("db:t", "k1", 20L, "body-b")
    assert(store.exists("db:t", Seq(a, b)) == Seq(false, false))
    store.putBatch("db:t", Seq(a))
    assert(store.exists("db:t", Seq(a, b)) == Seq(true, false))
    store.putBatch("db:t", Seq(b))
    val cells = store.scanTable("db:t").sortBy(_._2)
    assert(cells.map(c => (c._2, new String(c._3, "UTF-8"))) == Seq((10L, "body-a"), (20L, "body-b")))
    // same (key, version) again replaces atomically, no duplicate cell
    store.putBatch("db:t", Seq(a.copy(body = "body-a2".getBytes("UTF-8"))))
    val again = store.scanTable("db:t").sortBy(_._2)
    assert(again.size == 2 && new String(again.head._3, "UTF-8") == "body-a2")
  }

  test("maxVersions prunes the oldest versions past the cap, like HBase version GC") {
    val root = Files.createTempDirectory("fs-ver").toString
    val store = FileStore(root)
    store.ensureTable("db:v", TableSpec(maxVersions = 2))
    (1L to 5L).foreach(v => store.putBatch("db:v", Seq(cell("db:v", "k", v, s"v$v"))))
    val kept = store.scanTable("db:v").map(_._2).sorted
    assert(kept == Seq(4L, 5L))
  }

  test("PushTableSink.write over FileStore converges after a transient putBatch failure") {
    val root = Files.createTempDirectory("fs-retry").toString
    FileStoreSpec.failuresLeft.set(1) // first putBatch in the JVM throws
    val sp = spark; import sp.implicits._
    val rows = (1 to 6).map { i =>
      IngestedRow(s"/f$i", i.toLong, "db", "c", "db:c", "m.csv", Status.Ok,
        s"key-$i".getBytes("UTF-8"), 100L + i, s"""{"body":$i}""", "T", "line", "DoNotFilter", "")
    }.toDS()
    val put = PushTableSink.write(rows, () => FileStoreSpec.FlakyFileStore(root),
      Config(putPolicy = Retry.Policy.immediate))
    assert(put == 6L)
    val store = FileStore(root)
    assert(store.scanTable("db:c").size == 6)
    // re-run: existence skip makes the replay put nothing new
    val putAgain = PushTableSink.write(rows, () => FileStore(root), Config())
    assert(putAgain == 0L)
    assert(store.scanTable("db:c").size == 6)
  }
}

object FileStoreSpec {
  /** JVM-wide so the executor-side store instances share the fuse in
    * local mode. */
  val failuresLeft = new AtomicInteger(0)

  final case class FlakyFileStore(root: String) extends Store {
    private val inner = FileStore(root)
    override def ensureTable(t: String, s: TableSpec): Unit = inner.ensureTable(t, s)
    override def exists(t: String, cells: Seq[CellPut]): Seq[Boolean] = inner.exists(t, cells)
    override def putBatch(t: String, cells: Seq[CellPut]): Unit = {
      if (failuresLeft.getAndDecrement() > 0)
        throw new RuntimeException("transient store outage")
      inner.putBatch(t, cells)
    }
  }
}
