package graft.ingest

import graft.SparkSuite
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** REPLACE-BY-COORDINATE vs ABSORB-AND-DELETE (r17 — the real root
  * cause of q255's rare MV undercount): maintenance that folds put
  * files into segments (the flush hook, minors, the major's sweep)
  * reads a put's bytes and later deletes its PATH. An in-place
  * overwrite (streaming upsert MV, SQL in-place UPDATE) re-renames a
  * NEW body onto that same path; unguarded, the delete discards the
  * new body with the old path — a silent lost update. The fix: a
  * replacing rename and every absorb→delete window share the shard's
  * maintenance monitor, so the replace lands strictly before the
  * absorb (bytes absorbed) or strictly after the delete (fresh put
  * file, outranks the segment). These tests drive the exact
  * interleaving deterministically through [[FileStore.absorbProbe]].
  */
class FlushReplaceRaceSpec extends AnyFunSuite with SparkSuite {

  override protected def threads = 2

  test("a replace landing inside the flush's absorb window is never lost") {
    val root = Files.createTempDirectory("flush-race").toString
    val store = FileStore(root)
    // threshold 2: three puts in one batch trigger the flush hook
    store.ensureTable("t", TableSpec(compactionThreshold = 2))
    val k = "mv-key".getBytes("UTF-8")
    // seed the coordinate that will be replaced; fillers share the
    // first byte (one region) so one flush absorbs them all together
    store.putBatch("t", Seq(CellPut("t", k, 0L, "old".getBytes)))
    val replaceDone = new java.util.concurrent.CountDownLatch(1)
    val probeHit = new java.util.concurrent.atomic.AtomicBoolean(false)
    var replacer: Thread = null
    FileStore.absorbProbe = { _ =>
      // we are INSIDE the absorb→delete window, holding the shard
      // monitor: fire the replace from another thread. It must BLOCK
      // (the guard) — give it real time to land if the guard were
      // absent, then proceed to the delete phase.
      if (probeHit.compareAndSet(false, true)) {
        replacer = new Thread(() => {
          FileStore(root).putBatch("t", Seq(CellPut("t", k, 0L, "new".getBytes)))
          replaceDone.countDown()
        })
        replacer.start()
        assert(!replaceDone.await(400, java.util.concurrent.TimeUnit.MILLISECONDS),
          "the replacing rename must wait out the absorb window")
      }
    }
    try {
      // the flush: the ACCUMULATED backlog (seed + these two, staged
      // ≤ threshold per batch so the direct memstore-flush fast path
      // stays out of the way — r17) crosses the threshold in the
      // post-commit hook; the absorb set includes mv-key's put at
      // (k, 0) holding 'old'
      store.putBatch("t", Seq(
        CellPut("t", "mv-fill-1".getBytes, 1L, "f1".getBytes),
        CellPut("t", "mv-fill-2".getBytes, 2L, "f2".getBytes)))
    } finally FileStore.absorbProbe = _ => ()
    assert(probeHit.get(), "the flush must have fired through the seam")
    assert(replaceDone.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "the replace must land once the window closes")
    replacer.join()
    // the replaced body SERVES — under the pre-fix interleaving the
    // delete phase removed the new put with the old path and the
    // segment's 'old' body served instead
    assert(store.getLatest("t", k).map(p => new String(p._2)).contains("new"),
      "the replace-by-coordinate body must survive the flush")
    // and it survives on every read face, not just the point read
    val all = store.scanTable("t")
    assert(all.exists { case (_, v, b) => v == 0L && new String(b) == "new" },
      s"scan face lost the replace: ${all.map { case (d, v, b) => (d.take(6), v, new String(b)) }}")
  }

  test("the major's sweep skips a put whose path was replaced since its scan (stamp mismatch)") {
    val root = Files.createTempDirectory("major-race").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec(compactionThreshold = 0))
    val k = "upd-key".getBytes("UTF-8")
    store.putBatch("t", Seq(CellPut("t", k, 0L, "old".getBytes)))
    store.putBatch("t", Seq(CellPut("t", "other".getBytes, 1L, "x".getBytes)))
    // the beforeSweep seam is exactly the scan→sweep gap: replace
    // the put's path after the rewrite absorbed 'old'
    Compaction.major(spark, root, "t", beforeSweep = () =>
      store.putBatch("t", Seq(CellPut("t", k, 0L, "new".getBytes))))
    assert(store.getLatest("t", k).map(p => new String(p._2)).contains("new"),
      "the sweep must not delete a path replaced since the scan")
    // the skipped put is the serving winner over the rewritten
    // segment; a follow-up major (no race) absorbs it cleanly
    Compaction.major(spark, root, "t")
    assert(store.getLatest("t", k).map(p => new String(p._2)).contains("new"))
  }
}
