package graft.streaming

import graft.SparkSuite
import graft.ingest.{FileStore, PushTableSink}
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CDC state view — flatMapGroupsWithState over the change feed:
  * masked-view convergence across restarts (puts → delete → re-put),
  * exactly-one retraction for a fully-deleted key, retention-capped
  * per-key state, and in-batch version ordering (a put under a
  * same-batch delete bound is masked on arrival; one above survives). */
class CellStateViewSpec extends AnyFunSuite with SparkSuite {

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** one AvailableNow drain of the view; returns the run's UPDATE rows
    * (this run's deltas only). foreachBatch → parquet, because the
    * memory sink cannot RECOVER from a checkpoint and the whole point
    * here is restart-convergence on one checkpoint. */
  private def drain(root: String, table: String, ck: String,
                    maxVersions: Int = Int.MaxValue): Seq[(String, Long, String, Boolean)] = {
    val out = Files.createTempDirectory("csview-out").toString
    val feed = spark.readStream.format("graft-cells")
      .option("root", root).option("table", table)
      .option("changeFeed", "true").load()
    val q = CellStateView.view(feed, maxVersions).toDF()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(out)
      }
      .outputMode("update")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows =
      try spark.read.parquet(out).collect().map { r =>
        (new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"),
          r.getAs[Long]("version"),
          Option(r.getAs[Array[Byte]]("body")).map(new String(_, "UTF-8")).orNull,
          r.getAs[Boolean]("deleted"))
      }.toSeq
      catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty } // no batches fired
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    rows
  }

  test("converges across restarts: puts, delete retracts, re-put re-emerges") {
    val root = Files.createTempDirectory("csview").toString
    val ck = Files.createTempDirectory("csview-ck").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec())
    store.putBatch("t", Seq(
      CellPut("t", k("a"), 10L, k("a-10")),
      CellPut("t", k("a"), 20L, k("a-20")),
      CellPut("t", k("b"), 10L, k("b-10"))))
    val run1 = drain(root, "t", ck)
    assert(run1.toSet == Set(
      ("a", 10L, "a-10", false), ("a", 20L, "a-20", false), ("b", 10L, "b-10", false)))
    // delete a entirely (bound above every version): the next run
    // must emit EXACTLY a's retraction — b is untouched, no re-emission
    store.deleteCells("t", Seq((k("a"), 100L)))
    val run2 = drain(root, "t", ck)
    assert(run2 == Seq(("a", 100L, null, true)),
      s"one retraction for the deleted key, nothing else: $run2")
    // a re-put ABOVE the delete bound re-emerges with only the new cell
    store.putBatch("t", Seq(CellPut("t", k("a"), 200L, k("a-200"))))
    val run3 = drain(root, "t", ck)
    assert(run3 == Seq(("a", 200L, "a-200", false)), s"re-emergence: $run3")
  }

  test("in-batch version order: a put under the batch's delete bound masks, one above survives") {
    val root = Files.createTempDirectory("csview-order").toString
    val ck = Files.createTempDirectory("csview-order-ck").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec())
    // one batch carries (put 10, put 50, delete T=40): version-ordered
    // application masks 10, keeps 50 — the HBase marker rule
    store.putBatch("t", Seq(
      CellPut("t", k("x"), 10L, k("x-10")),
      CellPut("t", k("x"), 50L, k("x-50"))))
    store.deleteCells("t", Seq((k("x"), 40L)))
    // and a fully-covered sibling in the same batch
    store.putBatch("t", Seq(CellPut("t", k("y"), 10L, k("y-10"))))
    store.deleteCells("t", Seq((k("y"), 99L)))
    val rows = drain(root, "t", ck)
    assert(rows.toSet == Set(("x", 50L, "x-50", false), ("y", 99L, null, true)), s"$rows")
  }

  test("retraction is at-most-once per deletion: covered edits after the retraction stay silent") {
    val root = Files.createTempDirectory("csview-once").toString
    val ck = Files.createTempDirectory("csview-once-ck").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec())
    store.putBatch("t", Seq(CellPut("t", k("z"), 10L, k("z-10"))))
    store.deleteCells("t", Seq((k("z"), 50L)))
    val run1 = drain(root, "t", ck)
    assert(run1 == Seq(("z", 50L, null, true)), s"first deletion retracts once: $run1")
    // a LATER batch delivering only covered edits for the already-empty
    // key — a wider marker and a put under the bound — must NOT re-emit
    // the retraction (a downstream sink counting retractions would
    // double-count a single deletion)
    store.deleteCells("t", Seq((k("z"), 60L)))
    store.putBatch("t", Seq(CellPut("t", k("z"), 55L, k("z-55"))))
    val run2 = drain(root, "t", ck)
    assert(run2.isEmpty, s"no second retraction for one deletion: $run2")
    // a re-emergence then a NEW deletion retracts again — per deletion,
    // not per key-lifetime
    store.putBatch("t", Seq(CellPut("t", k("z"), 100L, k("z-100"))))
    val run3 = drain(root, "t", ck)
    assert(run3 == Seq(("z", 100L, "z-100", false)), s"re-emergence: $run3")
    store.deleteCells("t", Seq((k("z"), 150L)))
    val run4 = drain(root, "t", ck)
    assert(run4 == Seq(("z", 150L, null, true)), s"a new deletion retracts anew: $run4")
  }

  test("exact-version deletes (op='delete_version') drop exactly their version in the fold") {
    val root = Files.createTempDirectory("csview-exact").toString
    val ck = Files.createTempDirectory("csview-exact-ck").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec())
    // one window carries puts at 10/20/30 plus an exact delete of 20:
    // the view must serve 10 and 30 (a bound marker would kill 10 too)
    store.putBatch("t", Seq(
      CellPut("t", k("e"), 10L, k("e-10")),
      CellPut("t", k("e"), 20L, k("e-20")),
      CellPut("t", k("e"), 30L, k("e-30"))))
    store.deleteCellsExact("t", Seq((k("e"), 20L)))
    val rows = drain(root, "t", ck)
    assert(rows.toSet == Set(("e", 10L, "e-10", false), ("e", 30L, "e-30", false)),
      s"exactly version 20 vanishes, siblings survive: $rows")
    // an exact delete of the TOP version in the same window as its put:
    // the view falls back to the older survivor (order-independent
    // within the batch)
    store.putBatch("t", Seq(CellPut("t", k("e"), 40L, k("e-40"))))
    store.deleteCellsExact("t", Seq((k("e"), 40L)))
    val run2 = drain(root, "t", ck)
    assert(run2.toSet == Set(("e", 10L, "e-10", false), ("e", 30L, "e-30", false)),
      s"a same-window put+exact-delete annihilates, survivors re-emit: $run2")
  }

  test("a key emptied purely by exact-version deletes retracts at the max deleted version") {
    val root = Files.createTempDirectory("csview-exact-empty").toString
    val ck = Files.createTempDirectory("csview-exact-empty-ck").toString
    val store = FileStore(root)
    store.ensureTable("t", TableSpec())
    // puts AND their exact deletes inside ONE feed window (exact
    // markers stamp the puts' own versions, so a later window would
    // fall under the back-dated-write exclusion): the key's visible
    // set is empty, no bound marker ever set delBound — the retraction
    // must stamp the newest edit version (20), never Long.MinValue
    store.putBatch("t", Seq(
      CellPut("t", k("z"), 10L, k("z-10")),
      CellPut("t", k("z"), 20L, k("z-20"))))
    store.deleteCellsExact("t", Seq((k("z"), 10L), (k("z"), 20L)))
    val run = drain(root, "t", ck)
    assert(run == Seq(("z", 20L, null, true)),
      s"retraction carries the max deleted version, got $run")
  }

  test("maxVersions caps per-key state: only the newest cells are held and emitted") {
    val root = Files.createTempDirectory("csview-ret").toString
    val ck = Files.createTempDirectory("csview-ret-ck").toString
    val store = FileStore(root)
    // the STORE keeps everything (default DDL) — retention here is the
    // VIEW operator's own state cap
    store.ensureTable("t", TableSpec())
    store.putBatch("t", (1 to 5).map(v => CellPut("t", k("m"), v.toLong, k(s"m-$v"))))
    val rows = drain(root, "t", ck, maxVersions = 2)
    assert(rows.toSet == Set(("m", 4L, "m-4", false), ("m", 5L, "m-5", false)),
      s"view holds the newest 2 of 5: $rows")
  }
}
