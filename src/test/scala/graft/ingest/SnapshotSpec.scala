package graft.ingest

import graft.SparkSuite
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** ZERO-COPY SNAPSHOT/CLONE ([[Snapshots]]): link-pinned immutability
  * against every destructive verb, clone independence, name
  * uniqueness, and the in-place-UPDATE inode split. */
class SnapshotSpec extends AnyFunSuite with SparkSuite {

  private def seed(root: String, table: String): Unit = {
    val store = FileStore(root)
    store.ensureTable(table, TableSpec(compactionThreshold = 0))
    (0 until 6).foreach { i =>
      store.putBatch(table, Seq(
        CellPut(table, s"k$i".getBytes, 1L, s"v1-$i".getBytes),
        CellPut(table, s"k$i".getBytes, 2L, s"v2-$i".getBytes)))
    }
  }

  private def view(root: String, table: String): Set[(String, Long, String)] =
    FileStore(root).scanTable(table)
      .map { case (k, v, b) => (k, v, new String(b, "UTF-8")) }.toSet

  test("a snapshot survives TRUNCATE, bare DELETE, and a GC major byte-identically") {
    val root = Files.createTempDirectory("snap-basic").toString
    seed(root, "t")
    val before = view(root, "t")
    assert(before.size == 12)
    val m = Snapshots.create(root, "t", "s1")
    assert(m.files == 12)
    def snapView = {
      val sr = Snapshots.rootOf(root, "s1")
      FileStore(sr).scanTable("t").map { case (k, v, b) => (k, v, new String(b)) }.toSet
    }
    assert(snapView == before)
    // GC major under a harsh cap
    FileStore(root).alterMaxVersions("t", 1)
    Compaction.major(spark, root, "t")
    assert(view(root, "t").size == 6)
    assert(snapView == before, "the major only unlinked the table's names")
    // truncate the live table entirely
    FileStore(root).truncateTable("t")
    assert(view(root, "t").isEmpty)
    assert(snapView == before, "truncate only unlinked the table's names")
    // vacuum with age 0 collects nothing pinned
    Vacuum.sweep(root, 0L)
    assert(snapView == before)
    // drop releases
    assert(Snapshots.drop(root, "s1"))
    assert(Snapshots.list(root).isEmpty)
  }

  test("an in-place SQL-UPDATE-style re-put splits inodes: the snapshot keeps the old body") {
    val root = Files.createTempDirectory("snap-update").toString
    val store = FileStore(root)
    store.ensureTable("u", TableSpec(compactionThreshold = 0))
    store.putBatch("u", Seq(CellPut("u", "key".getBytes, 7L, "OLD".getBytes)))
    Snapshots.create(root, "u", "pin")
    // the re-put REPLACE-renames the live name onto a NEW inode
    store.putBatch("u", Seq(CellPut("u", "key".getBytes, 7L, "NEW".getBytes)))
    assert(view(root, "u") == Set(("6b6579", 7L, "NEW")))
    val sr = Snapshots.rootOf(root, "pin")
    val snap = FileStore(sr).scanTable("u").map { case (_, v, b) => (v, new String(b)) }
    assert(snap == Seq((7L, "OLD")), "the snapshot's link kept the old inode")
  }

  test("clone is independent both ways; snapshot names are unique; clone refuses existing tables") {
    val root = Files.createTempDirectory("snap-clone").toString
    seed(root, "a")
    val before = view(root, "a")
    Snapshots.create(root, "a", "s")
    intercept[IllegalArgumentException](Snapshots.create(root, "a", "s"))
    val linked = Snapshots.clone(root, "s", "b")
    assert(linked == 12)
    assert(view(root, "b") == before)
    intercept[IllegalArgumentException](Snapshots.clone(root, "s", "b"))
    // mutate the clone — original and snapshot untouched
    FileStore(root).putBatch("b", Seq(CellPut("b", "k0".getBytes, 9L, "clonewrite".getBytes)))
    FileStore(root).deleteCells("b", Seq(("k1".getBytes, 2L)))
    assert(view(root, "a") == before)
    // mutate the original — clone untouched beyond its own edits
    FileStore(root).deleteCells("a", Seq(("k2".getBytes, 2L)))
    assert(view(root, "b").exists(_._1 == "6b32"), "clone keeps k2")
    // drop the snapshot: both tables still serve (inode independence)
    assert(Snapshots.drop(root, "s"))
    assert(view(root, "b").exists(_._3 == "clonewrite"))
    assert(view(root, "a").size == before.size - 2) // k2's two masked
  }

  test("snapshots ride the catalog procedures and compose with time travel") {
    val root = Files.createTempDirectory("snap-proc").toString
    val cat = "snapc_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.CellsCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    seed(root, "t")
    val pinned = spark.sql(s"CALL $cat.snapshot(table => 't', name => 'sq')")
      .collect()(0).getLong(0)
    assert(pinned == 12)
    spark.sql(s"CALL $cat.clone_snapshot(name => 'sq', new_table => 'tc')")
    assert(spark.table(s"$cat.tc").count() == 12)
    // time travel over the CLONE = the as-of slice of the pinned set
    assert(spark.sql(s"SELECT count(*) FROM $cat.tc VERSION AS OF 1").collect()(0).getLong(0) == 6)
    assert(spark.sql(s"CALL $cat.drop_snapshot(name => 'sq')").collect()(0).getBoolean(0))
  }

  test("restore_snapshot: in-place two-rename restore — mutations undone, atomic vs readers, poisoned restore harmless") {
    val root = Files.createTempDirectory("snap-restore").toString
    seed(root, "t")
    val store = FileStore(root)
    val before = view(root, "t")
    Snapshots.create(root, "t", "sr")
    // mutate the live table every way: new puts, a delete, a GC major
    store.putBatch("t", Seq(CellPut("t", "k9".getBytes, 9L, "late".getBytes)))
    store.deleteCells("t", Seq(("k0".getBytes, 2L)))
    Compaction.major(spark, root, "t")
    assert(view(root, "t") != before)
    // restore: the view is snapshot-time byte-identical
    val files = Snapshots.restore(root, "sr")
    assert(files > 0)
    assert(view(root, "t") == before, "restore must return the snapshot-time view")
    // restored table is LIVE: writes land, the snapshot keeps pinning
    store.putBatch("t", Seq(CellPut("t", "k0".getBytes, 5L, "post".getBytes)))
    assert(view(root, "t").exists(_._3 == "post"))
    Snapshots.restore(root, "sr")
    assert(view(root, "t") == before, "a second restore converges again")
    // restore after DROP recreates the table in place
    org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(root, "t").toFile)
    Snapshots.restore(root, "sr")
    assert(view(root, "t") == before)
    // poisoned restore: an unknown snapshot never touches the live table
    intercept[IllegalArgumentException](Snapshots.restore(root, "nope"))
    assert(view(root, "t") == before)
  }

  test("restore_snapshot + list_snapshots ride the catalog procedures") {
    val root = Files.createTempDirectory("snap-proc2").toString
    val cat = "snapd_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.CellsCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    seed(root, "t")
    spark.sql(s"CALL $cat.snapshot(table => 't', name => 's1')")
    spark.sql(s"CALL $cat.snapshot(table => 't', name => 's2')")
    val listed = spark.sql(s"CALL $cat.list_snapshots()").collect()
    assert(listed.map(_.getString(0)).toSeq == Seq("s1", "s2"))
    assert(listed.forall(r => r.getString(1) == "t" && r.getLong(2) == 12))
    spark.sql(s"DELETE FROM $cat.t WHERE version = 1")
    assert(spark.table(s"$cat.t").count() == 6)
    val restored = spark.sql(s"CALL $cat.restore_snapshot(name => 's1')")
      .collect()(0).getLong(0)
    assert(restored == 12)
    assert(spark.table(s"$cat.t").count() == 12)
  }
}
