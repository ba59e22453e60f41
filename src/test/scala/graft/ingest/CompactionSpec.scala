package graft.ingest

import graft.SparkSuite
import graft.ingest.IngestPipeline.{IngestedRow, Status}
import graft.ingest.PushTableSink.TableSpec
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Major compaction over a mixed store-file population: maxVersions GC
  * across per-cell puts AND bulk segments, TTL with minVersions=1,
  * post-compact file population (segments only), and idempotent
  * re-compaction. */
class CompactionSpec extends AnyFunSuite with SparkSuite {

  private def row(key: String, version: Long): IngestedRow =
    IngestedRow("/f", version, "db", "c", "db:c", "m.csv", Status.Ok,
      key.getBytes("UTF-8"), version, s"body-$key-$version", "MONGO_IMPORT", "line\n", "DoNotFilter", "")

  private def keys(n: Int): Seq[String] = (0 until n).map(i => s"${('A' + i % 19).toChar}-key-$i")

  private def listFiles(root: String): Seq[String] = {
    val dir = Paths.get(root, "db~c")
    val shards = Files.list(dir)
    try shards.iterator().asScala.filter(Files.isDirectory(_)).flatMap { s =>
      val l = Files.list(s)
      try l.iterator().asScala.map(_.getFileName.toString).toVector finally l.close()
    }.toVector
    finally shards.close()
  }

  test("major compaction GCs versions past maxVersions across put files and bulk segments") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-gc").toString
    val spec = TableSpec(maxVersions = 2)
    // versions 1-2 arrive by bulk, 3 by bulk again, 4 by push puts —
    // a mixed store-file population, no write-time pruning anywhere
    // (put-time pruning only sees per-cell files, and each key has one)
    BulkLoad.write(spark.createDataset(keys(50).flatMap(k => Seq(row(k, 1), row(k, 2)))), root,
      BulkLoad.Config(tableSpec = spec))
    BulkLoad.write(spark.createDataset(keys(50).map(row(_, 3))), root,
      BulkLoad.Config(tableSpec = spec))
    PushTableSink.write(spark.createDataset(keys(50).map(row(_, 4))), () => FileStore(root),
      PushTableSink.Config(tableSpec = spec))
    assert(FileStore(root).scanTable("db:c").size == 200, "4 versions per key pre-compaction")

    val report = Compaction.major(spark, root, "db:c")
    assert(report.keptCells == 100, "maxVersions=2 keeps the newest 2 of 4 per key")
    val state = FileStore(root).scanTable("db:c")
    assert(state.size == 100)
    assert(state.map(_._2).toSet == Set(3L, 4L), "kept versions are the newest two")
    // the store now holds ONLY fresh segments — every put file and old
    // segment was swept
    val files = listFiles(root)
    assert(files.nonEmpty && files.forall(CellSegment.isSegment),
      s"post-compact store must be segments only, got: ${files.filterNot(CellSegment.isSegment).take(3)}")
    assert(report.removedFiles > 0)
  }

  test("TTL compaction keeps fresh versions plus each key's latest (minVersions=1)") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-ttl").toString
    // stale key: all versions below cutoff -> keeps only its latest;
    // fresh key: versions straddle the cutoff -> keeps those >= cutoff
    BulkLoad.write(spark.createDataset(Seq(
      row("stale", 10), row("stale", 20),
      row("fresh", 90), row("fresh", 150), row("fresh", 200))), root)
    val report = Compaction.major(spark, root, "db:c", ttlCutoff = Some(100L))
    assert(report.keptCells == 3)
    val state = FileStore(root).scanTable("db:c").map(t => (new String(
      t._1.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray), t._2)).sorted
    assert(state == Seq(("fresh", 150L), ("fresh", 200L), ("stale", 20L)))
  }

  test("a put racing the sweep survives: only snapshot files are deletable") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-race").toString
    val spec = TableSpec(maxVersions = 2)
    BulkLoad.write(spark.createDataset(keys(40).flatMap(k => Seq(row(k, 1), row(k, 2), row(k, 3)))),
      root, BulkLoad.Config(tableSpec = spec))
    val store = FileStore(root)
    // the racing writer lands in the MOST exposed window: fresh
    // segments already flipped in, sweep not yet run — one brand-new
    // key and one new version of an existing key
    val racingNew = PushTableSink.CellPut("db:c", "RACE-new".getBytes("UTF-8"), 7L, "r1".getBytes)
    val racingVer = PushTableSink.CellPut("db:c", keys(1).head.getBytes("UTF-8"), 9L, "r2".getBytes)
    val report = Compaction.major(spark, root, "db:c",
      beforeSweep = () => store.putBatch("db:c", Seq(racingNew, racingVer)))
    assert(report.keptCells == 80, "retention still applies to the snapshot cells")
    val state = FileStore(root).scanTable("db:c")
    assert(state.size == 82, s"80 retained + 2 racing cells, got ${state.size}")
    def keyHex(s: String) = s.getBytes("UTF-8").map(b => f"$b%02x").mkString
    assert(state.exists(t => t._1 == keyHex("RACE-new") && t._2 == 7L),
      "racing new-key cell present")
    assert(state.exists(t => t._1 == keyHex(keys(1).head) && t._2 == 9L),
      "racing new-version cell present")
    // the connector face: the racing files were NOT swept, and the
    // racing new VERSION of an existing key pushes that key to 3 live
    // versions — read-time retention (r15) hides the oldest one
    // immediately (scanTable above is the raw store view and still
    // sees all 82), so the masked view is 80 + 2 racing − 1 over-cap
    val table = spark.read.format("graft-cells").option("root", root).option("table", "db:c").load()
    assert(table.count() == 81L)
    val nonSegment = listFiles(root).filterNot(CellSegment.isSegment)
    assert(nonSegment.size == 2, s"exactly the two racing put files survive: $nonSegment")
  }

  test("minor compaction merges puts + small segments locally, keeps all versions, skips big segments") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-minor").toString
    val spec = TableSpec(maxVersions = 2)
    // big segment generation (50 keys over many shards), then two
    // small bulk generations and a put generation per key
    BulkLoad.write(spark.createDataset(keys(50).map(row(_, 1))), root,
      BulkLoad.Config(tableSpec = spec))
    BulkLoad.write(spark.createDataset(keys(50).map(row(_, 2))), root,
      BulkLoad.Config(tableSpec = spec, maxSegmentBytes = 64)) // tiny segments
    PushTableSink.write(spark.createDataset(keys(50).map(row(_, 3))), () => FileStore(root),
      PushTableSink.Config(tableSpec = spec))
    val before = FileStore(root).scanTable("db:c").map(t => (t._1, t._2)).sorted
    val report = Compaction.minor(spark, root, "db:c", maxInputBytes = 256)
    assert(report.removedFiles > 0 && report.keptCells > 0)
    // NO retention: all 3 versions of every key survive (minor never GCs)
    val after = FileStore(root).scanTable("db:c").map(t => (t._1, t._2)).sorted
    assert(after == before, "minor compaction must preserve the cell population exactly")
    // no put files remain; every file is a segment
    val filesAfter = listFiles(root)
    assert(filesAfter.forall(CellSegment.isSegment),
      s"puts must be folded into segments: ${filesAfter.filterNot(CellSegment.isSegment).take(3)}")
    // idempotent: a second minor pass merges nothing further
    val report2 = Compaction.minor(spark, root, "db:c", maxInputBytes = 256)
    assert(report2.removedFiles == 0, "second minor pass must be a no-op on merged shards")
  }

  test("minor compaction STREAMS: in-core buffer is the put backlog, never the merged input") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-stream").toString
    // one shard (every key opens with 'Z'), two big bulk generations —
    // 800 segment-resident cells — plus a 5-cell put backlog
    val zkeys = (0 until 400).map(i => f"Z-key-$i%03d")
    BulkLoad.write(spark.createDataset(zkeys.map(row(_, 1))), root)
    BulkLoad.write(spark.createDataset(zkeys.map(row(_, 2))), root)
    PushTableSink.write(spark.createDataset(zkeys.take(5).map(row(_, 3))), () => FileStore(root),
      PushTableSink.Config())
    val before = FileStore(root).scanTable("db:c").map(t => (t._1, t._2)).sorted
    assert(before.size == 805)
    Compaction.minorMaxBuffered.set(0)
    // Long.MaxValue selects EVERY segment (the q221 serving-flush
    // call): the round-11 implementation buffered all 805 cells here
    val report = Compaction.minor(spark, root, "db:c", maxInputBytes = Long.MaxValue)
    assert(report.keptCells == 805 && report.removedFiles > 0)
    assert(Compaction.minorMaxBuffered.get() == 5,
      s"only the put backlog may be buffered in-core, got ${Compaction.minorMaxBuffered.get()}")
    val after = FileStore(root).scanTable("db:c").map(t => (t._1, t._2)).sorted
    assert(after == before, "streamed merge must preserve the cell population exactly")
    val filesAfter = listFiles(root)
    assert(filesAfter.size == 1 && filesAfter.forall(CellSegment.isSegment),
      s"one fresh segment replaces the whole shard population: $filesAfter")
  }

  test("minor compaction resolves an in-place UPDATE collision by put precedence") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-inplace").toString
    // a segment-resident cell…
    BulkLoad.write(spark.createDataset(Seq(row("A-key-0", 1), row("A-key-0", 2))), root)
    // …re-put IN PLACE with a different body (what SQL UPDATE does):
    // one identity, two bodies across store-file kinds — the read path
    // already prefers the put; the minor merge must pick the same
    // winner instead of throwing "two bodies for one cell"
    FileStore(root).putBatch("db:c",
      Seq(PushTableSink.CellPut("db:c", "A-key-0".getBytes("UTF-8"), 2L, "UPDATED".getBytes("UTF-8"))))
    val rep = Compaction.minor(spark, root, "db:c", maxInputBytes = Long.MaxValue)
    assert(rep.keptCells == 2, s"collision collapses to one cell per identity: $rep")
    val bodies = FileStore(root).scanTable("db:c").map(t => (t._2, new String(t._3, "UTF-8"))).toMap
    assert(bodies(2L) == "UPDATED", "the put body must win the merged segment")
    assert(bodies(1L) == "body-A-key-0-1", "untouched sibling version keeps its body")
    val files = listFiles(root)
    assert(files.size == 1 && files.forall(CellSegment.isSegment), s"one merged segment: $files")
  }

  test("a minor-merged update outranks the stale copy left in an unmerged segment") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-prec").toString
    // one key → one shard; 40 versions make the segment's data region
    // far larger than the 256-byte minor threshold below
    BulkLoad.write(spark.createDataset((1 to 40).map(v => row("A-key-0", v.toLong))), root)
    FileStore(root).putBatch("db:c",
      Seq(PushTableSink.CellPut("db:c", "A-key-0".getBytes("UTF-8"), 40L, "UPDATED".getBytes("UTF-8"))))
    // the minor merges ONLY the put backlog (the big segment is over
    // the threshold): the collision now spans TWO SEGMENTS, and the
    // fresh one's trailer seqNo must outrank the stale copy
    Compaction.minor(spark, root, "db:c", maxInputBytes = 256)
    val files = listFiles(root)
    assert(files.count(CellSegment.isSegment) == 2 && files.size == 2,
      s"put folded into a fresh segment beside the big one: $files")
    def bodyAt40(): String = {
      val m = FileStore(root).scanTable("db:c").map(t => (t._2, new String(t._3, "UTF-8"))).toMap
      assert(m.size == 40); m(40L)
    }
    assert(bodyAt40() == "UPDATED", "newer segment generation wins the identity")
    // the connector face picks the same winner
    val viaScan = spark.read.format("graft-cells").option("root", root).option("table", "db:c")
      .load().where("version = 40").select("body").as[Array[Byte]].collect()
    assert(viaScan.map(new String(_, "UTF-8")).toSeq == Seq("UPDATED"))
    // a later full merge (both segments now inputs) keeps the winner
    Compaction.minor(spark, root, "db:c", maxInputBytes = Long.MaxValue)
    assert(bodyAt40() == "UPDATED", "segment-vs-segment merge honors seqNo precedence")
  }

  test("TTL major honors the DDL's minVersions floor, not a hardcoded 1") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-minv").toString
    val spec = TableSpec(minVersions = 2)
    BulkLoad.write(spark.createDataset(keys(20).flatMap(k => Seq(row(k, 1), row(k, 2), row(k, 3)))),
      root, BulkLoad.Config(tableSpec = spec))
    // everything is past the cutoff: TTL alone would drop all three
    // versions, the declared floor keeps the newest TWO per key
    Compaction.major(spark, root, "db:c", ttlCutoff = Some(100L))
    val byKey = FileStore(root).scanTable("db:c").groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    assert(byKey.size == 20)
    assert(byKey.values.forall(_ == Seq(2L, 3L)),
      s"minVersions=2 keeps the two newest expired versions, got ${byKey.values.take(3)}")
  }

  test("re-compacting a compacted table is a no-op (idempotent maintenance)") {
    val sp = spark; import sp.implicits._
    val root = Files.createTempDirectory("compact-idem").toString
    BulkLoad.write(spark.createDataset(keys(30).flatMap(k => Seq(row(k, 1), row(k, 2)))), root)
    Compaction.major(spark, root, "db:c")
    val filesAfterFirst = listFiles(root).sorted
    val report2 = Compaction.major(spark, root, "db:c")
    assert(report2.removedFiles == 0, "second compaction must sweep nothing")
    assert(listFiles(root).sorted == filesAfterFirst, "segment set unchanged")
    assert(FileStore(root).scanTable("db:c").size == 60)
  }
}
