package graft.ingest

import graft.GraftSession
import graft.core.{Crypto, Envelope}
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.Base64
import java.util.zip.GZIPOutputStream

/** Ingestion throughput probe: generates N encrypted+gzipped dump files
  * of M records each, runs the full pipeline (decode → transform → both
  * sinks), prints one JSON line with records/sec. The reference
  * processes files on 10 threads; this measures the same work
  * partition-per-file across local[SPARK_GRAFT_CPUS] (default 4).
  *
  * Run: sbt "runMain graft.ingest.IngestBench 40 2000"
  */
object IngestBench {

  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(40)
    val recordsPerFile = args.lift(1).map(_.toInt).getOrElse(2000)

    val tmp = Files.createTempDirectory("graft-ingest-bench")
    val key = Base64.getEncoder.encodeToString(Array.tabulate[Byte](16)(i => (i + 1).toByte))
    (1 to nFiles).foreach { n =>
      val sb = new StringBuilder
      (0 until recordsPerFile).foreach { j =>
        sb.append(
          s"""{"_id": {"someId": "id-$n-$j", "declarationId": "db-1.coll-1.$n-$j"}, "type": "addressDeclaration", """ +
          s""""contractId": "c-$j", "postcode": "SM5 2LE", "createdDateTime": {"$$date": "2015-03-20T12:23:25.183Z"}, """ +
          s""""_version": 2, "_lastModifiedDateTime": {"$$date": "2018-12-01T15:01:02.${"%03d".format(j % 1000)}Z"}}""").append('\n')
      }
      val gz = new ByteArrayOutputStream()
      val go = new GZIPOutputStream(gz)
      go.write(sb.toString.getBytes("UTF-8")); go.close()
      val enc = Crypto.encrypt(key, gz.toByteArray, Crypto.secureRandomIvSource())
      val stem = f"db-1.coll-1.$n%04d.json"
      Files.write(tmp.resolve(s"$stem.gz.enc"), Base64.getDecoder.decode(enc.encrypted))
      Files.write(tmp.resolve(s"$stem.encryption.json"),
        (s"""{"keyEncryptionKeyId": "stub:1,2", "plaintextDatakey": "$key", """ +
         s""""encryptedEncryptionKey": "u", "initialisationVector": "${enc.initialisationVector}"}""").getBytes("UTF-8"))
    }

    val spark = GraftSession.local()
    // phase 1: decode + transform only (cache materialization)
    val keys = StubKeyService()
    val identity = Envelope.RunIdentity.live("bench", "bench")
    val t0 = System.nanoTime()
    val tasks = IngestPipeline.planTasks(spark, Seq(tmp.toString))
    val rows = IngestPipeline.ingest(spark, tasks, keys, identity).cache()
    val decoded = rows.count()
    val t1 = System.nanoTime()
    // phase 2: sinks off the cached rows
    val put = IngestPipeline.writeTableSink(rows, tmp.resolve("cells").toString)
    val t2 = System.nanoTime()
    IngestPipeline.writeManifests(rows, tmp.resolve("manifests").toString)
    val t3 = System.nanoTime()
    // phase 3: cell-store write paths head to head on the same cached
    // rows — per-batch puts (PushTableSink) vs the HFile-style sorted
    // bulk load (one shuffle, sorted segments, atomic flip-in)
    val pushRoot = tmp.resolve("store_push").toString // String: the factory closure ships to executors
    val pushed = PushTableSink.write(rows, () => FileStore(pushRoot))
    val t4 = System.nanoTime()
    val bulk = BulkLoad.write(rows, tmp.resolve("store_bulk").toString)
    val t5 = System.nanoTime()
    rows.unpersist()
    require(pushed == bulk.cells, s"push/bulk cell counts diverge: $pushed vs ${bulk.cells}")
    // phase 4: the F5 absent-key existence sweep against the bulk
    // store — the common ingest probe — with the per-segment ROW bloom
    // on vs off, in the AT-SCALE regime: the index cache is pinched to
    // hold (near) nothing, which is what a 100 TB table does to a
    // 64 MB cache. Without the bloom every absent probe re-reads its
    // shard's segment index from disk; with it, zero index I/O — the
    // reported index-read counters are the direct evidence.
    val store = FileStore(tmp.resolve("store_bulk").toString)
    val bulkTable = rows.select("tableName").distinct().collect().map(_.getString(0)).head
    val absent = (0 until 20000).map(i =>
      PushTableSink.CellPut(bulkTable, s"absent-$i".getBytes("UTF-8"), 1L, Array.emptyByteArray))
    val prevCap = CellSegment.setIndexCacheMaxBytes(1024)
    CellSegment.setBloomDisabled(true)
    require(store.exists(bulkTable, absent).forall(_ == false)) // warm page cache + blooms
    val ir0 = CellSegment.indexReads.get()
    val t6 = System.nanoTime()
    require(store.exists(bulkTable, absent).forall(_ == false))
    val t7 = System.nanoTime()
    val indexReadsOff = CellSegment.indexReads.get() - ir0
    CellSegment.setBloomDisabled(false)
    require(store.exists(bulkTable, absent).forall(_ == false)) // warm blooms
    val ir1 = CellSegment.indexReads.get()
    val t8 = System.nanoTime()
    require(store.exists(bulkTable, absent).forall(_ == false))
    val t9 = System.nanoTime()
    val indexReadsOn = CellSegment.indexReads.get() - ir1
    CellSegment.setIndexCacheMaxBytes(prevCap)
    val probeOffSec = (t7 - t6) / 1e9
    val probeOnSec = (t9 - t8) / 1e9
    val total = nFiles.toLong * recordsPerFile
    val decodeSec = (t1 - t0) / 1e9
    val allSec = (t3 - t0) / 1e9
    val pushSec = (t4 - t3) / 1e9
    val bulkSec = (t5 - t4) / 1e9
    println(s"""{"metric":"ingest_records_per_sec","value":${(total / allSec).round},"unit":"rec/sec",""" +
      s""""records":$total,"files":$nFiles,"decoded":$decoded,"put":$put,""" +
      s""""decode_sec":$decodeSec,"table_sink_sec":${(t2 - t1) / 1e9},"manifest_sec":${(t3 - t2) / 1e9},"total_sec":$allSec,""" +
      s""""push_store_sec":$pushSec,"bulk_load_sec":$bulkSec,"bulk_segments":${bulk.segments.size},""" +
      s""""push_cells_per_sec":${(pushed / pushSec).round},"bulk_cells_per_sec":${(bulk.cells / bulkSec).round},""" +
      s""""absent_probes":${absent.size},"absent_probe_bloom_off_sec":$probeOffSec,""" +
      s""""absent_probe_bloom_on_sec":$probeOnSec,"bloom_probe_speedup":${(probeOffSec / probeOnSec * 100).round / 100.0},""" +
      s""""index_reads_bloom_off":$indexReadsOff,"index_reads_bloom_on":$indexReadsOn}""")
    spark.stop()
  }
}
