package graft.perfbench

import graft.core.{Envelope, JObj, JStr, Json}
import graft.core.RecordProcessor
import graft.ingest.{FileStore, HttpKeyService, IngestPipeline, ManifestStore, PushTableSink}
import graft.ingest.IngestPipeline.{RunMode, RunResult}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** `import_fresh`: the paper's job, [[IngestPipeline.run]] in
  * ImportAndManifest mode with the FileStore push sink, over seeded
  * encrypted dumps whose keys resolve through the loopback key service.
  * Every pass lands into an empty store. */
final class Imports(spark: SparkSession, a: Main.Args, checks: Main.Checks) extends Workload {
  import Imports._

  private val dks = new Dks(a.seed)
  private val keys = HttpKeyService(dks.url)
  private val work = a.work.resolve("import")
  private var dump: Gen.Dump = _
  private var genS = 0.0

  override def close(): Unit = dks.close()

  def setup(): Seq[(String, Double)] = {
    Main.deleteTree(work)
    // generation is repeated and its median taken; the warm-up runs once
    val gens = (0 until 3).map { i =>
      val dir = work.resolve(s"in-$i")
      val (d, s) = Main.time(Gen.dumps(dir, a.seed, Shape))
      if (i < 2) Main.deleteTree(dir) else dump = d
      s
    }
    genS = Main.median(gens)
    // warm-up: a fresh import of a small dump (JIT, codegen and the key
    // cache settle)
    val (_, warmS) = Main.time {
      val small = Gen.dumps(work.resolve("warm-in"), a.seed + 1, WarmShape)
      val r = run(work.resolve("warm"), work.resolve("warm-manifests"), input = small.dir)
      checks(r.put == small.ok.size, s"warm-up put ${r.put} of ${small.ok.size}")
      Main.deleteTree(work.resolve("warm"))
    }
    Seq("generate" -> genS, "warm_up" -> warmS)
  }

  private def run(store: Path, manifests: Path, k: graft.ingest.KeyService = keys,
                  wrap: PushTableSink.Store => PushTableSink.Store = identity, input: Path = dump.dir): RunResult = {
    val root = store.toString
    IngestPipeline.run(spark, Seq(input.toString), tableSinkDir = "", manifestDir = manifests.toString,
      keys = k, identity = Envelope.RunIdentity.live("perfbench", "perfbench"),
      runMode = RunMode.ImportAndManifest, pushStore = Some(() => wrap(FileStore(root))))
  }

  /** The run's W7 counters against the generator's expected counts. */
  private def check(r: RunResult, what: String): Boolean = {
    val ok = dump.ok.size.toLong
    checks(r.recordsProcessed == ok && r.skippedMissingId == dump.count(Gen.Kind.MissingId) &&
      r.skippedMalformed == dump.count(Gen.Kind.Malformed) && r.unreadableFiles == 0 &&
      r.filesProcessed == dump.files && r.put == ok && r.filteredExisting == 0,
      s"$what counters $r, expected ok=$ok missing=${dump.count(Gen.Kind.MissingId)} " +
        s"malformed=${dump.count(Gen.Kind.Malformed)} files=${dump.files}")
  }

  private def storeFor(pass: Int): Path = work.resolve(s"store-$pass")

  def timed(): Main.Result = {
    val timed = Main.passes(a.seconds) { i =>
      check(run(storeFor(i), work.resolve(s"manifests-$i")), s"pass $i")
    }
    val lastStore = storeFor(timed.walls.size - 1)
    contentChecks(lastStore, work.resolve(s"manifests-${timed.walls.size - 1}"))
    val storeBytes = dirBytes(lastStore)
    Main.Result(timed.metrics,
      Seq("workload" -> Name) ++ timed.detail(dump.ok.size, "import_records_per_s") ++ Seq(
        "store_bytes_per_input_byte" -> storeBytes.toDouble / dump.decompressedBytes,
        "records_per_pass" -> dump.ok.size, "files" -> dump.files, "lines" -> dump.lines.size,
        "decompressed_bytes" -> dump.decompressedBytes, "store_bytes" -> storeBytes, "generate_s" -> genS))
  }

  /** Manifest lines = OK records; store cells = expected cells; a seeded
    * sample of cells decrypts to the single-thread reference. */
  private def contentChecks(store: Path, manifests: Path): Unit = {
    val lines = Files.list(manifests).iterator().asScala.filter(_.getFileName.toString.endsWith(".csv"))
      .map(p => Files.readAllLines(p).size.toLong).sum
    checks(lines == dump.ok.size, s"manifest lines $lines != ok records ${dump.ok.size}")
    val fs = FileStore(store.toString)
    val cells = Imports.tables(dump).toSeq.map(t => fs.scanTable(t).size.toLong).sum
    checks(cells == dump.ok.size, s"store cells $cells != expected ${dump.ok.size}")
    Imports.sampleDecrypts(fs, dump, a.seed, 40, checks)
  }

  def traced(): Main.Result = {
    // two untraced passes, then the same pass traced: the difference to
    // the faster untraced pass is the tracing overhead
    val untracedS = (0 to 1).map { i =>
      val (_, s) = Main.time(check(run(storeFor(100 + 10 * i), work.resolve(s"m-untraced-$i")), "untraced pass"))
      Main.deleteTree(storeFor(100 + 10 * i))
      s
    }.min
    val listen = new Listen(spark)
    Trace.enabled = true
    val ir0 = graft.ingest.CellSegment.indexReads.get()
    val (runRes, w) = listen.around {
      Trace.span("ingest.run") {
        run(storeFor(101), work.resolve("m-traced"), Trace.Keys(keys), Trace.Cells(_))
      }
    }
    val runSpan = Trace.lastDriverSpan
    w.recordJobs(runSpan)
    check(runRes, "traced pass")
    val runS = Trace.busy("ingest.run")
    val probeCells = Trace.counter("ingest.store.exists_cells")
    val indexReads = graft.ingest.CellSegment.indexReads.get() - ir0
    val residue = runS - Trace.covered(
      Trace.all.filter(s => s.parent == runSpan).map(s => (s.startNs, s.endNs)),
      Trace.all.find(_.id == runSpan).get.startNs, Trace.all.find(_.id == runSpan).get.endNs)
    val storeDir = storeFor(101)
    val layout = Imports.layout(storeDir)
    val runMetrics = Seq(
      "ingest.keys.calls" -> Trace.counter("ingest.keys.calls"),
      "ingest.keys.busy_s" -> (Trace.busy("ingest.keys.decryptKey") + Trace.busy("ingest.keys.batchDataKey")),
      "ingest.store.put_batches" -> Trace.counter("ingest.store.put_batches"),
      "ingest.store.put_busy_s" -> Trace.busy("ingest.store.putBatch"),
      "ingest.store.cells_put" -> Trace.counter("ingest.store.cells_put"),
      "ingest.store.exists_cells" -> probeCells,
      "ingest.store.exists_busy_s" -> Trace.busy("ingest.store.exists"),
      "ingest.store.exists_hit_ratio" -> Trace.counter("ingest.store.exists_hits") / math.max(1.0, probeCells),
      "ingest.segment.index_reads" -> indexReads.toDouble,
      "ingest.segment.index_reads_per_probe" -> indexReads / math.max(1.0, probeCells),
      "ingest.store.put_files" -> layout._1.toDouble,
      "ingest.store.segments" -> layout._2.toDouble,
      "ingest.store.bytes" -> layout._3.toDouble,
      "ingest.run.residue_s" -> residue,
      "spark.executor_cpu_s" -> w.cpuSeconds, "spark.gc_s" -> w.gcSeconds,
      "spark.shuffle_write_bytes" -> w.shuffleWrite.toDouble, "spark.spill_bytes" -> w.spill.toDouble,
      "spark.tasks" -> w.tasks.size.toDouble)
    // the run's parts, each through its own public call
    val tasks = Trace.span("ingest.catalog.planTasks")(IngestPipeline.planTasks(spark, Seq(dump.dir.toString)))
    val planS = Trace.busy("ingest.catalog.planTasks")
    val rows = IngestPipeline.ingest(spark, tasks, Trace.Keys(keys), Envelope.RunIdentity.live("perfbench", "perfbench")).cache()
    val (_, stage) = listen.around(Trace.span("ingest.pipeline.ingest")(rows.count()))
    val stageSpan = Trace.lastDriverSpan
    stage.recordJobs(stageSpan)
    val partsStore = storeFor(102).toString
    val (put, pushW) = listen.around(Trace.span("ingest.push.write") {
      PushTableSink.write(rows, () => Trace.Cells(FileStore(partsStore)))
    })
    pushW.recordJobs(Trace.lastDriverSpan)
    checks(put == dump.ok.size.toLong, s"decomposed push put $put")
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val manDir = work.resolve("m-parts").toString
    val uploads0 = Trace.counter("ingest.manifest.uploads")
    val (_, manW) = listen.around(Trace.span("ingest.manifest.writeManifests") {
      IngestPipeline.writeManifests(rows, Trace.Manifests(ManifestStore.HadoopFs(manDir, conf)))
    })
    manW.recordJobs(Trace.lastDriverSpan)
    rows.unpersist()
    // the downstream reader over the store this pass landed: full scans
    // through graft-cells, and point GETs of a seeded sample of records
    val tables = Imports.tables(dump).toSeq.sorted
    val (scanned, scanW) = listen.around(Trace.span("sources.scan") {
      StoreRead.scan(spark, storeDir.toString, tables, withBody = true) +
        StoreRead.scan(spark, storeDir.toString, tables, withBody = false)
    })
    scanW.recordJobs(Trace.lastDriverSpan)
    checks(scanned == 2L * dump.ok.size, s"read-back scan $scanned cells")
    val ir1 = graft.ingest.CellSegment.indexReads.get()
    Trace.span("ingest.store.gets")(Imports.sampleDecrypts(FileStore(storeDir.toString), dump, a.seed, SampleGets, checks))
    val getIndexReads = graft.ingest.CellSegment.indexReads.get() - ir1
    val (readIndexUs, hexShare) = StoreRead.readIndexUs(storeDir)
    val (decodeS, decodeMbS) = Core.decode(dump)
    val chain = Core.chain(dump.lines.take(ChainLines), checks)
    listen.close()
    Trace.enabled = false
    val parts = Seq(
      "core.decode.busy_s" -> decodeS, "core.decode.mb_per_s" -> decodeMbS,
      "ingest.catalog.plan_s" -> planS, "ingest.catalog.files" -> tasks.size.toDouble,
      "ingest.pipeline.stage_s" -> Trace.busy("ingest.pipeline.ingest"),
      "ingest.pipeline.task_skew" -> stage.taskSkew,
      "ingest.push.wall_s" -> Trace.busy("ingest.push.write"),
      "ingest.manifest.wall_s" -> Trace.busy("ingest.manifest.writeManifests"),
      "ingest.manifest.uploads" -> (Trace.counter("ingest.manifest.uploads") - uploads0),
      "ingest.manifest.upload_busy_s" -> Trace.busy("ingest.manifest.upload"),
      "sources.scan.wall_s" -> Trace.busy("sources.scan"), "sources.scan.planning_ms" -> scanW.planningMs,
      "sources.scan.files_opened" -> scanW.metric("filesOpened").toDouble,
      "sources.scan.cells_emitted" -> scanW.metric("cellsEmitted").toDouble,
      "sources.scan.partitions" -> scanW.metric("partitions").toDouble,
      "ingest.segment.index_reads_per_get" -> getIndexReads.toDouble / SampleGets,
      "ingest.segment.read_index_us" -> readIndexUs,
      "trace.overhead_s" -> (runS - untracedS))
    Main.Result((runMetrics ++ parts ++ chain).map { case (k, v) => (k, v, "") },
      Seq("untraced_pass_s" -> untracedS, "traced_pass_s" -> runS, "read_index_hex_share" -> hexShare,
        "self_time_s" -> Trace.selfTimeByLayer.toSeq.sortBy(-_._2).take(8).toMap))
  }
}

object Imports {
  val Name = "import_fresh"
  /** 24 files (≥ 4 × cores on a 4-core machine), Zipf-skewed sizes */
  val Shape: Gen.Shape = Gen.Shape(files = 24, records = 6000)
  val WarmShape: Gen.Shape = Shape.copy(files = 8, records = 600)
  val ChainLines = 4000
  val SampleGets = 200

  def tables(dump: Gen.Dump): Set[String] =
    dump.lines.map(l => RecordProcessor.FileContext(l.db, l.coll, l.fileNumber, null).tableName).toSet

  def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** (per-cell put files, segments, bytes) under a store root. */
  def layout(root: Path): (Long, Long, Long) = {
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val segs = files.count(f => graft.ingest.CellSegment.isSegment(f.getFileName.toString))
    val puts = files.count { f =>
      val n = f.getFileName.toString
      !n.startsWith("_") && !graft.ingest.CellSegment.isSegment(n) && n.lastIndexOf('.') == 64
    }
    (puts.toLong, segs.toLong, files.map(Files.size).sum)
  }

  /** The single-thread reference for one OK line, re-encrypted with the
    * key and IV the stored cell carries. */
  def reference(l: Gen.Line, dataKey: Envelope.DataKeyResult, iv: Array[Byte]): RecordProcessor.Processed =
    RecordProcessor.processLine(l.text, RecordProcessor.FileContext(l.db, l.coll, l.fileNumber, dataKey),
      Envelope.RunIdentity.live("perfbench", "perfbench"), () => iv) match {
      case Right(p) => p
      case Left(r) => throw new IllegalStateException(s"reference skipped an OK line: $r")
    }

  private def field(o: JObj, path: String*): String =
    path.init.foldLeft(o)((x, k) => x.get(k).get.asInstanceOf[JObj]).get(path.last) match {
      case Some(JStr(s)) => s
      case other => throw new IllegalStateException(s"envelope field ${path.mkString(".")}: $other")
    }

  /** Decrypt a stored envelope's record with its own (unwrapped) batch
    * key; compare with the reference's record, rowkey and version. */
  def matchesReference(l: Gen.Line, version: Long, body: Array[Byte]): Boolean = {
    val env = Json.parseObject(new String(body, "UTF-8"))
    val ivB64 = field(env, "message", "encryption", "initialisationVector")
    val wrapped = field(env, "message", "encryption", "encryptedEncryptionKey")
    val plain = Dks.unwrap(wrapped)
    val dk = Envelope.DataKeyResult(field(env, "message", "encryption", "keyEncryptionKeyId"), plain, wrapped)
    val ref = reference(l, dk, java.util.Base64.getDecoder.decode(ivB64))
    val refEnv = Json.parseObject(ref.envelope)
    val got = graft.core.Crypto.decrypt(plain, ivB64, field(env, "message", "dbObject"))
    val want = graft.core.Crypto.decrypt(plain, ivB64, field(refEnv, "message", "dbObject"))
    java.util.Arrays.equals(got, want) && ref.version == version
  }

  def sampleDecrypts(fs: FileStore, dump: Gen.Dump, seed: Long, n: Int, checks: Main.Checks): Unit = {
    val r = new java.util.Random(seed * 31 + 7)
    val ok = dump.ok
    (0 until n).foreach { _ =>
      val l = ok(r.nextInt(ok.size))
      val key = java.util.Base64.getEncoder.encodeToString(new Array[Byte](16))
      val probe = reference(l, Envelope.DataKeyResult("k", key, key), new Array[Byte](16))
      val got = fs.getLatest(probe.tableName, probe.rowkey)
      checks(got.exists { case (v, b) => matchesReference(l, v, b) },
        s"cell of ${l.file}:${l.lineNo} does not decrypt to the reference (got ${got.map(_._1)})")
    }
  }
}
