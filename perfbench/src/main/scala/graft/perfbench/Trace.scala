package graft.perfbench

import graft.core.Envelope.DataKeyResult
import graft.ingest.{KeyService, ManifestStore}
import graft.ingest.PushTableSink.{CellPut, Store, TableSpec}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. A span is recorded at
  * each public-call boundary the benchmark drives — name, start, end,
  * parent, run id — and written out only when the run ends. Executor
  * threads (local mode: same JVM) parent their spans to the span open on
  * the driver thread. Nothing here is compiled into the program itself:
  * the program is observed through its public calls, decorated
  * interfaces and Spark's listeners. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def layer: String = name.split('.').take(2).mkString(".")
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[java.lang.Long]()
  @volatile private var driverOpen = 0L
  /** id of the span that most recently closed on the driver thread */
  @volatile var lastDriverSpan = 0L
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = open.get()
      val parent = if (outer != null) outer.longValue else driverOpen
      open.set(id)
      val onDriver = Thread.currentThread().getName == "main"
      val prevDriver = driverOpen
      if (onDriver) driverOpen = id
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        if (outer == null) open.remove() else open.set(outer)
        if (onDriver) { driverOpen = prevDriver; lastDriverSpan = id }
      }
    }

  /** A span reconstructed from outside timestamps (Spark jobs). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs))

  def add(counter: String, n: Double): Unit =
    if (enabled) counters.computeIfAbsent(counter, _ => new DoubleAdder).add(n)

  def counter(name: String): Double = Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Sum of durations of the named spans (busy time). */
  def busy(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  /** Union length (s) of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total / 1e9
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval its children cover. A span opened on a task thread counts
    * as a child of the Spark job that ran it. */
  def selfTimeByLayer: Map[String, Double] = {
    val ss = all
    val jobs = ss.filter(_.name == "spark.job").groupBy(_.parent)
    def parentOf(s: Span): Long =
      if (s.name == "spark.job") s.parent
      else jobs.getOrElse(s.parent, Nil).find(j => j.startNs <= s.startNs && s.startNs <= j.endNs)
        .fold(s.parent)(_.id)
    val children = ss.groupBy(parentOf)
    ss.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.layer -> (s.seconds - covered(kids, s.startNs, s.endNs))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val base = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.toSeq.sortBy(_.startNs).map { s =>
      f"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - base) / 1e6}%.3f,"end_ms":${(s.endNs - base) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Decorated key service: every call is a span and a count. */
  final case class Keys(inner: KeyService) extends KeyService {
    override def decryptKey(keyId: String, encryptedKey: String): String =
      span("ingest.keys.decryptKey") { add("ingest.keys.calls", 1); inner.decryptKey(keyId, encryptedKey) }
    override def batchDataKey(): DataKeyResult =
      span("ingest.keys.batchDataKey") { add("ingest.keys.calls", 1); inner.batchDataKey() }
  }

  /** Decorated push-sink store: existence probes and put batches. */
  final case class Cells(inner: Store) extends Store {
    override def ensureTable(tableName: String, spec: TableSpec): Unit =
      span("ingest.store.ensureTable")(inner.ensureTable(tableName, spec))
    override def exists(tableName: String, cells: Seq[CellPut]): Seq[Boolean] =
      span("ingest.store.exists") {
        val r = inner.exists(tableName, cells)
        add("ingest.store.exists_cells", cells.size)
        add("ingest.store.exists_hits", r.count(identity))
        r
      }
    override def putBatch(tableName: String, cells: Seq[CellPut]): Unit =
      span("ingest.store.putBatch") {
        inner.putBatch(tableName, cells)
        add("ingest.store.put_batches", 1)
        add("ingest.store.cells_put", cells.size)
      }
  }

  /** Decorated manifest store: one span per upload. */
  final case class Manifests(inner: ManifestStore) extends ManifestStore {
    override def upload(fileName: String, spool: java.io.File, metadata: ManifestStore.ObjectMetadata): Unit =
      span("ingest.manifest.upload") { add("ingest.manifest.uploads", 1); inner.upload(fileName, spool, metadata) }
  }
}
