package graft.ingest

import graft.SparkSuite
import graft.ingest.IngestPipeline.IngestedRow
import graft.ingest.PushTableSink._
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentHashMap

/** W2 retry semantics + X1 policy + HTTP key service against a local
  * stub server — the external-boundary behaviors of the reference
  * (putBatch 5× retry HbaseWriterTest.kt:2101-2110, DKS retry + 400
  * hard-fail HttpKeyServiceTest). */
class PushSinkRetrySpec extends AnyFunSuite with SparkSuite {

  override protected def threads = 2

  // ---------------------------------------------------------- Retry util

  test("retry: succeeds after transient failures, with backoff schedule") {
    var calls = 0
    val out = Retry.withRetry(Retry.Policy.immediate, "op") {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
  }

  test("retry: gives up after maxAttempts and surfaces the last error") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry.withRetry(Retry.Policy.immediate, "op") { calls += 1; throw new RuntimeException("always") }
    }
    assert(calls == 5)
    assert(e.getMessage.contains("after 5 attempts"))
    assert(e.getCause.getMessage == "always")
  }

  test("retry: FatalException aborts immediately") {
    var calls = 0
    intercept[Retry.FatalException] {
      Retry.withRetry(Retry.Policy.immediate, "op") { calls += 1; throw new Retry.FatalException("bad request") }
    }
    assert(calls == 1)
  }

  test("backoff schedule matches the reference shape (initial, then n*initial*mult)") {
    val p = Retry.Policy(5, 1000L, 2.0)
    assert(p.backoffFor(0) == 1000L)
    assert(p.backoffFor(1) == 2000L)
    assert(p.backoffFor(2) == 4000L)
  }

  // ------------------------------------------------------- push sink (W2)

  /** In-memory store: fails the first put attempt per batch, records
    * successful cells. Static maps — foreachPartition runs in-JVM under
    * local mode. */
  private def ingested(table: String, key: String, version: Long): IngestedRow =
    IngestedRow("f", 1, "db", "c", table, "m.csv", "ok", key.getBytes, version, s"body-$key", "MONGO_IMPORT", "line\n", "DoNotFilter", "")

  test("push sink batches by bytes, retries failed puts, and skips existing cells") {
    val sp = spark; import sp.implicits._
    FlakyStore.reset()
    FlakyStore.preExisting.add("t1/k2/2")
    val rows = sp.createDataset(Seq(
      ingested("t1", "k1", 1), ingested("t1", "k2", 2), ingested("t2", "k3", 3)))
    PushTableSink.write(rows, () => new FlakyStore,
      Config(maxBatchBytes = 1000L, skipExisting = true, putPolicy = Retry.Policy.immediate))
    assert(FlakyStore.ensured.contains("t1") && FlakyStore.ensured.contains("t2"))
    // W3 DDL contract: the reference's table shape reaches the store
    // verbatim (HbaseClient.kt:83-92, Config.kt defaults)
    assert(FlakyStore.specs.get("t1") == PushTableSink.TableSpec(
      dataFamily = "cf", dataQualifier = "record",
      maxVersions = Int.MaxValue, minVersions = 1,
      compression = "GZ", compactionCompression = "GZ", regionReplication = 3))
    val written = {
      val it = FlakyStore.written.keySet().iterator()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(written == Set("t1/k1/1", "t2/k3/3")) // k2 existed → skipped
    assert(FlakyStore.putAttempts.get() > FlakyStore.putSuccesses.get()) // at least one retry happened
  }

  // ------------------------------------------- HTTP key service (E2/E3)

  test("http key service: batch key, decrypt with cache, retry on 5xx, hard-fail on 400") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    val decryptCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/datakey", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        val query = Option(ex.getRequestURI.getQuery).getOrElse("")
        def respond(code: Int, body: String): Unit = {
          val bytes = body.getBytes("UTF-8")
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes); ex.close()
        }
        if (path.endsWith("/actions/decrypt")) {
          decryptCalls.incrementAndGet()
          if (query.contains("keyId=bad")) respond(400, "no")
          else if (query.contains("keyId=flaky") && flaky.incrementAndGet() < 3) respond(503, "busy")
          else respond(200, """{"plaintextDataKey": "plain-key"}""")
        } else {
          respond(200, """{"dataKeyEncryptionKeyId": "k1", "plaintextDataKey": "p", "ciphertextDataKey": "c"}""")
        }
      }
    })
    server.start()
    try {
      val svc = HttpKeyService(s"http://localhost:${server.getAddress.getPort}", Retry.Policy.immediate)
      val dk = svc.batchDataKey()
      assert(dk == graft.core.Envelope.DataKeyResult("k1", "p", "c"))
      // flaky endpoint: two 503s then success — retried through
      assert(svc.decryptKey("flaky", "enc-1") == "plain-key")
      // cache: same (key, keyId) never re-calls the service
      val before = decryptCalls.get()
      assert(svc.decryptKey("flaky", "enc-1") == "plain-key")
      assert(decryptCalls.get() == before)
      // 400 → fatal, no retries burned
      val callsBefore400 = decryptCalls.get()
      intercept[Retry.FatalException](svc.decryptKey("bad", "enc-2"))
      assert(decryptCalls.get() == callsBefore400 + 1)
    } finally server.stop(0)
  }
}

/** static state so executor-side tasks (same JVM in local mode) and the
  * test can share observations */
object FlakyStore {
  val written: ConcurrentHashMap[String, Array[Byte]] = new ConcurrentHashMap[String, Array[Byte]]()
  val preExisting: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val putAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
  val putSuccesses = new java.util.concurrent.atomic.AtomicInteger(0)
  val failedOnce: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val ensured: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val specs: ConcurrentHashMap[String, PushTableSink.TableSpec] =
    new ConcurrentHashMap[String, PushTableSink.TableSpec]()
  def reset(): Unit = {
    written.clear(); preExisting.clear(); failedOnce.clear(); ensured.clear(); specs.clear()
    putAttempts.set(0); putSuccesses.set(0)
  }
}

final class FlakyStore extends PushTableSink.Store {
  import PushTableSink.CellPut
  private def cellId(c: CellPut) = s"${c.tableName}/${new String(c.rowkey)}/${c.version}"
  override def ensureTable(tableName: String, spec: PushTableSink.TableSpec): Unit = {
    FlakyStore.ensured.add(tableName)
    FlakyStore.specs.put(tableName, spec)
  }
  override def exists(tableName: String, cells: Seq[CellPut]): Seq[Boolean] =
    cells.map(c => FlakyStore.preExisting.contains(cellId(c)) || FlakyStore.written.containsKey(cellId(c)))
  override def putBatch(tableName: String, cells: Seq[CellPut]): Unit = {
    FlakyStore.putAttempts.incrementAndGet()
    val batchId = tableName + cells.map(cellId).mkString(",")
    if (!FlakyStore.failedOnce.contains(batchId)) {
      FlakyStore.failedOnce.add(batchId)
      throw new RuntimeException("transient store error")
    }
    cells.foreach(c => FlakyStore.written.put(cellId(c), c.body))
    FlakyStore.putSuccesses.incrementAndGet()
  }
}
