package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.util.Base64

/** Loopback data-key service the benchmark serves itself, speaking the
  * protocol [[graft.ingest.HttpKeyService]] calls:
  *   GET  /datakey                          → a fresh batch data key
  *   POST /datakey/actions/decrypt?keyId=…  → the unwrapped file key
  * Key "encryption" is byte reversal, like the reference's fake DKS, so
  * a reader holding only an envelope can unwrap its batch key
  * ([[unwrap]]) for the decrypt check. */
final class Dks(seed: Long) extends AutoCloseable {
  private val rng = new java.util.Random(seed)
  private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, { (r: Runnable) =>
    val t = new Thread(r, "perfbench-dks"); t.setDaemon(true); t
  }))
  server.createContext("/datakey", (ex: HttpExchange) => {
    val body =
      if (ex.getRequestURI.getPath.endsWith("/actions/decrypt")) {
        val wrapped = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        s"""{"dataKeyEncryptionKeyId": "cloudhsm:7,14", "plaintextDataKey": "${Dks.unwrap(wrapped)}"}"""
      } else {
        val key = rng.synchronized(Array.fill[Byte](16)(rng.nextInt().toByte))
        val plain = Base64.getEncoder.encodeToString(key)
        s"""{"dataKeyEncryptionKeyId": "cloudhsm:7,14", "plaintextDataKey": "$plain", "ciphertextDataKey": "${Dks.wrap(plain)}"}"""
      }
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  })
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  override def close(): Unit = {
    server.stop(0)
    server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
  }
}

object Dks {
  def wrap(plainB64: String): String =
    Base64.getEncoder.encodeToString(Base64.getDecoder.decode(plainB64).reverse)
  def unwrap(wrappedB64: String): String = wrap(wrappedB64)
}
