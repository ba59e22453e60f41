package graft.ingest

import graft.SparkSuite
import graft.ingest.IngestPipeline.{IngestedRow, Status}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentHashMap

/** The W5 upload boundary: any ManifestStore receives the reference's S3
  * object metadata (contentType=text/plain, x-amz-meta-title=<file> —
  * StreamingManifestWriter.kt:53-58) plus the spooled bytes, and the
  * zero-byte skip / per-file grouping happen before the store is hit. */
class ManifestStoreSpec extends AnyFunSuite with SparkSuite {

  override protected def threads = 2

  private def okRow(file: String, n: Long, line: String) =
    IngestedRow(s"/in/$file", n, "db", "c", "db:c", file, Status.Ok,
      Array.emptyByteArray, 1L, "{}", "T", line, "DoNotFilter", "")

  test("uploads carry the S3 metadata contract and line-ordered spooled bytes") {
    ManifestStoreSpec.uploads.clear()
    val sp = spark; import sp.implicits._
    val rows = Seq(
      okRow("db.a.b-000001.csv", 2L, "line-two\n"),
      okRow("db.a.b-000001.csv", 1L, "line-one\n"),
      okRow("db.x.y-000001.csv", 1L, "other\n")).toDS()
    IngestPipeline.writeManifests(rows, ManifestStoreSpec.S3FakeStore())

    assert(ManifestStoreSpec.uploads.size() == 2)
    val (meta, body) = ManifestStoreSpec.uploads.get("db.a.b-000001.csv")
    assert(meta == ManifestStore.ObjectMetadata("text/plain", "db.a.b-000001.csv"))
    // flatMapSortedGroups on lineNo: spool order is line order
    assert(new String(body, "UTF-8") == "line-one\nline-two\n")
    val (meta2, _) = ManifestStoreSpec.uploads.get("db.x.y-000001.csv")
    assert(meta2.title == "db.x.y-000001.csv" && meta2.contentType == "text/plain")
  }

  test("non-ok rows produce no upload at all") {
    ManifestStoreSpec.uploads.clear()
    val sp = spark; import sp.implicits._
    val rows = Seq(
      okRow("db.a.b-000001.csv", 1L, "x\n").copy(status = Status.Malformed, manifestLine = "")).toDS()
    IngestPipeline.writeManifests(rows, ManifestStoreSpec.S3FakeStore())
    assert(ManifestStoreSpec.uploads.isEmpty)
  }
}

object ManifestStoreSpec {
  /** (fileName -> (metadata, bytes)); JVM-wide so local-mode executor
    * tasks and the assert share state. */
  val uploads = new ConcurrentHashMap[String, (ManifestStore.ObjectMetadata, Array[Byte])]()

  final case class S3FakeStore() extends ManifestStore {
    override def upload(fileName: String, spool: java.io.File,
                        metadata: ManifestStore.ObjectMetadata): Unit =
      uploads.put(fileName, (metadata, java.nio.file.Files.readAllBytes(spool.toPath)))
  }
}
