package graft.ingest

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors KeyPairGeneratorTest.kt:23-145 (pairing/validation),
  * S3ReaderTest pairing aspects, EncryptionMetadataProcessorTest. */
class CatalogSpec extends AnyFunSuite with SparkSuite {
  override protected def threads = 2

  import Catalog._

  private def pair(stem: String, d: Long = 10, m: Long = 5) =
    FilePair(stem, s"/in/$stem.gz.enc", s"/in/$stem.encryption.json", d, m)

  test("zero-byte pairs (both objects empty) are dropped, partial survives") {
    val ps = Seq(pair("a.b.1.json", 0, 0), pair("a.b.2.json", 10, 0), pair("a.b.3.json", 0, 5))
    assert(nonEmpty(ps).map(_.stem) == Seq("a.b.2.json", "a.b.3.json"))
  }

  test("oversized data objects are rejected (F1)") {
    val ps = Seq(pair("a.b.1.json", 100), pair("a.b.2.json", 3000000000L))
    assert(withinSizeCap(ps).map(_.stem) == Seq("a.b.1.json"))
  }

  test("metadata parse validates mandatory fields") {
    val ok = parseMetadata(
      """{"keyEncryptionKeyId": "k", "encryptedEncryptionKey": "e", "initialisationVector": "i",
         "plaintextDatakey": "p", "unknownField": 1}""", "t")
    assert(ok == EncryptionMetadata("k", "p", "e", "i"))
    assertThrows[CatalogException](parseMetadata("""{"keyEncryptionKeyId": "k"}""", "t"))
    assertThrows[CatalogException](parseMetadata("""not json""", "t"))
    assertThrows[CatalogException](
      parseMetadata("""{"keyEncryptionKeyId": "", "encryptedEncryptionKey": "e", "initialisationVector": "i"}""", "t"))
  }

  test("listPairs pairs by stem, throws on data without metadata, drops metadata-only") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-catalog")
    def touch(name: String, content: String = "x"): Unit =
      java.nio.file.Files.write(tmp.resolve(name), content.getBytes)
    touch("db-1.coll-1.0001.json.gz.enc")
    touch("db-1.coll-1.0001.json.encryption.json")
    touch("db-1.coll-1.0002.json.encryption.json") // metadata only: dropped
    touch("unrelated.txt")

    val pairs = listPairs(spark, Seq(tmp.toString))
    assert(pairs.map(_.stem) == Seq("db-1.coll-1.0001.json"))
    assert(pairs.head.dataPath.endsWith("db-1.coll-1.0001.json.gz.enc"))

    touch("db-1.coll-1.0003.json.gz.enc") // data without metadata: fatal
    assertThrows[CatalogException](listPairs(spark, Seq(tmp.toString)))

    // nonexistent prefix is an empty catalog, not an error
    assert(listPairs(spark, Seq(tmp.resolve("missing").toString)).isEmpty)
  }

  test("catalog-scale probe: 510 zero-byte pairs list, pair, and drop (the reference pagination test)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-paging")
    (1 to 510).foreach { i =>
      val stem = f"pagedb.pagecoll.$i%04d.json"
      java.nio.file.Files.write(tmp.resolve(s"$stem.gz.enc"), Array.emptyByteArray)
      java.nio.file.Files.write(tmp.resolve(s"$stem.encryption.json"), Array.emptyByteArray)
    }
    val pairs = listPairs(spark, Seq(tmp.toString))
    assert(pairs.size == 510)
    assert(nonEmpty(pairs).isEmpty) // all-zero-byte pairs drop, records_processed 0
  }

  test("planTasks over 510 files is pure listing: sidecars are never opened on the driver") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan")
    (1 to 510).foreach { i =>
      val stem = f"plandb.plancoll.$i%04d.json"
      java.nio.file.Files.write(tmp.resolve(s"$stem.gz.enc"), "x".getBytes)
      // deliberately UNPARSEABLE metadata: if planTasks read sidecars
      // (or called a key service) per file, planning would throw —
      // metadata/key resolution belongs to the executor decode stage
      java.nio.file.Files.write(tmp.resolve(s"$stem.encryption.json"), "not json".getBytes)
    }
    val tasks = IngestPipeline.planTasks(spark, Seq(tmp.toString))
    assert(tasks.size == 510)
    assert(tasks.forall(t => t.database == "plandb" && t.collection == "plancoll"))
    assert(tasks.map(_.fileNumber).toSet == (1 to 510).toSet)
  }

  test("uppercase-extension dumps pair case-insensitively, agreeing with parseFilename") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-case")
    java.nio.file.Files.write(tmp.resolve("DB-9.COLL-9.0001.JSON.GZ.ENC"), "x".getBytes)
    java.nio.file.Files.write(tmp.resolve("db-9.coll-9.0001.json.encryption.json"), "m".getBytes)
    val pairs = listPairs(spark, Seq(tmp.toString))
    assert(pairs.size == 1)
    assert(pairs.head.stem == "db-9.coll-9.0001.json")
    assert(pairs.head.dataPath.endsWith("DB-9.COLL-9.0001.JSON.GZ.ENC"))
  }
}
