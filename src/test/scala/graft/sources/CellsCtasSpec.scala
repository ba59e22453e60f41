package graft.sources

import graft.SparkSuite
import graft.ingest.{FileStore, PushTableSink, Vacuum}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CTAS / RTAS through [[CellsCatalog]]'s StagingTableCatalog face:
  * staged-generation invisibility, the CREATE one-rename commit, the
  * REPLACE two-rename window (seam-pinned), the concurrent-CREATE
  * race, and Vacuum's `_ctas_staging` sweep. */
class CellsCtasSpec extends AnyFunSuite with SparkSuite {

  private def freshCat(root: String): String = {
    val cat = "ctas_" + java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[CellsCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  test("SQL CTAS commits atomically; a failed CTAS leaves no table and abort sweeps staging") {
    val root = Files.createTempDirectory("ctas-sql").toString
    val cat = freshCat(root)
    val bad =
      try {
        spark.sql(s"""CREATE TABLE $cat.t AS
            SELECT cast(concat('k', id) as binary) AS rowkey, id AS version,
                   cast(IF(id = 7, raise_error('poison'), 'b') as binary) AS body
            FROM range(10)""")
        false
      } catch { case _: Exception => true }
    assert(bad)
    assert(!Files.isDirectory(Paths.get(root, "t")))
    val staging = Paths.get(root, "_ctas_staging")
    val orphans = if (!Files.isDirectory(staging)) 0
      else { val l = Files.list(staging); try l.iterator().asScala.size finally l.close() }
    assert(orphans == 0, "abortStagedChanges must remove the staged generation")
    spark.sql(s"""CREATE TABLE $cat.t TBLPROPERTIES('maxVersions'='3') AS
        SELECT cast(concat('k', id) as binary) AS rowkey, id AS version,
               cast('b' as binary) AS body FROM range(10)""")
    assert(spark.table(s"$cat.t").count() == 10)
    val spec = PushTableSink.TableSpec.fromJson(FileStore(root).readSpecJson("t").get)
    assert(spec.maxVersions == 3, "TBLPROPERTIES commit with the CTAS")
    // CTAS into an existing name fails loudly, table untouched
    val dup =
      try { spark.sql(s"CREATE TABLE $cat.t AS SELECT cast('x' as binary) AS rowkey, " +
        "1L AS version, cast('y' as binary) AS body"); false }
      catch { case _: Exception => true }
    assert(dup && spark.table(s"$cat.t").count() == 10)
  }

  test("RTAS swaps generations; the between-renames window is the q239 overwrite contract") {
    val root = Files.createTempDirectory("ctas-rtas").toString
    val cat = freshCat(root)
    spark.sql(s"""CREATE TABLE $cat.r AS
        SELECT cast(concat('k', id) as binary) AS rowkey, id AS version,
               cast('old' as binary) AS body FROM range(5)""")
    // drive the staged REPLACE by hand to reach the seam
    val stagingRoot = Files.createTempDirectory(Paths.get(root), "_manual_stage").toString
    val store = FileStore(stagingRoot)
    store.ensureTable("r", PushTableSink.TableSpec())
    store.putBatch("r", (0 until 7).map(i =>
      PushTableSink.CellPut("r", s"n$i".getBytes, 100L + i, "new".getBytes)))
    val staged = CellsStagedTable(root, stagingRoot, "r", replace = true)
    var sawWindow = false
    staged.betweenRenames = () => {
      sawWindow = true
      // the one non-atomic instant: no live dir (a reader lists no
      // table for a moment — the HBase truncate analog), old
      // generation parked in trash
      assert(!Files.isDirectory(Paths.get(root, "r")))
    }
    staged.commitStagedChanges()
    assert(sawWindow)
    assert(spark.table(s"$cat.r").count() == 7)
    assert(!Files.isDirectory(Paths.get(stagingRoot)), "staging swept at commit")
    val trash = Paths.get(root, "_overwrite_trash")
    val trashLeft = if (!Files.isDirectory(trash)) 0
      else { val l = Files.list(trash); try l.iterator().asScala.size finally l.close() }
    assert(trashLeft == 0, "the displaced generation is deleted at commit")
  }

  test("a crash between REPLACE's renames is operator-recoverable and Vacuum-sweepable") {
    val root = Files.createTempDirectory("ctas-crash").toString
    val cat = freshCat(root)
    spark.sql(s"""CREATE TABLE $cat.c AS
        SELECT cast(concat('k', id) as binary) AS rowkey, id AS version,
               cast('old' as binary) AS body FROM range(4)""")
    val stagingRoot = Files.createTempDirectory(Paths.get(root), "_manual_stage2").toString
    val store = FileStore(stagingRoot)
    store.ensureTable("c", PushTableSink.TableSpec())
    store.putBatch("c", Seq(PushTableSink.CellPut("c", "z".getBytes, 1L, "new".getBytes)))
    val staged = CellsStagedTable(root, stagingRoot, "c", replace = true)
    staged.betweenRenames = () => throw new RuntimeException("crash between renames")
    intercept[RuntimeException](staged.commitStagedChanges())
    // the documented q239 window: table momentarily absent, old
    // generation intact in trash, staged generation intact — nothing
    // lost, an operator (or a re-driven commit) can finish either way
    assert(!Files.isDirectory(Paths.get(root, "c")))
    val trashed = Files.isDirectory(Paths.get(root, "_overwrite_trash"))
    assert(trashed, "the old generation survives in trash")
    assert(Files.isDirectory(Paths.get(stagingRoot, "c")), "the staged generation survives")
    // aged debris sweeps (olderThan 0 = the operator override)
    val rep = Vacuum.sweep(root, olderThanMs = 0L)
    assert(rep.trashSwept >= 1)
  }

  test("Vacuum sweeps aged _ctas_staging orphans") {
    val root = Files.createTempDirectory("ctas-vac").toString
    val orphan = Paths.get(root, "_ctas_staging", "deadbeef", "t")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("_spec.json"), "{}".getBytes)
    val rep = Vacuum.sweep(root, olderThanMs = 0L)
    assert(rep.stagingSwept == 1)
    assert(!Files.isDirectory(Paths.get(root, "_ctas_staging", "deadbeef")))
  }

  test("losing the concurrent-CREATE race fails loudly and leaves the winner intact") {
    val root = Files.createTempDirectory("ctas-race").toString
    freshCat(root)
    def stage(body: String): CellsStagedTable = {
      val sr = Files.createTempDirectory(Paths.get(root), "_manual_race").toString
      val st = FileStore(sr)
      st.ensureTable("w", PushTableSink.TableSpec())
      st.putBatch("w", Seq(PushTableSink.CellPut("w", "k".getBytes, 1L, body.getBytes)))
      CellsStagedTable(root, sr, "w", replace = false)
    }
    val a = stage("winner")
    val b = stage("loser")
    a.commitStagedChanges()
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException](
      b.commitStagedChanges())
    val cells = FileStore(root).scanTable("w")
    assert(cells.size == 1 && new String(cells.head._3) == "winner")
  }
}
