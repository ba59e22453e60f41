package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The file-layout facts the q83/q84 oracles can't see: compaction
  * actually reduces file counts (and loses nothing), and the staged
  * schema-evolution dirs genuinely differ in schema. Runs at sf0.001. */
class MaintenanceSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def parquetFiles(dir: java.io.File): Array[java.io.File] =
    dir.listFiles().filter(_.getName.endsWith(".parquet"))

  private def stagedDirs(name: String): java.io.File = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    tmp.listFiles().filter(_.getName.startsWith(s"graft_${name}_"))
      .maxBy(_.lastModified)
  }

  test("q83: compaction collapses 64 shards to the size-computed target, losing nothing") {
    val out = SparkEntry.queries("q83_compaction")(spark, sf)
    val n = out.count()
    assert(n == Tables.documents(spark, sf).count())
    val base = stagedDirs("compact")
    val nSmall = parquetFiles(new java.io.File(base, "small")).length
    val nCompact = parquetFiles(new java.io.File(base, "compacted")).length
    assert(nSmall == 64, s"staging must fragment into 64 files, got $nSmall")
    assert(nCompact < nSmall && nCompact <= 4,
      s"compaction must collapse the small files, got $nCompact")
  }

  test("q84: staged generations really differ in schema; merged read nulls exactly the v1 rows") {
    val out = SparkEntry.queries("q84_schema_evolution")(spark, sf)
    val base = stagedDirs("schema")
    val v1Schema = spark.read.parquet(new java.io.File(base, "v1").getPath).schema
    val v2Schema = spark.read.parquet(new java.io.File(base, "v2").getPath).schema
    assert(!v1Schema.fieldNames.contains("lang") && v2Schema.fieldNames.contains("lang"))
    val nulls = out.filter(col("lang").isNull).count()
    val evens = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0).count()
    assert(nulls == evens, s"exactly the v1 generation must surface NULL lang: $nulls vs $evens")
  }

  test("q168: the report fails exactly the planted-failure rule and passes the rest") {
    val rows = graft.SparkEntry.queries("q168_expectations")(spark, sf).collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("metric_x1e6"), r.getAs[Boolean]("passed"))).toMap
    assert(rows.size == 6)
    // the 400k price ceiling is the designed failure — a quality suite
    // that cannot fail proves nothing
    assert(!rows("range_totalprice_le_400k")._2)
    assert(rows("range_totalprice_le_400k")._1 < 1000000)
    (rows.keySet - "range_totalprice_le_400k").foreach { r =>
      assert(rows(r)._2 && rows(r)._1 == 1000000, s"$r: ${rows(r)}")
    }
  }
}
