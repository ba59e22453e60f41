package graft.sources

import graft.SparkSuite
import graft.ingest.{BulkLoad, CellSegment}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime (join-driven) rowkey filtering — DSv2
  * SupportsRuntimeFiltering on the batch scan: when the cell table is
  * the probe side of a broadcast equi-join on rowkey, Spark
  * materializes the build side, hands its key set to the scan, and the
  * scan re-plans to ONLY the probed keys' regions and digests — the
  * HBase batched-GET idiom (a join against the store is point reads,
  * not a table scan). */
class RuntimeFilterSpec extends AnyFunSuite with SparkSuite {

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("a broadcast join on rowkey plans the scan as point reads (runtime filter applied)") {
    val root = Files.createTempDirectory("rtf").toString
    val s = spark; import s.implicits._
    BulkLoad.writeCells(
      (0 until 500).map(i => ("t", k(f"row-$i%04d"), 1L, k(s"b-$i")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    val cells = spark.read.format("graft-cells")
      .option("root", root).option("table", "t").load()
    // build side: small, with a SURVIVING selective predicate (the DPP
    // trigger — a local Seq would constant-fold its filter away)
    val dim = spark.range(0, 500)
      .filter(col("id") % 100 === 7)
      .select(expr("cast(concat('row-', lpad(cast(id as string), 4, '0')) as binary)").as("key"))
    val joined = cells.join(broadcast(dim), col("rowkey") === col("key"))
      .select(col("rowkey"), col("version"), col("body"))
    val plan = joined.queryExecution.executedPlan.toString
    info(plan.linesIterator.filter(_.contains("BatchScan")).mkString("\n"))
    assert(plan.contains("dynamicpruning"),
      s"the scan must carry a runtime filter; plan:\n$plan")
    CellsSource.filesOpened.set(0)
    val got = joined.collect()
    assert(got.length == 5)
    val opened = CellsSource.filesOpened.get()
    // two-sided: exactly one index-entry seek per probed key (all 500
    // cells live in ONE 'r'-shard segment, so an unfiltered read would
    // count 1 whole-segment stream — the vacuous pass that masked the
    // factory-captured-keys bug until round 12)
    assert(opened == 5, s"point reads = one seek per probed key, opened=$opened")
  }

  test("digest narrowing reaches the executors: filtered = per-key seeks, not segment streams") {
    val root = Files.createTempDirectory("rtf-digest").toString
    val s = spark; import s.implicits._
    // keys spread over the first-byte regions (the CRC32-prefix
    // posture): ~N populated shards, one tiny segment each
    def key(i: Int): Array[Byte] = Array(i.toByte) ++ k(f"row-$i%04d")
    BulkLoad.writeCells(
      (0 until 200).map(i => ("t", key(i), 1L, k(s"b-$i")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    val cells = spark.read.format("graft-cells")
      .option("root", root).option("table", "t").load()
    val dim = spark.range(0, 200)
      .filter(col("id") % 50 === 7)
      .select(expr("concat(unhex(lpad(hex(id), 2, '0')), " +
        "cast(concat('row-', lpad(cast(id as string), 4, '0')) as binary))").as("key"))
    val joined = cells.join(broadcast(dim), col("rowkey") === col("key"))
      .select(col("rowkey"), col("version"))
    assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"))
    CellsSource.filesOpened.set(0)
    assert(joined.collect().length == 4)
    val opened = CellsSource.filesOpened.get()
    assert(opened == 4,
      s"4 probed keys must cost 4 seeks in 4 pruned regions — a factory-captured " +
        s"(pre-filter) predicate would stream segments instead, opened=$opened")
    // the unfiltered baseline for contrast: every populated region streams
    CellsSource.filesOpened.set(0)
    assert(cells.select(col("rowkey")).collect().length == 200)
    assert(CellsSource.filesOpened.get() == 200,
      "full scan streams every populated region's segment")
  }
}
