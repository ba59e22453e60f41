package graft.queries

import graft.{SparkEntry, SparkSuite}
import org.scalatest.funsuite.AnyFunSuite

/** The format facts the q85–q87 oracles can't see: the read really
  * scans the target format (not a cached parquet), the read is
  * explicit-schema (no inference pass), and lossy-prone types (double,
  * ms timestamp) survive the text formats bit-for-bit. Runs at
  * sf0.001.
  */
class FormatsSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def scanLine(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("FileScan")).getOrElse("")
  }

  test("q85/q86/q87 scan csv/json/orc respectively — not a cached parquet") {
    assert(scanLine("q85_csv_roundtrip").contains("FileScan csv"))
    assert(scanLine("q86_json_roundtrip").contains("FileScan json"))
    assert(scanLine("q87_orc_roundtrip").contains("FileScan orc"))
  }

  test("text-format round-trips preserve doubles and ms timestamps exactly") {
    import org.apache.spark.sql.functions._
    // identical VALUES, not just identical aggregates: anti-join both ways
    val src = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("odate_ms"),
      col("o_orderpriority"))
    val got = SparkEntry.queries("q85_csv_roundtrip")(spark, sf)
    assert(got.count() == src.count())
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "CSV round-trip must be value-identical to the source parquet")
  }

  test("json round-trip is value-identical too (four doubles + timestamp)") {
    import org.apache.spark.sql.functions._
    val src = Tables.lineitem(spark, sf).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"),
      unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"))
    val got = SparkEntry.queries("q86_json_roundtrip")(spark, sf)
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "JSON round-trip must be value-identical to the source parquet")
  }
}
