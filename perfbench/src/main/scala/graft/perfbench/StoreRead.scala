package graft.perfbench

import graft.ingest.CellSegment
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The downstream reader's calls, made by `import_fresh`'s traced run over
  * the store its traced pass landed: full-table scans through
  * `spark.read.format("graft-cells")` and the cost of one segment-index
  * load. */
object StoreRead {

  /** What one segment-index load costs (µs), through the public read:
    * every segment's index read once more from disk, each a span; and
    * the share of that cost the reader's per-byte digest rendering
    * (`f"$b%02x"` over each entry's 32-byte digest) accounts for, that
    * expression timed on its own. */
  def readIndexUs(root: java.nio.file.Path): (Double, Double) = {
    val segs = Files.walk(root).iterator().asScala.filter(p => CellSegment.isSegment(p.getFileName.toString)).toSeq
    var entries = 0L
    val (_, s) = Main.time(segs.foreach(p => entries += Trace.span("ingest.segment.readIndex")(CellSegment.readIndex(p)).size))
    val r = new java.util.Random(1)
    val digests = Array.fill(2000)(Array.fill[Byte](32)(r.nextInt().toByte))
    val hexS = (0 until 3).map(_ => Main.time(digests.foreach(d => d.map(b => f"$b%02x").mkString))._2).min / digests.length
    (s * 1e6 / math.max(1, segs.size), entries * hexS / math.max(1e-9, s))
  }

  /** Full scan of every table through the graft-cells reader, with or
    * without the body column; returns the cells read. */
  def scan(spark: SparkSession, root: String, tables: Seq[String], withBody: Boolean): Long =
    tables.map { t =>
      val df = spark.read.format("graft-cells").option("root", root).option("table", t).load()
      val row =
        if (withBody) df.agg(count(lit(1)), sum(length(col("body")))).collect()(0)
        else df.agg(count(lit(1)), max(col("version"))).collect()(0)
      row.getLong(0)
    }.sum
}
