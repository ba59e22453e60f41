package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The fixtures the store gates share, written once.
  *
  * Writing a store gate:
  *  - take temp directories from [[withRoots]] and a SQL catalog over a
  *    root from [[withCatalog]];
  *  - seed with [[docCells]] (the `doc-<doc_id>` rowkeys) and land the
  *    cells through [[putCells]] or `BulkLoad.writeCells`;
  *  - read back with [[readCells]], project with [[cellStrings]], and
  *    compare two bags with [[sameBag]].
  *
  * Two rules:
  *  - materialise the returned frame (`localCheckpoint()`) before the
  *    roots are deleted — a lazy scan over a deleted root reads nothing;
  *  - override session conf only through [[withConf]], so the caller's
  *    value comes back even when the gate throws.
  */
private[queries] object GateFixtures {

  /** Runs `body` with each key set to its value, then puts every key
    * back as it was: the previous value, or unset if it had none —
    * also when `body` throws.
    *
    * Streams run on the caller's session, so an override a stream must
    * see is held until its `awaitTermination` returns: StreamExecution
    * happens to clone the session conf in its constructor, but that
    * timing is an implementation detail, and restoring right after
    * `start()` would race a deferred clone. (A `newSession()` child
    * would isolate the override, but Spark's StreamingQueryListenerBus
    * reports only runs started on its own session, so the caller's
    * listeners would never see the stream.)
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll // only the keys set on the session, not defaults
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Runs `body` over `n` fresh temp directories, deleted afterwards. */
  def withRoots[T](n: Int)(body: Seq[String] => T): T = {
    val roots = Seq.fill(n)(Files.createTempDirectory("graft-gate").toString)
    try body(roots)
    finally roots.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r)))
  }

  /** Runs `body` with a [[graft.sources.CellsCatalog]] over `root`
    * registered under a fresh name, unregistered afterwards. Catalog
    * instances memoize per NAME in the session's CatalogManager, so a
    * per-run unique name keeps re-runs (bench passes, verify) pointing
    * at THIS run's root. */
  def withCatalog[T](s: SparkSession, root: String)(body: String => T): T = {
    val cat = "g_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    withConf(s, s"spark.sql.catalog.$cat" -> classOf[graft.sources.CellsCatalog].getName,
      s"spark.sql.catalog.$cat.root" -> root)(body(cat))
  }

  /** The seeded rowkey: `doc-<doc_id>` as bytes. */
  val DocKey = "cast(concat('doc-', doc_id) as binary)"

  /** The connector option that turns a cell write into delete markers
    * (the marker write ignores the body; seeds pass `X''`). */
  val Tombstone: (String, String) = "tombstone" -> "true"

  /** Cells for every `mod`-th document: rowkey, version and body are SQL
    * expressions over `doc_id`. `gen`, when given, first explodes each
    * document into generations (its alias is in scope for the
    * expressions); `table`, when given, leads with the `tableName`
    * column `BulkLoad.writeCells` routes on. */
  def docCells(s: SparkSession, d: String, mod: Int, version: String, body: String,
      table: String = null, gen: Column = null, key: String = DocKey): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") % mod === 0)
    val base = if (gen == null) docs else docs.select(col("doc_id"), gen)
    val cells = Seq(expr(key).as("rowkey"), expr(version).as("version"), expr(body).as("body"))
    base.select(Option(table).map(lit(_).as("tableName")).toSeq ++ cells: _*)
  }

  /** How many documents [[docCells]] seeds for `mod`. */
  def docCount(s: SparkSession, d: String, mod: Int): Long =
    Tables.documents(s, d).filter(col("doc_id") % mod === 0).count()

  /** Appends `cells` to `table` under `root` through the connector's put face. */
  def putCells(cells: DataFrame, root: String, table: String, opts: (String, String)*): Unit =
    opts.foldLeft(cells.write.format("graft-cells").mode("append")
      .option("root", root).option("table", table)) { case (w, (k, v)) => w.option(k, v) }.save()

  /** A connector scan of `table` under `root`. */
  def readCells(s: SparkSession, root: String, table: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(s.read.format("graft-cells")
      .option("root", root).option("table", table)) { case (r, (k, v)) => r.option(k, v) }.load()

  /** The `key_str, version, body_md5` projection the cell gates return. */
  def cellStrings(cells: DataFrame): DataFrame =
    cells.select(col("rowkey").cast("string").as("key_str"), col("version"),
      col("body").cast("string").as("body_md5"))

  /** Requires `a` and `b` to hold the same rows with the same
    * multiplicities (`exceptAll` both ways) and returns both sides
    * materialised. Each side is materialised once first: every
    * `exceptAll` side re-evaluates its whole subtree, so the two-way
    * check over live scans cost 4 scans instead of 2. A side that
    * already is a checkpoint is used as is. */
  def sameBag(a: DataFrame, b: DataFrame, msg: => String): (DataFrame, DataFrame) = {
    def once(df: DataFrame) = df.queryExecution.logical match {
      case _: LogicalRDD => df
      case _ => df.localCheckpoint()
    }
    val (x, y) = (once(a), once(b))
    require(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0, msg)
    (x, y)
  }
}
