package graft.sources

import graft.SparkSuite
import graft.ingest.BulkLoad
import java.nio.file.Files
import java.security.MessageDigest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The MERGE/UPDATE source-key pre-pass: a selective MERGE narrows its
  * target scan to the source's rowkeys (two-sided open-count check on
  * a digest-spread multi-region fixture), the update-only inner shape
  * narrows too, the cap declines loudly back to the full scan,
  * FULL-OUTER shapes (NOT MATCHED BY SOURCE) never prune, and
  * nondeterministic sources decline. */
class MergeSourcePruningSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _
  private val cat = "gmsp"

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft-msp").toString
    super.beforeAll()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[CellsCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // DEFAULT-ON: registering the catalog installs the rule at first
    // catalog access — no manual install anywhere in this suite
    spark.sql(s"SHOW TABLES IN $cat").collect()
    assert(spark.experimental.extraOptimizations.count(_ eq MergeSourcePruning) == 1,
      "catalog initialization must self-install the pre-pass")
    MergeSourcePruning.install(spark) // explicit install stays idempotent
    assert(spark.experimental.extraOptimizations.count(_ eq MergeSourcePruning) == 1)
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** digest-spread keys — every first byte differs, so the fixture
    * populates many regions and an open-count bound discriminates
    * (a prefix keyspace would put everything in one segment and pass
    * any bound vacuously). */
  private def mk(i: Int): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s"key-$i".getBytes("UTF-8"))

  private def seed(table: String, n: Int): Unit = {
    val sp = spark; import sp.implicits._
    BulkLoad.writeCells(
      (0 until n).map(i => (table, mk(i), 10L, s"old-$i".getBytes("UTF-8")))
        .toDF("tableName", "rowkey", "version", "body"),
      root)
  }

  private def srcView(name: String, ids: Seq[Int], tag: String): Unit = {
    val sp = spark; import sp.implicits._
    ids.map(i => (mk(i), 10L, s"$tag-$i".getBytes("UTF-8")))
      .toDF("rowkey", "version", "body").createOrReplaceTempView(name)
  }

  test("a selective MERGE opens exactly the matched cells (two-sided), not the table") {
    seed("m1", 400)
    srcView("src1", (0 until 6) ++ Seq(1000, 1001), "new") // 6 matched + 2 inserts
    CellsSource.filesOpened.set(0)
    CellsSource.runtimeFilteredKeys.set(0)
    spark.sql(
      s"""MERGE INTO $cat.m1 t USING src1 s ON t.rowkey = s.rowkey
          WHEN MATCHED THEN UPDATE SET body = s.body
          WHEN NOT MATCHED THEN INSERT (rowkey, version, body) VALUES (s.rowkey, s.version, s.body)""")
    val opens = CellsSource.filesOpened.get()
    assert(CellsSource.runtimeFilteredKeys.get() == 8,
      "the pre-pass must deliver all 8 source keys to the scan")
    assert(opens == 6, s"opens must equal the matched cells, got $opens")
    // semantics unchanged: 6 updated, 2 inserted, 394 untouched
    val got = spark.table(s"$cat.m1").select(col("body").cast("string")).collect()
      .map(_.getString(0)).toSeq
    assert(got.size == 402)
    assert(got.count(_.startsWith("new-")) == 8)
  }

  test("update-only MERGE (inner rewrite) narrows too") {
    seed("m2", 300)
    srcView("src2", 0 until 5, "upd")
    CellsSource.filesOpened.set(0)
    CellsSource.runtimeFilteredKeys.set(0)
    spark.sql(s"""MERGE INTO $cat.m2 t USING src2 s ON t.rowkey = s.rowkey
                  WHEN MATCHED THEN UPDATE SET body = s.body""")
    assert(CellsSource.runtimeFilteredKeys.get() == 5)
    assert(CellsSource.filesOpened.get() == 5,
      s"got ${CellsSource.filesOpened.get()}")
    assert(spark.table(s"$cat.m2").where("cast(body as string) like 'upd-%'").count() == 5)
  }

  test("above the key cap the pre-pass declines loudly to the full region-parallel scan") {
    seed("m3", 300)
    srcView("src3", 0 until 8, "cap")
    val fullSegs = {
      // the declined plan's cost unit: one open per populated segment.
      // The baseline must READ BODIES — a bare count() is answered
      // from metadata and opens nothing
      CellsSource.filesOpened.set(0)
      spark.read.format("graft-cells").option("root", root).option("table", "m3")
        .load().agg(sum(length(col("body")))).collect()
      CellsSource.filesOpened.get()
    }
    spark.conf.set(MergeSourcePruning.MaxKeysConf, "2")
    try {
      CellsSource.filesOpened.set(0)
      CellsSource.runtimeFilteredKeys.set(0)
      MergeSourcePruning.declined.set(0)
      spark.sql(s"""MERGE INTO $cat.m3 t USING src3 s ON t.rowkey = s.rowkey
                    WHEN MATCHED THEN UPDATE SET body = s.body""")
      assert(MergeSourcePruning.declined.get() >= 1, "the cap must decline")
      assert(CellsSource.runtimeFilteredKeys.get() == 0, "no narrowing above the cap")
      assert(CellsSource.filesOpened.get() == fullSegs,
        s"declined MERGE pays the full scan: ${CellsSource.filesOpened.get()} vs $fullSegs")
      assert(spark.table(s"$cat.m3").where("cast(body as string) like 'cap-%'").count() == 8,
        "the declined statement still executes correctly")
    } finally spark.conf.unset(MergeSourcePruning.MaxKeysConf)
  }

  test("NOT MATCHED BY SOURCE (full-outer rewrite) never prunes — unmatched targets mutate") {
    seed("m4", 20)
    srcView("src4", 0 until 3, "keep")
    CellsSource.runtimeFilteredKeys.set(0)
    spark.sql(
      s"""MERGE INTO $cat.m4 t USING src4 s ON t.rowkey = s.rowkey
          WHEN MATCHED THEN UPDATE SET body = s.body
          WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(CellsSource.runtimeFilteredKeys.get() == 0,
      "pruning a preserved target side would silently skip the BY SOURCE arm")
    val left = spark.table(s"$cat.m4").select(col("body").cast("string")).collect()
      .map(_.getString(0)).toSeq
    assert(left.size == 3 && left.forall(_.startsWith("keep-")),
      s"all unmatched target rows deleted, matched updated: $left")
  }

  test("a nondeterministic source declines (pre-executing it could disagree with the join)") {
    seed("m5", 20)
    // the nondeterminism must survive optimization AND sit in the
    // KEY-PRODUCING subplan: over a LocalRelation the optimizer
    // evaluates even a rand() filter away (and a nondeterministic
    // projection of non-key columns gets hoisted above the join —
    // both shapes end deterministic, where narrowing is sound and the
    // rule correctly fires). A parquet-backed source with a
    // rand-vs-column filter is irreducible.
    val sp = spark; import sp.implicits._
    val pq = Files.createTempDirectory("msp-src").toString + "/src5"
    (0 until 4).map(i => (mk(i), 10L, s"nd-$i".getBytes("UTF-8")))
      .toDF("rowkey", "version", "body").write.parquet(pq)
    spark.read.parquet(pq).createOrReplaceTempView("src5p")
    CellsSource.runtimeFilteredKeys.set(0)
    MergeSourcePruning.declined.set(0)
    spark.sql(
      s"""MERGE INTO $cat.m5 t
          USING (SELECT * FROM src5p WHERE rand() <= cast(version as double)) s
          ON t.rowkey = s.rowkey
          WHEN MATCHED THEN UPDATE SET body = s.body""")
    assert(CellsSource.runtimeFilteredKeys.get() == 0, "nondeterministic source must not prune")
    assert(MergeSourcePruning.declined.get() >= 1)
    assert(spark.table(s"$cat.m5").where("cast(body as string) like 'nd-%'").count() == 4)
  }

  test("a self-referential MERGE (source reads the target table) stays correct") {
    seed("m6", 30)
    spark.sql(
      s"""MERGE INTO $cat.m6 t
          USING (SELECT rowkey, version, cast('self' as binary) AS body
                 FROM $cat.m6 WHERE cast(body as string) IN ('old-0','old-1','old-2')) s
          ON t.rowkey = s.rowkey
          WHEN MATCHED THEN UPDATE SET body = s.body""")
    assert(spark.table(s"$cat.m6").where("cast(body as string) = 'self'").count() == 3)
    assert(spark.table(s"$cat.m6").count() == 30)
  }
}
