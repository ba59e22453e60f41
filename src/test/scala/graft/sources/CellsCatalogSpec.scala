package graft.sources

import graft.SparkSuite
import graft.ingest.{BulkLoad, FileStore}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The catalog face: named SQL access to the store (DDL, INSERT,
  * SELECT with the connector's pushdown intact) and STORAGE-PARTITIONED
  * JOINS — two same-layout tables joined by Catalyst with no exchange
  * on either side, via the KeyGroupedPartitioning the catalog-loaded
  * scan reports over its graft_shard function. */
class CellsCatalogSpec extends AnyFunSuite with SparkSuite {

  private var root: String = _

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("cells-catalog").toString
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gtest", classOf[CellsCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.root", root)
    // the SPJ prerequisites: v2 bucketing on, partition-value
    // push for one-sided region population, and no broadcast
    // short-circuit (a broadcast join needs no co-partitioning and
    // would mask the property under test)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def seed(table: String, cells: Seq[(String, Long, String)],
                   points: Seq[Array[Byte]] = Nil): Unit = {
    val sp = spark; import sp.implicits._
    BulkLoad.writeCells(
      cells.map { case (key, v, b) => (table, k(key), v, k(b)) }
        .toDF("tableName", "rowkey", "version", "body"),
      root, BulkLoad.Config(splitPoints = points))
  }

  test("SQL DDL + INSERT + SELECT round-trip through the catalog; namespaces map to ':'") {
    spark.sql("CREATE TABLE gtest.ns.sqlt (rowkey BINARY, version BIGINT, body BINARY)")
    assert(FileStore(root).readSpecJson("ns:sqlt").isDefined,
      "CREATE TABLE records the store DDL under the ':'-joined name")
    spark.sql("INSERT INTO gtest.ns.sqlt " +
      "SELECT cast(concat('k-', id) as binary), id + 100, cast(md5(cast(id as string)) as binary) " +
      "FROM range(0, 30)")
    val got = spark.sql("SELECT count(*) AS n, sum(version) AS sv FROM gtest.ns.sqlt").collect()(0)
    assert(got.getLong(0) == 30 && got.getLong(1) == (0 until 30).map(_ + 100L).sum)
    // catalog reads keep the connector's point-GET pushdown
    CellsSource.filesOpened.set(0)
    val one = spark.table("gtest.ns.sqlt").filter(col("rowkey") === lit(k("k-7"))).collect()
    assert(one.length == 1 && CellsSource.filesOpened.get() == 1,
      s"point GET through the catalog opens exactly its cell: ${CellsSource.filesOpened.get()}")
    assert(spark.sql("SHOW TABLES IN gtest.ns").collect().map(_.getString(1)).contains("sqlt"))
    spark.sql("DROP TABLE gtest.ns.sqlt")
    assert(!Files.isDirectory(java.nio.file.Paths.get(root, "ns~sqlt")))
  }

  test("storage-partitioned join: same-layout tables join with NO exchange, Catalyst-planned") {
    val points = (1 to 7).map(i => k(s"K-${i}0"))
    seed("spja", (0 until 80).map(i => (f"K-$i%02d", 1L, s"a-$i")), points)
    seed("spjb", (0 until 80 by 2).map(i => (f"K-$i%02d", 5L, s"b-$i")), points)
    def joined = spark.table("gtest.spja").as("a")
      .join(spark.table("gtest.spjb").as("b"), col("a.rowkey") === col("b.rowkey"))
      .select(col("a.rowkey").cast("string").as("key"),
        col("a.body").cast("string").as("ba"), col("b.body").cast("string").as("bb"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    val spj = joined
    val plan = spj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"same split layout must storage-partition-join with no exchange:\n$plan")
    val got = rows(spj)
    assert(got == (0 until 80 by 2).map(i => (f"K-$i%02d", s"a-$i", s"b-$i")).sorted.toSeq)
    // bucketing off: the same join as an ordinary shuffle join, same rows
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      val shuffled = joined
      assert(shuffled.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(rows(shuffled) == got, "SPJ and the shuffle join must agree")
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  }

  test("per-rowkey aggregation over a catalog table plans with NO exchange (key-grouped)") {
    seed("aggt", (0 until 60).flatMap(i =>
      Seq((f"K-$i%02d", 1L, s"v1-$i"), (f"K-$i%02d", 2L, s"v2-$i"))))
    // the scan's KeyGroupedPartitioning over graft_shard(rowkey)
    // satisfies the aggregate's per-rowkey clustering (same key ⇒ same
    // region ⇒ same partition), so latest-version-per-key — the HBase
    // read-current-state reduction — runs region-local, no shuffle
    val agg = spark.table("gtest.aggt").groupBy(col("rowkey"))
      .agg(max(col("version")).as("latest"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"per-rowkey aggregate must stay region-local:\n$plan")
    val got = agg.collect().map(r =>
      (new String(r.getAs[Array[Byte]](0), "UTF-8"), r.getLong(1))).sorted.toSeq
    assert(got == (0 until 60).map(i => (f"K-$i%02d", 2L)).sorted.toSeq)
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF read the snapshot slice") {
    seed("tt", (0 until 20).map(i => (f"T-$i%02d", 100L + i, s"g1-$i")))
    seed("tt", (0 until 20).map(i => (f"T-$i%02d", 200L + i, s"g2-$i")))
    assert(spark.table("gtest.tt").count() == 40)
    val snap = spark.sql("SELECT * FROM gtest.tt VERSION AS OF 150")
    assert(snap.count() == 20 &&
      snap.agg(max(col("version"))).collect()(0).getLong(0) == 119L,
      "the snapshot is exactly the <= 150 slice")
    // store versions are epoch millis; 150 ms after the epoch in UTC
    val snapTs = spark.sql("SELECT * FROM gtest.tt TIMESTAMP AS OF '1970-01-01 00:00:00.15'")
    assert(snapTs.count() == 20)
    // the bound composes with further pushed predicates
    assert(spark.sql("SELECT * FROM gtest.tt VERSION AS OF 150 WHERE version >= 110")
      .count() == 10)
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM gtest.tt VERSION AS OF 'not-a-version'").collect()
    }
    assert(ex.getMessage != null)
  }

  test("$changes metadata table: the edit log in SQL, composing with time travel") {
    seed("ch", (0 until 10).flatMap(i =>
      Seq((f"C-$i%02d", 10L + i, s"v1-$i"), (f"C-$i%02d", 30L + i, s"v2-$i"))))
    FileStore(root).deleteCells("ch",
      Seq(("C-03".getBytes("UTF-8"), 50L), ("C-04".getBytes("UTF-8"), 14L)))
    // the masked default face: C-03 fully masked (both <= 50), C-04
    // loses only v1 (14 >= 10+4, < 30+4)
    assert(spark.table("gtest.ch").count() == 20 - 2 - 1)
    val log = spark.sql("SELECT cast(rowkey as string) AS k, version, op " +
      "FROM gtest.`ch$changes`")
    assert(log.count() == 22, "the edit log reports every edit, masked or not")
    assert(log.filter(col("op") === "delete").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("C-03", 50L), ("C-04", 14L)))
    // time travel bounds the log: edits at versions <= 25 are the v1
    // puts (10..19) plus the C-04 marker at 14
    val bounded = spark.sql("SELECT op, count(*) AS n " +
      "FROM gtest.`ch$changes` VERSION AS OF 25 GROUP BY op")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bounded == Map("put" -> 10L, "delete" -> 1L), s"$bounded")
    // snapshots refuse writes
    val ex = intercept[Exception] {
      CellsTable(root, "ch", asOf = Some(25L))
        .newWriteBuilder(null)
    }
    assert(ex.getMessage.contains("time-travel"))
  }

  test("SQL DELETE writes tombstone markers: bounded, bare-latest, and declined shapes") {
    seed("del", (0 until 8).flatMap(i =>
      Seq((f"D-$i", 10L + i, s"v1-$i"), (f"D-$i", 30L + i, s"v2-$i"))))
    def hexOf(s0: String) = "X'" + s0.getBytes("UTF-8").map(b => f"$b%02x").mkString + "'"
    // bounded: masks only v1 of D-2
    spark.sql(s"DELETE FROM gtest.del WHERE rowkey = ${hexOf("D-2")} AND version <= 20")
    // bare: stamps D-3's latest (33) — the whole key vanishes
    spark.sql(s"DELETE FROM gtest.del WHERE rowkey IN (${hexOf("D-3")}, ${hexOf("D-9")})")
    val left = spark.table("gtest.del")
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(!left.contains(("D-2", 12L)) && left.contains(("D-2", 32L)),
      "bounded delete masks only the covered version")
    assert(!left.exists(_._1 == "D-3"), "bare delete masks the whole key")
    assert(left.size == 16 - 1 - 2)
    // D-9 never existed: the bare delete of an absent key is a no-op —
    // no marker lands for it
    val markers = spark.sql("SELECT cast(rowkey as string) AS k, version " +
      "FROM gtest.`del$changes` WHERE op = 'delete'")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(markers == Set(("D-2", 20L), ("D-3", 33L)), s"$markers")
    // version EQUALITY is the exact-version delete (a `.dv` marker,
    // HBase Delete.addColumn(ts)): only D-1's v1 vanishes — v2 stays
    spark.sql(s"DELETE FROM gtest.del WHERE rowkey = ${hexOf("D-1")} AND version = 11")
    val afterExact = spark.table("gtest.del")
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(!afterExact.contains(("D-1", 11L)) && afterExact.contains(("D-1", 31L)),
      "exact delete masks exactly its version, never older or newer")
    assert(spark.sql("SELECT cast(rowkey as string) AS k, version " +
      "FROM gtest.`del$changes` WHERE op = 'delete_version'")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet == Set(("D-1", 11L)),
      "exact markers are their own edit type in the log")
    // a shape the metadata path can't take (rowkey RANGE) falls back to
    // the ROW-LEVEL rewrite: scan the matched cells, exact-delete each —
    // every predicate shape works, none over-deletes
    spark.sql(s"DELETE FROM gtest.del WHERE rowkey >= ${hexOf("D-6")}")
    val afterRange = spark.table("gtest.del")
      .select(col("rowkey").cast("string")).collect().map(_.getString(0)).toSet
    assert(!afterRange.exists(_ >= "D-6"), "range delete removes exactly the matched keys")
    assert(spark.table("gtest.del").count() == 12 - 4,
      "D-6 and D-7 (2 versions each) gone, nothing else")
  }

  test("MERGE INTO: update puts a new version + exact-deletes the old; insert puts; delete masks") {
    seed("mrg", (0 until 10).map(i => (f"M-$i", 100L + i, s"old-$i")))
    spark.sql("SELECT cast(concat('M-', id) as binary) AS rowkey, 200 + id AS version, " +
      "cast(concat('new-', id) as binary) AS body FROM range(0, 15)")
      .createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO gtest.mrg t USING mrg_src s ON t.rowkey = s.rowkey
         WHEN MATCHED AND t.version = 103 THEN DELETE
         WHEN MATCHED THEN UPDATE SET version = s.version, body = s.body
         WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.table("gtest.mrg")
      .select(col("rowkey").cast("string"), col("version"), col("body").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val expect =
      ((0 until 10).filter(_ != 3).map(i => (s"M-$i", 200L + i, s"new-$i")) ++ // updated
        (10 until 15).map(i => (s"M-$i", 200L + i, s"new-$i"))).toSet          // inserted
    assert(got == expect, s"upserted state: $got")
    // the physics: updates exact-deleted their old coordinate, the
    // matched-DELETE exact-deleted M-3's cell — all visible in the log
    val markers = spark.sql("SELECT cast(rowkey as string) AS k, version, op " +
      "FROM gtest.`mrg$changes` WHERE op != 'put'")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(markers == (0 until 10).map(i => (s"M-$i", 100L + i, "delete_version")).toSet,
      s"one exact marker per replaced/deleted cell, never a bound: $markers")
  }

  test("UPDATE: in-place body rewrite is a pure overwrite put; moving the version exact-deletes") {
    seed("upd", (0 until 6).flatMap(i =>
      Seq((f"U-$i", 10L + i, s"a-$i"), (f"U-$i", 30L + i, s"b-$i"))))
    // in-place: same coordinate, new body — NO marker may land (a
    // marker at the same coordinate would mask the new value)
    spark.sql("UPDATE gtest.upd SET body = cast('patched' as binary) WHERE version <= 15")
    val afterInPlace = spark.table("gtest.upd")
      .select(col("rowkey").cast("string"), col("version"), col("body").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(afterInPlace == (0 until 6).flatMap(i =>
      Seq((s"U-$i", 10L + i, "patched"), (s"U-$i", 30L + i, s"b-$i"))).toSet,
      s"in-place rewrite: $afterInPlace")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.`upd$changes` WHERE op != 'put'")
      .collect()(0).getLong(0) == 0, "in-place updates land no markers")
    // version-moving: the old coordinate must vanish (exact marker),
    // the cell count stays constant
    spark.sql("UPDATE gtest.upd SET version = version + 1000 WHERE version >= 30")
    val afterMove = spark.table("gtest.upd")
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(afterMove == (0 until 6).flatMap(i =>
      Seq((s"U-$i", 10L + i), (s"U-$i", 1030L + i))).toSet, s"moved: $afterMove")
    assert(spark.sql("SELECT count(*) AS n FROM gtest.`upd$changes` WHERE op = 'delete_version'")
      .collect()(0).getLong(0) == 6, "one exact marker per moved cell")
  }

  test("the metadata suffixes are reserved: CREATE and DROP on $latest/$changes decline") {
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE gtest.`shadow$latest` (rowkey BINARY, version BIGINT, body BINARY)")
    }
    assert(e1.getMessage != null)
    seed("sfc", (0 until 3).map(i => (s"F-$i", 1L, s"f-$i")))
    val e2 = intercept[Exception] { spark.sql("DROP TABLE gtest.`sfc$changes`") }
    assert(e2.getMessage != null)
    assert(spark.table("gtest.sfc").count() == 3, "the base table survives the declined drop")
  }

  test("row-level mutations decline the metadata faces and snapshots loudly") {
    seed("rof", (0 until 4).map(i => (f"R-$i", 10L + i, s"r-$i")))
    val e1 = intercept[Exception] {
      spark.sql("UPDATE gtest.`rof$latest` SET body = cast('x' as binary) WHERE version = 10")
    }
    assert(e1.getMessage != null)
    val e2 = intercept[Exception] {
      spark.sql("DELETE FROM gtest.`rof$changes` WHERE version = 10")
    }
    assert(e2.getMessage != null)
    assert(spark.table("gtest.rof").count() == 4, "declined statements mutated nothing")
  }

  test("$latest metadata table: max live version per key, masked, winners-only I/O") {
    // the PUT path (INSERT) lands per-cell files, so opened-file counts
    // discriminate winners from history (flush policy off — the default
    // threshold would fold this backlog into a segment)
    spark.sql("CREATE TABLE gtest.lt (rowkey BINARY, version BIGINT, body BINARY) " +
      "TBLPROPERTIES('compactionThreshold'='0')")
    spark.sql("INSERT INTO gtest.lt " +
      "SELECT cast(concat('L-', id) as binary), 100 + id, cast(concat('v1-', id) as binary) " +
      "FROM range(0, 12)")
    spark.sql("INSERT INTO gtest.lt " +
      "SELECT cast(concat('L-', id) as binary), 200 + id, cast(concat('v2-', id) as binary) " +
      "FROM range(0, 12)")
    // L-3: delete masks EVERYTHING (bound above both); L-4: a marker at
    // v1's version — the latest face serves v2 unchanged
    FileStore(root).deleteCells("lt", Seq((k("L-3"), 999L), (k("L-4"), 104L)))
    CellsSource.filesOpened.set(0)
    val got = spark.sql("SELECT cast(rowkey as string) AS key, version, " +
      "cast(body as string) AS body FROM gtest.`lt$latest`")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val opened = CellsSource.filesOpened.get()
    assert(got == (0 until 12).filter(_ != 3)
      .map(i => (s"L-$i", 200L + i, s"v2-$i")).toSet, s"$got")
    assert(opened == 11,
      s"the $$latest fold opens ONLY winning cells (history pruned at filename level): $opened")
    // the base face still serves full history: 24 cells − L-3's 2
    // (fully masked) − L-4's v1 (the marker at 104 masks ≤ 104)
    assert(spark.table("gtest.lt").count() == 21)
    // equivalence with the DataFrame-side fold (the q27 max_by shape)
    val folded = spark.table("gtest.lt").groupBy(col("rowkey"))
      .agg(max_by(struct(col("version"), col("body")), col("version")).as("m"))
      .select(col("rowkey").cast("string"), col("m.version"), col("m.body").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(folded == got, "tbl$latest ≡ max_by fold over the base face")
    // the face is read-only
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO gtest.`lt$latest` SELECT cast('x' as binary), 1L, cast('y' as binary)")
    }
    assert(e1.getMessage != null)
  }

  test("$latest version-predicate semantics: filter AFTER the fold; lower bounds still push") {
    seed("ltv", (0 until 10).flatMap(i =>
      Seq((f"V-$i", 10L + i, s"old-$i"), (f"V-$i", 30L + i, s"new-$i"))))
    // WHERE version <= T on the latest face: keys whose latest exceeds
    // T DISAPPEAR — the superseded old version must NOT resurface
    // (that would be as-of semantics, which is what VERSION AS OF is for)
    val capped = spark.sql("SELECT cast(rowkey as string) AS key, version " +
      "FROM gtest.`ltv$latest` WHERE version <= 33")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(capped == (0 to 3).map(i => (s"V-$i", 30L + i)).toSet,
      s"filter-after-fold, never resurrection: $capped")
    // VERSION AS OF composes: the as-of serving view DOES fold within
    // the snapshot
    val asOf = spark.sql("SELECT cast(rowkey as string) AS key, version " +
      "FROM gtest.`ltv$latest` VERSION AS OF 33")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(asOf == ((0 to 3).map(i => (s"V-$i", 30L + i)) ++
      (4 until 10).map(i => (s"V-$i", 10L + i))).toSet,
      s"as-of latest folds within the snapshot: $asOf")
    // a LOWER bound prunes and agrees with filter-after-fold
    val floor = spark.sql("SELECT cast(rowkey as string) AS key, version " +
      "FROM gtest.`ltv$latest` WHERE version >= 35")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(floor == (5 until 10).map(i => (s"V-$i", 30L + i)).toSet, s"$floor")
    // point GET on the latest face
    val one = spark.table("gtest.`ltv$latest`").filter(col("rowkey") === lit(k("V-7"))).collect()
    assert(one.length == 1 && one(0).getLong(1) == 37L)
  }

  test("$latest SPJ: a$latest JOIN b$latest joins current state with NO exchange") {
    val points = (1 to 7).map(i => k(s"S-${i}0"))
    // TWO versions per key on each side: the latest faces must join
    // one-row-per-key (no version cross-product), still exchange-free
    seed("lspja", (0 until 80).flatMap(i =>
      Seq((f"S-$i%02d", 1L, s"a1-$i"), (f"S-$i%02d", 2L, s"a2-$i"))), points)
    seed("lspjb", (0 until 80 by 2).flatMap(i =>
      Seq((f"S-$i%02d", 5L, s"b5-$i"), (f"S-$i%02d", 6L, s"b6-$i"))), points)
    val joined = spark.table("gtest.`lspja$latest`").as("a")
      .join(spark.table("gtest.`lspjb$latest`").as("b"), col("a.rowkey") === col("b.rowkey"))
      .select(col("a.rowkey").cast("string").as("key"),
        col("a.body").cast("string").as("ba"), col("b.body").cast("string").as("bb"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"same-layout $$latest faces storage-partition-join with no exchange:\n$plan")
    val got = joined.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(got == (0 until 80 by 2).map(i => (f"S-$i%02d", s"a2-$i", s"b6-$i")).sorted.toSeq,
      "one row per key: each side's current state")
  }

  test("$latest ≡ ColocatedCells.joinLatest: the SQL join and the hand-built region join agree") {
    val points = (1 to 3).map(i => k(s"E-${i}0"))
    seed("eqa", (0 until 40).flatMap(i =>
      Seq((f"E-$i%02d", 1L, s"a1-$i"), (f"E-$i%02d", 2L, s"a2-$i"))), points)
    seed("eqb", (0 until 40 by 2).map(i => (f"E-$i%02d", 7L, s"b-$i")), points)
    // a key fully masked on A must drop from BOTH join faces
    FileStore(root).deleteCells("eqa", Seq((k("E-06"), 99L)))
    val sql = spark.table("gtest.`eqa$latest`").as("a")
      .join(spark.table("gtest.`eqb$latest`").as("b"), col("a.rowkey") === col("b.rowkey"))
      .select(col("a.rowkey"), col("a.version").as("version_a"), col("a.body").as("body_a"),
        col("b.version").as("version_b"), col("b.body").as("body_b"))
    val handBuilt = ColocatedCells.joinLatest(spark, root, "eqa", "eqb")
    def render(df: org.apache.spark.sql.DataFrame) =
      df.select(col("rowkey").cast("string"), col("version_a"),
        col("body_a").cast("string"), col("version_b"), col("body_b").cast("string"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getString(4))).toSet
    assert(render(sql) == render(handBuilt),
      "inner joinLatest ≡ the SQL $latest join")
    assert(render(sql) == (0 until 40 by 2).filter(_ != 6)
      .map(i => (f"E-$i%02d", 2L, s"a2-$i", 7L, s"b-$i")).toSet)
  }

  test("ALTER TABLE retention: reads apply the new cap immediately; the next major GCs the rest") {
    spark.sql("CREATE TABLE gtest.alt (rowkey BINARY, version BIGINT, body BINARY) " +
      "TBLPROPERTIES('maxVersions'='5')")
    spark.sql("INSERT INTO gtest.alt " +
      "SELECT cast(concat('A-', id % 10) as binary), id, cast(concat('b-', id) as binary) " +
      "FROM range(0, 30)") // 3 versions per key, under the cap of 5
    assert(spark.table("gtest.alt").count() == 30)
    spark.sql("ALTER TABLE gtest.alt SET TBLPROPERTIES('maxVersions' = '1')")
    // READ-TIME retention (r15, the HBase StoreScanner contract): the
    // ALTER binds on the very next read — each key serves only its
    // newest version; the over-cap history is merely unreclaimed bytes
    // until the major
    assert(spark.table("gtest.alt").count() == 10,
      "the altered cap masks over-cap versions at read time")
    // a NEW put applies the new cap eagerly to ITS key (the put-path
    // retention), leaving other keys for the major
    spark.sql("INSERT INTO gtest.alt " +
      "SELECT cast('A-3' as binary), 100L, cast('fresh' as binary)")
    val a3 = spark.table("gtest.alt").filter(col("rowkey") === lit(k("A-3"))).collect()
    assert(a3.length == 1 && a3(0).getLong(1) == 100L,
      "the touched key prunes to the new cap on write")
    graft.ingest.Compaction.major(spark, root, "alt")
    val after = spark.table("gtest.alt")
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == ((0 until 10).filterNot(_ == 3).map(i => (s"A-$i", 20L + i)) :+
      ("A-3", 100L)).toSet,
      s"the major applies the altered cap: newest version per key only: $after")
    // SHOW TBLPROPERTIES reflects the altered descriptor
    val props = spark.sql("SHOW TBLPROPERTIES gtest.alt")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("maxVersions").contains("1"), s"$props")
    // anything but maxVersions declines loudly — DDL stays write-once
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gtest.alt SET TBLPROPERTIES('compression' = 'NONE')")
    }
    assert(e.getMessage != null)
  }

  test("streaming reads through the catalog: readStream.table over $changes, exactly-once across restart") {
    val ck = Files.createTempDirectory("cat-stream-ck").toString
    val out = Files.createTempDirectory("cat-stream-out").toString
    spark.sql("CREATE TABLE gtest.str (rowkey BINARY, version BIGINT, body BINARY)")
    def drain(): Unit = {
      val q = spark.readStream.table("gtest.`str$changes`")
        .selectExpr("cast(rowkey as string) AS k", "version", "op")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def rows(): Set[(String, Long, String)] =
      try spark.read.parquet(out).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }
    spark.sql("INSERT INTO gtest.str " +
      "SELECT cast(concat('S-', id) as binary), 10 + id, cast('x' as binary) FROM range(0, 5)")
    drain()
    assert(rows() == (0 until 5).map(i => (s"S-$i", 10L + i, "put")).toSet)
    // restart from the SAME checkpoint: only the new window arrives —
    // a later put batch AND a typed delete marker (pure SQL surface)
    spark.sql("INSERT INTO gtest.str " +
      "SELECT cast(concat('S-', id) as binary), 20 + id, cast('y' as binary) FROM range(0, 3)")
    spark.sql("DELETE FROM gtest.str WHERE rowkey = X'532d30' AND version <= 30") // S-0
    drain()
    val expect2 = (0 until 5).map(i => (s"S-$i", 10L + i, "put")).toSet ++
      (0 until 3).map(i => (s"S-$i", 20L + i, "put")).toSet + (("S-0", 30L, "delete"))
    assert(rows() == expect2, s"exactly-once across restart, deletes typed: ${rows()}")
  }

  test("SPJ on multi-version base tables: the version cross-product per key, still no exchange") {
    val points = (1 to 3).map(i => k(s"X-${i}0"))
    seed("mva", (0 until 40).flatMap(i =>
      Seq((f"X-$i%02d", 1L, s"a1-$i"), (f"X-$i%02d", 2L, s"a2-$i"))), points)
    seed("mvb", (0 until 40 by 4).flatMap(i =>
      Seq((f"X-$i%02d", 5L, s"b5-$i"), (f"X-$i%02d", 6L, s"b6-$i"))), points)
    val joined = spark.table("gtest.mva").as("a")
      .join(spark.table("gtest.mvb").as("b"), col("a.rowkey") === col("b.rowkey"))
      .select(col("a.rowkey").cast("string").as("key"),
        col("a.version").as("va"), col("b.version").as("vb"))
    assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"))
    val got = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // SQL semantics against the HISTORY face: every (versionA, versionB)
    // pair per key — 2×2 rows; a user wanting latest⋈latest writes
    // a$latest JOIN b$latest (the spec above)
    val expect = (0 until 40 by 4).flatMap(i =>
      for (va <- Seq(1L, 2L); vb <- Seq(5L, 6L)) yield (f"X-$i%02d", va, vb)).sorted
    assert(got == expect, "the base-table join is the version cross-product — by design")
  }

  test("SPJ under a skewed layout with partiallyClusteredDistribution: correct, and exchange-free") {
    // ONE region holds 3/4 of the keys (keys K-00..K-59 below the first
    // split point) — the partially-clustered knob lets Spark replicate
    // the small side's matching partitions instead of declining
    val prev = spark.conf.getOption(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    try {
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      val points = Seq(k("K-60"), k("K-70"), k("K-80"))
      seed("ska", (0 until 80).map(i => (f"K-$i%02d", 1L, s"a-$i")), points)
      seed("skb", (0 until 80 by 2).map(i => (f"K-$i%02d", 5L, s"b-$i")), points)
      val joined = spark.table("gtest.ska").as("a")
        .join(spark.table("gtest.skb").as("b"), col("a.rowkey") === col("b.rowkey"))
        .select(col("a.rowkey").cast("string").as("key"),
          col("b.body").cast("string").as("bb"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"skewed same-layout tables still storage-partition-join:\n$plan")
      val got = joined.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got == (0 until 80 by 2).map(i => (f"K-$i%02d", s"b-$i")).sorted.toSeq)
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", v)
      case None => spark.conf.unset(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
    }
  }

  test("$latest statistics unlock broadcast: a history-heavy dim broadcasts as its winners") {
    // 100 keys × 40 versions × 2 KB ≈ 8 MB of history; the serving
    // face is 100 winners ≈ 200 KB. Under a 1 MB broadcast threshold
    // the BASE face is too big to broadcast while the $latest face —
    // sized by the new live-winner statistics — broadcasts.
    val store = FileStore(root)
    // flush policy OFF: the test pins the PUT-file winner sizing (a
    // flushed segment attributes its whole data region to the winners)
    store.ensureTable("bd", graft.ingest.PushTableSink.TableSpec(compactionThreshold = 0))
    val body = Array.fill(2048)('x'.toByte)
    store.putBatch("bd", for (i <- 0 until 100; v <- 1 to 40) yield
      graft.ingest.PushTableSink.CellPut("bd", k(f"B-$i%03d"), v.toLong, body))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1 << 20).toString)
      val baseStats = spark.table("gtest.bd").queryExecution.optimizedPlan.stats.sizeInBytes
      val latestStats = spark.table("gtest.`bd$latest`")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      assert(latestStats * 20 <= baseStats,
        s"the serving face sizes as its winners: latest=$latestStats base=$baseStats")
      val latestJoin = spark.table("gtest.bd").as("f")
        .join(spark.table("gtest.`bd$latest`").as("d"), col("f.rowkey") === col("d.rowkey"))
      assert(latestJoin.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "a sub-threshold $latest dimension must broadcast")
      assert(latestJoin.count() == 100 * 40, "every history cell joins its key's winner")
      val baseJoin = spark.table("gtest.bd").as("f")
        .join(spark.table("gtest.bd").as("d2"), col("f.rowkey") === col("d2.rowkey"))
      assert(!baseJoin.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "the over-threshold history face must not broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("INSERT OVERWRITE truncates data AND markers but preserves descriptor and splits") {
    val points = (1 to 3).map(i => k(s"O-${i}0"))
    seed("ovw", (0 until 40).map(i => (f"O-$i%02d", 100L + i, s"old-$i")), points)
    FileStore(root).deleteCells("ovw", Seq((k("O-05"), 999L)))
    val splitsBefore = FileStore(root).splitsOf("ovw").toJson
    spark.sql("INSERT OVERWRITE gtest.ovw " +
      "SELECT cast(concat('O-0', id) as binary), cast(10 + id as bigint), cast('new' as binary) " +
      "FROM range(0, 8)")
    val got = spark.table("gtest.ovw")
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // O-05 reappears at version 15 < the old marker's 999: a surviving
    // marker would have masked it — truncate cleared the markers
    assert(got == (0 until 8).map(i => (s"O-0$i", 10L + i)).toSet, s"$got")
    assert(FileStore(root).splitsOf("ovw").toJson == splitsBefore,
      "the split layout survives an overwrite (truncate_preserve)")
    assert(FileStore(root).readSpecJson("ovw").isDefined, "the descriptor survives")
    // truncating through a marker write face is nonsense and declines
    val e = intercept[Exception] {
      CellsWriteBuilder(root, "ovw", CellsSource.Schema, tombstone = true).truncate()
    }
    assert(e.getMessage != null)
    // nothing of the staged generation lingers beside the table
    assert(!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, "_overwrite_staging")) ||
      java.nio.file.Paths.get(root, "_overwrite_staging").toFile.listFiles().isEmpty,
      "the overwrite's staging generation is reaped at commit")
  }

  test("a self-referential INSERT OVERWRITE reads the OLD generation (stage-and-swap)") {
    seed("ovwself", (0 until 30).map(i => (f"S-$i%02d", 100L + i, s"gen1-$i")))
    // `INSERT OVERWRITE t SELECT … FROM t` — under an up-front truncate
    // the source scan would see an emptied (or half-loaded) store and
    // the statement would silently eat itself; the staged generation
    // keeps the old store readable until every task commits
    spark.sql("INSERT OVERWRITE gtest.ovwself " +
      "SELECT rowkey, version + 1000, cast(concat(cast(body as string), '+') as binary) " +
      "FROM gtest.ovwself WHERE version < 115")
    val got = spark.table("gtest.ovwself")
      .select(col("rowkey").cast("string"), col("version"), col("body").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == (0 until 15).map(i => (f"S-$i%02d", 1100L + i, s"gen1-$i+")).toSet,
      s"the overwrite must transform the FULL old generation: $got")
  }

  test("row-level writes converge under task retry: re-applied delta actions are idempotent") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val store = FileStore(root)
    store.ensureTable("rty", graft.ingest.PushTableSink.TableSpec())
    store.putBatch("rty", Seq(
      graft.ingest.PushTableSink.CellPut("rty", k("R-0"), 10L, k("a")),
      graft.ingest.PushTableSink.CellPut("rty", k("R-1"), 11L, k("b")),
      graft.ingest.PushTableSink.CellPut("rty", k("R-2"), 12L, k("c"))))
    def row(key: String, v: Long, b: String) =
      new GenericInternalRow(Array[Any](k(key), v, k(b)))
    def id(key: String, v: Long) = new GenericInternalRow(Array[Any](k(key), v))
    // the same action batch applied twice — an at-least-once retry —
    // must land the identical store state (no coordinator anywhere)
    def applyAll(): Unit = {
      val w = CellsDeltaWriterFactory(root, "rty").createWriter(0, 0L)
      w.insert(row("R-new", 50L, "n"))
      w.update(null, id("R-0", 10L), row("R-0", 10L, "patched")) // in place
      w.update(null, id("R-1", 11L), row("R-1", 99L, "moved"))   // coordinate move
      w.delete(null, id("R-2", 12L))
      w.commit()
    }
    def state(): Set[(String, Long, String)] = spark.table("gtest.rty")
      .select(col("rowkey").cast("string"), col("version"), col("body").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    applyAll()
    val once = state()
    assert(once == Set(("R-new", 50L, "n"), ("R-0", 10L, "patched"), ("R-1", 99L, "moved")),
      s"$once")
    applyAll() // the retry
    assert(state() == once, "a replayed action batch converges to the same state")
  }

  test("splitPoints DDL: declared regions route writes; bad hex and layout conflicts decline") {
    val pts = Seq("P-3", "P-6").map(_.getBytes("UTF-8").map(b => f"$b%02x").mkString)
    spark.sql("CREATE TABLE gtest.spt (rowkey BINARY, version BIGINT, body BINARY) " +
      s"TBLPROPERTIES('splitPoints' = '${pts.mkString(",")}')")
    spark.sql("INSERT INTO gtest.spt " +
      "SELECT cast(concat('P-', id) as binary), cast(id as bigint), cast('x' as binary) " +
      "FROM range(0, 9)")
    assert(FileStore(root).splitsOf("spt").size == 3, "2 split points = 3 regions")
    assert(spark.table("gtest.spt").count() == 9)
    // point GET routes through the DECLARED layout
    CellsSource.filesOpened.set(0)
    assert(spark.table("gtest.spt").filter(col("rowkey") === lit(k("P-7"))).count() == 1)
    assert(CellsSource.filesOpened.get() == 1, "the declared split routes point reads")
    // bad hex declines at CREATE
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE gtest.sptbad (rowkey BINARY, version BIGINT, body BINARY) " +
        "TBLPROPERTIES('splitPoints' = 'not-hex!')")
    }
    assert(e1.getMessage != null)
    // a recorded layout is write-once: re-declaring DIFFERENT points on
    // the same store table declines (FileStore.ensureSplits contract)
    val e2 = intercept[Exception] {
      FileStore(root).ensureSplits("spt",
        FileStore.Splits.ofSplitPoints(Seq(k("Q-1"))))
    }
    assert(e2.getMessage.contains("different split layout"))
  }

  test("CALL procedures: compaction and the backup/restore chain as SQL maintenance verbs") {
    spark.sql("CREATE TABLE gtest.proc (rowkey BINARY, version BIGINT, body BINARY) " +
      "TBLPROPERTIES('maxVersions'='2')")
    (1 to 4).foreach { v =>
      spark.sql("INSERT INTO gtest.proc " +
        s"SELECT cast(concat('C-', id) as binary), cast(${v}00 + id as bigint), " +
        s"cast(concat('v$v-', id) as binary) FROM range(0, 12)")
    }
    // the put path already pruned to the cap eagerly; a major then
    // rewrites into fresh segments and reports through the CALL result
    val rep = spark.sql("CALL gtest.compact_major(`table` => 'proc')").collect()(0)
    assert(rep.getLong(0) == 24, s"kept = 12 keys x 2 retained versions: $rep")
    val after = spark.table("gtest.proc")
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == (0 until 12).flatMap(i => Seq((s"C-$i", 300L + i), (s"C-$i", 400L + i))).toSet)
    // backup → mutate → incremental → restore, all through CALL
    val bak = Files.createTempDirectory("proc-bak").toString
    spark.sql(s"CALL gtest.backup_full(`table` => 'proc', dir => '$bak')")
    spark.sql("DELETE FROM gtest.proc WHERE rowkey = X'432d33'") // C-3, bare
    val incr = spark.sql(
      s"CALL gtest.backup_incremental(`table` => 'proc', dir => '$bak')").collect()(0)
    assert(incr.getLong(1) == 1, s"one increment recorded: $incr")
    // restore into a SECOND catalog root via ITS procedure
    val root2 = Files.createTempDirectory("proc-restore").toString
    val cat2 = "gtest2_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    spark.conf.set(s"spark.sql.catalog.$cat2", classOf[CellsCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat2.root", root2)
    spark.sql(s"CALL $cat2.restore_backup(dir => '$bak')")
    val restored = spark.table(s"$cat2.proc")
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(restored == after.filterNot(_._1 == "C-3"),
      "the restored replica carries the post-delete masked view")
    // CALL resplit migrates the restored table to a finer layout in a
    // third root — the layout-migration verb
    val root3 = Files.createTempDirectory("proc-resplit").toString
    val pts = Seq("C-4", "C-8").map(_.getBytes("UTF-8").map(b => f"$b%02x").mkString)
    val rs = spark.sql(s"CALL $cat2.resplit(`table` => 'proc', dst_root => '$root3', " +
      s"split_points => '${pts.mkString(",")}')").collect()(0)
    assert(rs.getLong(0) == restored.size, s"every live cell migrated: $rs")
    assert(FileStore(root3).splitsOf("proc").size == 3, "2 points = 3 regions at the destination")
    val migrated = spark.read.format("graft-cells")
      .option("root", root3).option("table", "proc").load()
      .select(col("rowkey").cast("string"), col("version"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(migrated == restored, "resplit preserves content exactly")
    // CALL compact_minor merges a fresh put backlog into the restored
    // root's segments, region-locally (no GC — cell count only grows
    // by the inserts)
    val before = spark.table(s"$cat2.proc").count()
    spark.sql(s"INSERT INTO $cat2.proc " +
      "SELECT cast(concat('N-', id) as binary), cast(900 + id as bigint), " +
      "cast('fresh' as binary) FROM range(0, 5)")
    val mn = spark.sql(s"CALL $cat2.compact_minor(`table` => 'proc')").collect()(0)
    assert(mn.getLong(0) >= 5, s"the minor merged the put backlog: $mn")
    assert(spark.table(s"$cat2.proc").count() == before + 5, "minors never drop cells")
    // discovery: every advertised verb resolves
    val cat = spark.sessionState.catalogManager.catalog("gtest")
      .asInstanceOf[CellsCatalog]
    val listed = cat.listProcedures(Array.empty).map(_.name()).toSet
    assert(listed == Set("compact_major", "compact_minor", "backup_full",
      "backup_incremental", "restore_backup", "resplit", "vacuum",
      "snapshot", "clone_snapshot", "drop_snapshot", "restore_snapshot",
      "list_snapshots", "check_and_put", "check_and_delete", "append",
      "increment", "merge_regions"), s"$listed")
    listed.foreach { n =>
      assert(cat.loadProcedure(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, n)) != null)
    }
    // unknown procedures decline with the available list
    val e = intercept[Exception] { spark.sql("CALL gtest.nope()") }
    assert(e.getMessage != null)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bak))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root2))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root3))
  }

  test("namespaces: the HBase one-level ns model — CREATE/SHOW/USE/DROP, implicit from ns:tbl names") {
    spark.sql("CREATE NAMESPACE gtest.reporting")
    // implicit namespace from a namespaced table; explicit marker for the empty one
    spark.sql("CREATE TABLE gtest.audit.ledger (rowkey BINARY, version BIGINT, body BINARY)")
    val ns = spark.sql("SHOW NAMESPACES IN gtest").collect().map(_.getString(0)).toSet
    assert(ns.contains("reporting") && ns.contains("audit"), s"$ns")
    // USE + unqualified resolution
    spark.sql("USE gtest.audit")
    spark.sql("INSERT INTO ledger SELECT cast('k' as binary), 1L, cast('v' as binary)")
    assert(spark.table("ledger").count() == 1)
    spark.sql(s"USE spark_catalog.default")
    // SHOW TABLES scoped to the namespace
    val tbls = spark.sql("SHOW TABLES IN gtest.audit").collect().map(_.getString(1)).toSet
    assert(tbls == Set("ledger"), s"$tbls")
    // non-empty namespace refuses a bare drop; cascade removes table + ns
    val e = intercept[Exception] { spark.sql("DROP NAMESPACE gtest.audit") }
    assert(e.getMessage != null)
    spark.sql("DROP NAMESPACE gtest.audit CASCADE")
    spark.sql("DROP NAMESPACE gtest.reporting")
    val after = spark.sql("SHOW NAMESPACES IN gtest").collect().map(_.getString(0)).toSet
    assert(!after.contains("audit") && !after.contains("reporting"), s"$after")
    // duplicate create declines
    spark.sql("CREATE NAMESPACE gtest.dup")
    val e2 = intercept[Exception] { spark.sql("CREATE NAMESPACE gtest.dup") }
    assert(e2.getMessage != null)
    spark.sql("DROP NAMESPACE gtest.dup")
  }

  test("catalog verbs: SHOW CREATE TABLE, REFRESH TABLE, DESCRIBE EXTENDED all resolve") {
    spark.sql("CREATE TABLE gtest.verbs (rowkey BINARY, version BIGINT, body BINARY) " +
      "TBLPROPERTIES('maxVersions'='2')")
    val ddl = spark.sql("SHOW CREATE TABLE gtest.verbs").collect()(0).getString(0)
    assert(ddl.contains("rowkey") && ddl.contains("maxVersions"), ddl)
    spark.sql("REFRESH TABLE gtest.verbs") // cache invalidation is a no-op but must resolve
    val desc = spark.sql("DESCRIBE EXTENDED gtest.verbs").collect()
      .map(r => r.getString(0)).toSet
    assert(desc.contains("rowkey") && desc.contains("version") && desc.contains("body"))
  }

  test("TRUNCATE TABLE: truncate_preserve — data and markers go, descriptor and splits survive") {
    val pts = Seq("T-4").map(_.getBytes("UTF-8").map(b => f"$b%02x").mkString)
    spark.sql("CREATE TABLE gtest.trnc (rowkey BINARY, version BIGINT, body BINARY) " +
      s"TBLPROPERTIES('maxVersions'='3', 'splitPoints' = '${pts.mkString(",")}')")
    spark.sql("INSERT INTO gtest.trnc " +
      "SELECT cast(concat('T-', id) as binary), cast(id as bigint), " +
      "cast('x' as binary) FROM range(0, 9)")
    spark.sql("DELETE FROM gtest.trnc WHERE rowkey = X'542d32'") // T-2: a marker too
    assert(spark.table("gtest.trnc").count() == 8)
    spark.sql("TRUNCATE TABLE gtest.trnc")
    assert(spark.table("gtest.trnc").count() == 0, "every cell goes")
    // descriptor and layout survive (truncate_preserve); a reload is
    // NOT masked by any surviving marker — T-2 is visible again
    val props = spark.sql("SHOW TBLPROPERTIES gtest.trnc")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(props("maxVersions") == "3" && props("splitPoints") == pts.mkString(","))
    spark.sql("INSERT INTO gtest.trnc " +
      "SELECT cast(concat('T-', id) as binary), cast(100 + id as bigint), " +
      "cast('y' as binary) FROM range(0, 9)")
    assert(spark.table("gtest.trnc").count() == 9, "the reload lands unmasked")
    // the metadata faces decline
    val e = intercept[Exception] { spark.sql("TRUNCATE TABLE gtest.`trnc$latest`") }
    assert(e.getMessage != null)
  }

  test("CALL vacuum: orphaned staging/trash generations and torn .tmp files swept, age-gated, live data untouched") {
    import java.nio.file.Paths
    spark.sql("CREATE TABLE gtest.vac (rowkey BINARY, version BIGINT, body BINARY)")
    spark.sql("INSERT INTO gtest.vac " +
      "SELECT cast(concat('V-', id) as binary), cast(id as bigint), " +
      "cast('live' as binary) FROM range(0, 8)")
    // a crashed overwrite's staging generation, a torn commit's trash
    val staging = Paths.get(root, "_overwrite_staging", "dead-q1", "vac")
    Files.createDirectories(staging)
    Files.write(staging.resolve("junk.bin"), Array.fill[Byte](64)(1))
    val trash = Paths.get(root, "_overwrite_trash", "dead-q2", "vac")
    Files.createDirectories(trash)
    Files.write(trash.resolve("old.bin"), Array.fill[Byte](32)(2))
    // a torn put task's .tmp inside a real shard directory
    val shard = {
      val l = Files.list(Paths.get(root, "vac"))
      try l.iterator().asScala.filter(Files.isDirectory(_)).next() finally l.close()
    }
    val torn = Files.write(shard.resolve("put-torn.tmp"), Array.fill[Byte](16)(3))
    // default age gate (24h): everything here is seconds old — NOTHING sweeps
    val r0 = spark.sql("CALL gtest.vacuum()").collect()(0)
    assert((0 to 3).map(r0.getLong).sum == 0L, s"fresh artifacts survive the age gate: $r0")
    assert(Files.exists(staging) && Files.exists(torn))
    // explicit 0: the known-crash override sweeps all three classes
    val r = spark.sql("CALL gtest.vacuum(older_than_ms => 0)").collect()(0)
    assert(r.getLong(0) == 1 && r.getLong(1) == 1 && r.getLong(2) == 1, s"$r")
    assert(r.getLong(3) >= 64 + 32 + 16, s"bytes reclaimed accounted: $r")
    assert(!Files.exists(staging) && !Files.exists(trash) && !Files.exists(torn))
    // live data and DDL untouched; a second vacuum finds nothing
    assert(spark.table("gtest.vac").count() == 8, "live cells survive")
    val r2 = spark.sql("CALL gtest.vacuum(older_than_ms => 0)").collect()(0)
    assert((0 to 3).map(r2.getLong).sum == 0L, s"idempotent: $r2")
  }

  test("rowkey_of: the engine's K3 derivation as a catalog SQL function; a literal call folds into a point GET") {
    spark.sql("CREATE TABLE gtest.rkfn (rowkey BINARY, version BIGINT, body BINARY)")
    val ids = (0 until 12).map(i => s"""{"id":"R-$i"}""")
    val sp = spark; import sp.implicits._
    graft.ingest.BulkLoad.writeCells(
      ids.zipWithIndex.map { case (j, i) =>
        ("rkfn", graft.functions.HdiRowkey.compute(j), 100L + i, s"v-$i".getBytes("UTF-8"))
      }.toDF("tableName", "rowkey", "version", "body"), root)
    // the function resolves, binds, and computes the engine's bytes
    val viaSql = spark.sql("""SELECT gtest.rowkey_of('{"id":"R-3"}') AS rk""")
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql, graft.functions.HdiRowkey.compute(ids(3))))
    // a literal call constant-folds, so the equality reaches the scan
    // as a POINT predicate (digest + shard pruning, not a table scan)
    CellsSource.filesOpened.set(0)
    val got = spark.sql(
      """SELECT version, cast(body as string) AS b FROM gtest.rkfn
         WHERE rowkey = gtest.rowkey_of('{"id":"R-3"}')""").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((103L, "v-3")))
    assert(CellsSource.filesOpened.get() <= 1,
      s"the folded literal must prune to one probed file, opened ${CellsSource.filesOpened.get()}")
    // discovery lists it; a bad input type declines at bind
    val listed = spark.sessionState.catalogManager.catalog("gtest")
      .asInstanceOf[CellsCatalog].listFunctions(Array.empty).map(_.name()).toSet
    assert(listed.contains("rowkey_of"), s"$listed")
    val e = intercept[Exception] { spark.sql("SELECT gtest.rowkey_of(42)").collect() }
    assert(e.getMessage != null)
  }

  test("different layouts decline SPJ: the join shuffles (and still answers correctly)") {
    seed("spjc", (0 until 40).map(i => (f"K-$i%02d", 1L, s"c-$i")),
      (1 to 7).map(i => k(s"K-${i}0")))
    seed("spjd", (0 until 40 by 2).map(i => (f"K-$i%02d", 5L, s"d-$i")),
      (1 to 3).map(i => k(s"K-${i * 2}0")))
    val joined = spark.table("gtest.spjc").as("c")
      .join(spark.table("gtest.spjd").as("d"), col("c.rowkey") === col("d.rowkey"))
    assert(joined.queryExecution.executedPlan.toString.contains("Exchange"),
      "mismatched layouts must fall back to a shuffle join")
    assert(joined.count() == 20)
  }
}
