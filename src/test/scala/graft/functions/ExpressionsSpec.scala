package graft.functions

import graft.SparkSuite
import graft.core.{DateFmt, Json, Rowkey}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native expression parity: SQL-registered codegen expressions agree
  * byte-for-byte with the pure core functions, survive whole-stage
  * codegen, and register through SparkSessionExtensions. */
class ExpressionsSpec extends AnyFunSuite with SparkSuite {

  override protected def threads = 2

  // registration through the documented static conf
  // `spark.sql.extensions=graft.GraftExtensions`, which a new context
  // reads from `spark.*` system properties
  override def beforeAll(): Unit = {
    System.setProperty("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
    try super.beforeAll() finally System.clearProperty("spark.sql.extensions")
  }

  test("kafka_date_format matches core.DateFmt over both input formats") {
    val sp = spark; import sp.implicits._
    val inputs = Seq(
      "2018-12-01T15:01:02.000Z", "2018-12-01T15:01:02.183Z",
      "2018-12-01T15:01:02.000+0100", "1980-01-01T00:00:00.000+0000")
    val out = inputs.toDF("s").selectExpr("kafka_date_format(s) AS k").as[String].collect()
    assert(out.toSeq == inputs.map(DateFmt.kafkaFormat))
  }

  test("hdi_rowkey matches core.Rowkey bytes (CRC prefix + sorted json)") {
    val sp = spark; import sp.implicits._
    val ids = Seq("""{"someId": "G", "declarationId": "d1"}""", """{"id": "x"}""")
    val out = ids.toDF("j").selectExpr("hdi_rowkey(j) AS k").as[Array[Byte]].collect()
    out.zip(ids).foreach { case (bytes, id) =>
      assert(bytes.sameElements(Rowkey.generateKey(Json.parseObject(id))))
    }
  }

  test("nfc composes decomposed sequences, is idempotent, and passes nulls through") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      "Cafe\u0301",           // e + combining acute -> e-acute
      "Caf\u00e9",            // already composed: unchanged
      "A\u030angstro\u0308m", // combining ring + diaeresis
      "plain ascii", "")
    val out = rows.toDF("s").selectExpr("nfc(s) AS n").as[String].collect()
    assert(out(0) == "Caf\u00e9")
    assert(out(1) == "Caf\u00e9")
    assert(out(2) == "\u00c5ngstr\u00f6m")
    assert(out(3) == "plain ascii" && out(4) == "")
    // idempotent: nfc(nfc(x)) == nfc(x)
    val twice = rows.toDF("s").selectExpr("nfc(nfc(s)) AS n").as[String].collect()
    assert(twice.toSeq == out.toSeq)
    val withNull = Seq[String](null).toDF("s").selectExpr("nfc(s) AS n").collect()
    assert(withNull.head.isNullAt(0))
  }

  test("nfc: interpreted eval equals the codegen path") {
    val in = "Cafe\u0301 x\u0308"  // -> e-acute and precomposed U+1E8D
    val e = NfcNormalize(org.apache.spark.sql.catalyst.expressions.Literal(in))
    val interpreted = e.eval(null).toString
    val sp = spark; import sp.implicits._
    val viaCodegen = Seq(in).toDF("s").selectExpr("nfc(s) AS n").as[String].head()
    assert(interpreted == viaCodegen && viaCodegen == "Caf\u00e9 \u1e8d")
  }

  test("sorted_intersect_size: equals array_intersect size on random sorted sets, interpreted == codegen") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val cases = (0 until 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L))) :+ ((Seq(5L), Seq(5L)))
    val df = cases.toDF("a", "b")
      .selectExpr("a", "b",
        "sorted_intersect_size(a, b) AS fast",
        "CAST(size(array_intersect(a, b)) AS BIGINT) AS ref")
    val bad = df.filter(col("fast") =!= col("ref")).count()
    assert(bad == 0)
    // interpreted path agrees with the codegen'd result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val e = SortedLongIntersectSize(
      Literal(new GenericArrayData(Array(1L, 3L, 7L, 9L)), ArrayType(LongType)),
      Literal(new GenericArrayData(Array(2L, 3L, 9L, 11L)), ArrayType(LongType)))
    assert(e.eval(null) == 2L)
  }

  test("expressions run inside whole-stage codegen (no fallback fence)") {
    val df = spark.range(100).selectExpr(
      "kafka_date_format('2018-12-01T15:01:02.000Z') AS k",
      """hdi_rowkey('{"id": "a"}') AS r""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), s"no codegen span in:\n$plan")
    assert(df.count() == 100)
  }

  test("bloom_might_contain: zero false negatives, interpreted equals codegen, fpp in spec") {
    val sp = spark; import sp.implicits._
    val keys = sp.range(0, 10000).filter($"id" % 3 === 0).toDF("id")
    val bloom = keys.stat.bloomFilter("id", 4000, 0.01)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    def probe(df: org.apache.spark.sql.DataFrame) = df.filter(
      org.apache.spark.sql.GraftSqlGlue.column(graft.functions.BloomKeyMightContain(
        org.apache.spark.sql.GraftSqlGlue.expression($"id"), bytes)))
    // no false negatives: every inserted key passes
    assert(probe(keys).count() == keys.count())
    // false positives bounded: non-members passing stay well under 5× fpp
    val nonMembers = sp.range(0, 10000).filter($"id" % 3 =!= 0).toDF("id")
    val fp = probe(nonMembers).count().toDouble / nonMembers.count()
    assert(fp < 0.05, s"false-positive rate $fp")
    // interpreted eval agrees with the codegen path on a sample
    val e = graft.functions.BloomKeyMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(42L), bytes)
    assert(e.eval(null) == bloom.mightContainLong(42L))
  }

  test("topk_longs: equals sort-based top-k on adversarial distributions, heap never exceeds k") {
    val sp = spark; import sp.implicits._
    graft.functions.GraftFunctions.register(sp)
    // adversarial inputs: duplicates across the cut, ascending, descending,
    // single-element groups, ties everywhere
    val rows = Seq(
      (1, Seq(5L, 5L, 5L, 5L, 1L)), (2, Seq(1L, 2L, 3L, 4L, 5L, 6L)),
      (3, Seq(9L, 8L, 7L)), (4, Seq(42L)), (5, Seq(2L, 2L, 2L, 2L))
    ).flatMap { case (g, vs) => vs.map(v => (g, v)) }
    val df = rows.toDF("g", "v")
    val got = df.groupBy($"g")
      .agg(org.apache.spark.sql.functions.expr("topk_longs(v, 3)").as("topk"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val want = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted.reverse.take(3)
    }
    assert(got == want, s"got $got want $want")
    // unit heap: bounded size, eviction order
    val h = new graft.functions.TopKHeap(2)
    Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L).foreach(h.insert)
    assert(h.size == 2 && h.sortedDesc.toSeq == Seq(9L, 6L))
    // merge == union semantics
    val h1 = new graft.functions.TopKHeap(3); Seq(1L, 2L, 3L).foreach(h1.insert)
    val h2 = new graft.functions.TopKHeap(3); Seq(10L, 0L).foreach(h2.insert)
    h1.mergeFrom(h2)
    assert(h1.sortedDesc.toSeq == Seq(10L, 3L, 2L))
  }

  test("null input yields null, unparseable input throws (reference F4 semantics)") {
    val sp = spark; import sp.implicits._
    val out = Seq[String](null).toDF("s").selectExpr("kafka_date_format(s) AS k").collect()
    assert(out.head.isNullAt(0))
    val err = intercept[Exception] {
      Seq("nope").toDF("s").selectExpr("kafka_date_format(s)").collect()
    }
    assert(err.toString.toLowerCase.contains("unparseable") || err.getCause != null)
  }
}
