package graft.perfbench

import graft.core.Envelope
import graft.ingest.{FileStore, HttpKeyService, IngestPipeline}
import org.apache.spark.sql.SparkSession

/** Class-loading training run, made once per build: a tiny import and
  * a tiny aggregate load the classes every workload needs, and the JVM
  * archives them at exit (`-XX:ArchiveClassesAtExit`), so later runs
  * start their session without scanning every Spark jar for each
  * class. Nothing it computes is measured. */
object Train {
  def run(spark: SparkSession, a: Main.Args): Unit = {
    val dump = Gen.dumps(a.work.resolve("in"), a.seed, Gen.Shape(files = 2, records = 40))
    val dks = new Dks(a.seed)
    try {
      val store = a.work.resolve("store").toString
      IngestPipeline.run(spark, Seq(dump.dir.toString), "", a.work.resolve("manifests").toString,
        HttpKeyService(dks.url), Envelope.RunIdentity.live("perfbench", "perfbench"),
        pushStore = Some(() => FileStore(store)))
    } finally dks.close()
    spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count().collect()
  }
}
