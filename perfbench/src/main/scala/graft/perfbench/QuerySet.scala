package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `query_overhead`: overhead-bound rows of the query surface, run in
  * sequence on one session through [[SparkEntry.queries]] over tables
  * `run.py` generated from the seed (`--sf-dir`). The warm-up pass writes
  * each result as parquet for the DuckDB oracle check `run.py` makes
  * after this process ends; timed passes `count()` each query, as the
  * repository's query bench does, and must reproduce the warm-up's row
  * counts. Ingest stays idle. */
final class QuerySet(spark: SparkSession, a: Main.Args, checks: Main.Checks) extends Workload {
  import QuerySet._

  private val results = a.work.resolve("query_results")
  private var rows = Map.empty[String, Long]

  def setup(): Seq[(String, Double)] = {
    Main.deleteTree(results)
    val written = Queries.map { q =>
      val (n, s) = Main.time {
        val out = results.resolve(q).toString
        SparkEntry.queries(q)(spark, a.sfDir).coalesce(1).write.mode("overwrite").parquet(out)
        spark.read.parquet(out).count()
      }
      rows += q -> n
      s"warm_up.$q" -> s
    }
    // one untimed pass as the timed ones run it: the JIT is still
    // compiling the operators after the first run of each query
    val (_, again) = Main.time(Queries.foreach(one))
    written :+ ("warm_up.pass" -> again)
  }

  private def one(q: String): Double = {
    val (n, s) = Main.time(SparkEntry.queries(q)(spark, a.sfDir).count())
    checks(n == rows(q), s"$q returned $n rows, warm-up returned ${rows(q)}")
    s
  }

  def timed(): Main.Result = {
    val perQuery = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    // at least three passes: each query's best of them is its time, so
    // a query gets three chances at a pass the machine did not disturb
    val timed = Main.passes(a.seconds, least = 3) { _ => Queries.foreach(q => perQuery(q) :+= one(q)) }
    // the query-set time: each query's best over the passes, summed, so
    // a disturbance in one query's pass does not cost the other's
    val setS = Queries.map(q => perQuery(q).min).sum
    Main.Result(Seq(("pass_s", setS, "s")),
      Seq("workload" -> Name, "passes" -> timed.walls, "pass_cpu_s" -> timed.cpus,
        "queries_per_s" -> Queries.size / setS, "query_set_s" -> setS,
        "query_s" -> perQuery.toMap, "rows" -> rows),
      extra = oracleExtra)
  }

  private def oracleExtra: Map[String, String] =
    Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

  def traced(): Main.Result = {
    val untracedS = (0 to 1).map(_ => Queries.map(one).sum).min
    val listen = new Listen(spark)
    Trace.enabled = true
    val perQuery = Queries.flatMap { q =>
      val (wall, w) = listen.around(Trace.span(s"queries.$q")(one(q)))
      w.recordJobs(Trace.lastDriverSpan)
      val jobMs = w.jobSeconds * 1e3
      Seq("wall_s" -> wall, "planning_ms" -> w.planningMs, "job_ms" -> jobMs,
        "residue_ms" -> math.max(0.0, wall * 1e3 - jobMs - w.planningMs), "jobs" -> w.jobs.size.toDouble,
        "shuffle_write_bytes" -> w.shuffleWrite.toDouble, "state_commit_ms" -> w.commitMs.toDouble)
        .map { case (k, v) => (s"queries.$q.$k", v) }
    }
    val all = listen.since(0L)
    listen.close()
    Trace.enabled = false
    val tracedS = Queries.map(q => Trace.busy(s"queries.$q")).sum
    val metrics = perQuery ++ Seq(
      "spark.executor_cpu_s" -> all.cpuSeconds, "spark.gc_s" -> all.gcSeconds,
      "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble, "spark.spill_bytes" -> all.spill.toDouble,
      "spark.tasks" -> all.tasks.size.toDouble, "trace.overhead_s" -> (tracedS - untracedS))
    Main.Result(metrics.map { case (k, v) => (k, v, "") },
      Seq("untraced_pass_s" -> untracedS, "traced_pass_s" -> tracedS,
        "self_time_s" -> Trace.selfTimeByLayer.toSeq.sortBy(-_._2).take(8).toMap),
      extra = oracleExtra)
  }
}

object QuerySet {
  val Name = "query_overhead"
  val Queries: Seq[String] = Seq("q153_triangles", "q161_stream_late_drop")
}
