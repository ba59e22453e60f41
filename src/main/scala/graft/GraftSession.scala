package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every driver main and
  * every spec starts its session here, so the settings the job and its
  * gates rely on are decided once:
  *   - master `local[threads]`, with shuffle partitions = threads;
  *   - a UTC session clock;
  *   - `spark.sql.legacy.parquet.nanosAsLong`, so the nanosecond
  *     `events.parquet` reads as longs (`queries.Tables.events` turns
  *     them into micros timestamps);
  *   - no UI, WARN logging.
  * They go in as builder config, so a `newSession()` child inherits
  * them too. A caller that needs more (a catalog, a join strategy, a
  * different partition count) sets runtime SQL confs on the returned
  * session.
  *
  * `ingest.IngestMain` keeps its own builder: under spark-submit its
  * master comes from the submit line, and it reuses a caller's session.
  */
object GraftSession {

  /** Local threads for a driver main: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** A local session with the base settings. `taskAttempts` > 1 gives
    * `local[threads,taskAttempts]`, for specs that provoke a task retry. */
  def local(threads: Int = cpus, taskAttempts: Int = 1): SparkSession = {
    val master =
      if (taskAttempts == 1) s"local[$threads]" else s"local[$threads,$taskAttempts]"
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
