package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Spark's public listeners, for the traced run only: jobs (also
  * recorded as `spark.job` spans), task metrics, query-planning phases,
  * the graft-cells DSv2 custom metrics, and streaming state commits.
  * Events carry wall-clock milliseconds; [[window]] sums whatever fell
  * inside one span. */
final class Listen(spark: SparkSession) {
  import Listen._

  private val tasks = ArrayBuffer.empty[Task]
  private val jobs = ArrayBuffer.empty[Job]
  private val queries = ArrayBuffer.empty[Query]
  private val progress = ArrayBuffer.empty[Progress]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobStart(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += Job(s, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null)
        tasks += Task(e.taskInfo.finishTime, e.stageId, e.taskInfo.duration, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planning = qe.tracker.phases.values.map(p => p.durationMs).sum.toDouble
      val custom = Seq("filesOpened", "cellsEmitted")
      val ms = Listen.plans.collectWithSubqueries(qe.executedPlan) { case p => p.metrics }.flatten
        .collect { case (k, v) if custom.contains(k) => k -> v.value }
      val parts = Listen.plans.collectWithSubqueries(qe.executedPlan) {
        case b: BatchScanExec => b.inputPartitions.size.toLong
      }
      val agg = (ms :+ ("partitions" -> parts.sum)).groupMapReduce(_._1)(_._2)(_ + _)
      synchronized(queries += Query(System.currentTimeMillis(), planning, agg))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      progress += Progress(System.currentTimeMillis(), e.progress.stateOperators.map(_.commitTimeMs).sum)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Everything the listeners saw between two wall-clock instants. */
  final case class Window(tasks: Seq[Task], jobs: Seq[Job], queries: Seq[Query], commitMs: Long) {
      /** the jobs as `spark.job` spans under `parent` */
    def recordJobs(parent: Long): Unit =
      jobs.foreach(j => Trace.record("spark.job", parent, Listen.toNs(j.startMs), Listen.toNs(j.endMs)))
    def jobSeconds: Double =
      Trace.covered(jobs.map(j => (j.startMs * 1000000L, j.endMs * 1000000L)), Long.MinValue, Long.MaxValue)
    def cpuSeconds: Double = tasks.map(_.cpuNs).sum / 1e9
    def gcSeconds: Double = tasks.map(_.gcMs).sum / 1e3
    def shuffleWrite: Long = tasks.map(_.shuffleWrite).sum
    def spill: Long = tasks.map(_.spill).sum
    def planningMs: Double = queries.map(_.planningMs).sum
    def metric(name: String): Long = queries.map(_.metrics.getOrElse(name, 0L)).sum
    /** max ÷ median task time of the stage with the most tasks */
    def taskSkew: Double = {
      val byStage = tasks.groupBy(_.stage)
      if (byStage.isEmpty) 0.0
      else {
        val d = byStage.values.maxBy(_.size).map(_.durationMs.toDouble).sorted
        d.last / math.max(1.0, d(d.size / 2))
      }
    }
  }

  /** Everything delivered since `fromMs`; drains the listener bus first
    * so the window is complete. */
  def since(fromMs: Long): Window = {
    org.apache.spark.PerfbenchGlue.drainListenerBus(spark.sparkContext)
    val toMs = System.currentTimeMillis()
    synchronized {
      Window(tasks.filter(t => t.endMs >= fromMs && t.endMs <= toMs).toSeq,
        jobs.filter(j => j.startMs >= fromMs && j.endMs <= toMs).toSeq,
        queries.filter(q => q.endMs >= fromMs && q.endMs <= toMs).toSeq,
        progress.filter(p => p.endMs >= fromMs && p.endMs <= toMs).map(_.commitMs).sum)
    }
  }

  /** Run `f` and return its result with the listener window around it. */
  def around[T](f: => T): (T, Window) = {
    val t0 = System.currentTimeMillis()
    val r = f
    (r, since(t0))
  }
}

object Listen {
  final case class Task(endMs: Long, stage: Int, durationMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, spill: Long)
  final case class Job(startMs: Long, endMs: Long)
  final case class Query(endMs: Long, planningMs: Double, metrics: Map[String, Long])
  final case class Progress(endMs: Long, commitMs: Long)
  /** plan walks that descend into adaptive query stages */
  private object plans extends AdaptiveSparkPlanHelper
  // wall-clock ms → the nanoTime base the span recorder uses
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def toNs(ms: Long): Long = ns0 + (ms - ms0) * 1000000L
}
