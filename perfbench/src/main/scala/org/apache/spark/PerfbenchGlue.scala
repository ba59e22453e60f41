package org.apache.spark

/** Lets the benchmark's traced run wait until every listener event
  * posted so far has been delivered, so a span's Spark-side numbers are
  * complete when the span is read. */
object PerfbenchGlue {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
