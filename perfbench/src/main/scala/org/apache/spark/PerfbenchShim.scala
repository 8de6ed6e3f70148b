package org.apache.spark

/**
 * Access to `private[spark]` state: the listener bus (the registry's
 * traced pass waits for every QueryExecutionListener event of a query
 * before the next one starts, so each event is attributed to the query
 * that made it) and the count of generated classes compiled so far.
 */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def codegenCompiles: Long = metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
