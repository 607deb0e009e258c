package org.apache.spark

/** Two Spark internals the benchmark harness reads from outside the
  * library: draining the listener bus, so every event of a query has
  * been delivered before its spans are closed, and the process-wide
  * codegen compile counter. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
