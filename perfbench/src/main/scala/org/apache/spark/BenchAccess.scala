package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark reads from outside the program:
  * draining the listener bus (so every job, task and SQL event of an
  * operation is counted before the next operation starts) and the
  * whole-stage-codegen compile counter.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
