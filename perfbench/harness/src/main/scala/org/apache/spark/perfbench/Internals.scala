package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark internals the harness reads that are `private[spark]`
  * in Scala (public in bytecode): the listener bus, so a traced key's
  * events are all delivered before they are attributed to it, and the
  * codegen compile counter. */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
