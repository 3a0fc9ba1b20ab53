package org.apache.spark

/** the one package-private Spark call the benchmark needs */
object GraftbenchBridge {
  /** waits, bounded, until every posted listener event is delivered */
  def drainListeners(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
