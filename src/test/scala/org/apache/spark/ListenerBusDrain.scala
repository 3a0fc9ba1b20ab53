package org.apache.spark

/** waits until every posted listener event (job starts, query-execution
  * callbacks) has been delivered, so a spec can count them exactly */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
