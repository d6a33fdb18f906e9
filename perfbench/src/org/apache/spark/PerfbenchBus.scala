package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * span's listener counts are complete when the span closes. Lives in this
  * package because the listener bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
