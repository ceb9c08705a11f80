package org.apache.spark

/** Reaches the one `private[spark]` call the benchmark needs: waiting
  * until every queued listener event has been delivered, so a span's jobs
  * are all recorded before the span closes. */
object LifebenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
