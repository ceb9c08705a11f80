package org.apache.spark

/** Test access to the one `private[spark]` call job-counting specs need:
  * block until every queued listener event has been delivered, so a
  * listener has seen every job an action ran before the spec reads it. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
