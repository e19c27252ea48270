package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
 * benchmark's listeners have seen all jobs and tasks of the timed phase
 * before it reads them. The listener bus is `private[spark]`. */
object LifebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
