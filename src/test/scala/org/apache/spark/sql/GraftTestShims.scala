package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test access to `private[spark]` internals. */
object GraftTestShims {

  /** Block until every event posted so far reached every listener, so a
   * listener's counts are final once an action returns. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
