package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus, which is `private[spark]`. */
object Bus {
  /** Returns once every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
