package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a test reads its listener
  * only after every event posted so far has been delivered.
  * `waitUntilEmpty` is `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
