package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: listener events arrive
  * asynchronously, so a test counts them only after the bus has delivered
  * everything posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
