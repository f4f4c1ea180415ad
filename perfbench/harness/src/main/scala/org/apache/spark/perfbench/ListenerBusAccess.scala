package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the traced run read its listeners only after every event posted
  * so far has been delivered (the listener bus is asynchronous and its
  * drain hook is `private[spark]`). */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
