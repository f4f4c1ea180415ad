package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: lives under
  * `org.apache.spark` for the same reason as [[CheckpointShim]]. */
object ListenerBusShim {

  /** Blocks until every event posted so far reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The listeners on the context's bus (query listener buses among
    * them). */
  def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size()
}
