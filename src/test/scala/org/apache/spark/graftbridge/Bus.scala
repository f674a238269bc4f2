package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. Lives under
  * org.apache.spark so the `private[spark]` listener bus resolves: a test
  * drains it before reading what its listener recorded.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
