package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. Lives under
  * org.apache.spark so the `private[spark]` listener bus resolves: the
  * benchmark drains it before reading its counters, so every event of a
  * measured pass is counted in that pass and none in the next.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
