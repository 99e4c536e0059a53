package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the traced pass
  * must let the bus drain before it reads its listeners' counters.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
