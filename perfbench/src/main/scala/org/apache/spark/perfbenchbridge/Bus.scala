package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; per-operation counters are only
  * complete once the bus has delivered everything posted so far. The drain
  * is `private[spark]`, hence this object's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
