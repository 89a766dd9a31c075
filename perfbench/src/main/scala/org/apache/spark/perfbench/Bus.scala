package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package because the listener bus is `private[spark]`:
  * the traced run reads its listener counters only after every event posted
  * so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
