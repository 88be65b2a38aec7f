package org.apache.spark.erbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is the bench's one point of
  * contact with it. Task metrics reach a SparkListener asynchronously, so
  * a reading taken right after an action can miss the last tasks unless
  * the bus is drained first.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
