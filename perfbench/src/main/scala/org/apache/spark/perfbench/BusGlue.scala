package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`: drain it so that every event of
  * a finished action has reached the benchmark's listeners before they are
  * read.
  */
object BusGlue {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
