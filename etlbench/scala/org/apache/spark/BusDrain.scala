package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so
  * counters read after a pass include that pass's last task ends. The bus
  * is `private[spark]`; this object lives in Spark's package to reach it.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
