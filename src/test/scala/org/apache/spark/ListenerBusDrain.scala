package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so a
  * spec's listener has seen every job started before the call. The bus is
  * `private[spark]`; this object lives in Spark's package to reach it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
