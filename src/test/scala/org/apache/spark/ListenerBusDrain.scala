package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event,
  * so a test can read what its listeners saw without sleeping. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
