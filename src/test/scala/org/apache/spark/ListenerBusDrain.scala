package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered (`waitUntilEmpty` is `private[spark]`), so a spec's listener
  * has seen every job the code under test submitted. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
