package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: block until
  * every event already posted to the listener bus has been delivered, so
  * a span's listener events are all counted before the span closes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
