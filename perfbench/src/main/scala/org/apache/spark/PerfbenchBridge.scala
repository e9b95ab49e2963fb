package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * listener has seen every event posted so far, so counts gathered by a
  * listener can be read right after the operation that caused them. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
