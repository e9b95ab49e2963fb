package org.apache.spark

/** The one `private[spark]` call the specs need: wait until every
  * listener has seen every event posted so far, so a listener's counts
  * can be read right after the code that caused them. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
