package org.apache.spark

/** The one `private[spark]` call the traced run needs: wait until every
  * listener event posted so far has been delivered, so per-op task and
  * stage counts are complete before they are read.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
