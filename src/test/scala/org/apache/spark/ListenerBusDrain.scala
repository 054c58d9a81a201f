package org.apache.spark

/** Test access to the one `private[spark]` call a job-counting listener
  * needs: wait until every event posted so far has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
