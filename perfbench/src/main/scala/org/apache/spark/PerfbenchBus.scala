package org.apache.spark

/** Access to the listener bus's drain, which is `private[spark]`: the
  * benchmark reads listener counters only after every event of a pass
  * has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
