package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`:
  * blocks until every event posted so far has reached every listener,
  * so a spec can read a SparkListener's tallies right after an action. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
