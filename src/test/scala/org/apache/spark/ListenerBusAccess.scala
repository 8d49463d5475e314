package org.apache.spark

/** Test access to the `private[spark]` listener bus: a spec that counts
  * jobs with a SparkListener waits here until every event posted so far
  * has been delivered. Lives in the o.a.s package purely for access.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
