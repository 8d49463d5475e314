package org.apache.spark

/** Access to the `private[spark]` listener bus: whoever counts jobs with a
  * SparkListener (graft.TimeQueries, the specs' graft.SparkJobs) waits
  * here until every event posted so far has been delivered. Lives in the
  * o.a.s package purely for access.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
