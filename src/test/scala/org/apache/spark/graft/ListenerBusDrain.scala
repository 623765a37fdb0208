package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Block until every event posted so far has reached the registered
  * listeners (`listenerBus` is `private[spark]`), so a spec can count
  * the jobs and plans of an action it just ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
