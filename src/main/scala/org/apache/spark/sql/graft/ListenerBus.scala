package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The `private[spark]` listener bus, reachable from this package: a caller
  * that attributes listener events (job starts, query executions) to the
  * code it just ran drains the bus first, because delivery is asynchronous
  * and an event fired by one step could otherwise land in the next.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
