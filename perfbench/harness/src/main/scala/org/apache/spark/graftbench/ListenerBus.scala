package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: the harness drains queued
  * events once its timed work is over, before attributing them to spans.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
