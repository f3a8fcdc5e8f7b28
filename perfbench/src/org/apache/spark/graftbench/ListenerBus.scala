package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark's own listener-bus drain, which it keeps private to its package:
  * returns once every event posted so far has reached every listener. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
