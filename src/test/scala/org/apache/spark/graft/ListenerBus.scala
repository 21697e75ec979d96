package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark keeps the listener-bus drain package-private; specs that count
  * scheduler events need it to read a complete count.
  */
object ListenerBus {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
