package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered,
  * so a test can count asynchronous listener events (e.g.
  * `QueryExecutionListener` callbacks) right after the action.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
