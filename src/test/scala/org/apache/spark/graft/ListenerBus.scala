package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark: specs that count jobs
  * with a `SparkListener` wait here until every event posted so far has
  * been delivered, then read their counts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
