package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** Two Spark-internal steps the harness takes between operations, outside
  * every timed window. Both reach members that are package-private to
  * Spark, hence this package. */
object SparkInternals {

  /** The listener bus delivers events asynchronously: wait until every
    * event posted so far has been handled (the traced run reads its
    * counters after this, and finished executions' events hold their
    * plans until delivered). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Remove every broadcast the driver still holds. The previous
    * operation's broadcasts are dead, but Spark's cleaner drops them only
    * some time after a GC finds them unreachable; left in place, a hash
    * relation's memory page stays live into the next operation. */
  def removeBroadcasts(): Unit = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.distinct
      .foreach(id => bm.master.removeBroadcast(id, true, true))
  }
}
