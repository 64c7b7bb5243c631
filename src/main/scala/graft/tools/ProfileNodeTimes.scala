package graft.tools

import graft.GraftSession
import graft.queries.Queries
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only: run a declared query and print, for every node of every
  * EXECUTED plan (main query + the eager routing/stats actions), the
  * time-like SQL metrics (codegen span duration, shuffle write/fetch
  * wait, sort/agg time, broadcast build) plus output rows — the
  * operator-grain "where did the seconds go" readout the job-level view
  * cannot give. Usage: runMain graft.tools.ProfileNodeTimes <query> [sfDir]
  */
object ProfileNodeTimes {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = Queries.all(name)
    try graft.Bench.materialize(fn(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => }
    GraftSession.releaseCaches(spark, blocking = true)
    System.gc()
    val keep = Set("duration", "time in aggregation build", "sort time",
      "shuffle write time", "fetch wait time", "time to build hash map",
      "time to broadcast", "time to collect", "scan time",
      "task commit time", "shuffle records written", "number of output rows",
      "spill size")
    val plans = collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += ((f"$funcName ${durationNs / 1e9}%.3fs", qe.executedPlan)) }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val t0 = System.nanoTime()
    graft.Bench.materialize(fn(spark, dir))
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1500)
    println(f"== $name total=$total%.3f calib=${graft.Bench.calibrationOnce(spark)}%.3f")
    def walk(p: SparkPlan, depth: Int,
             seen: java.util.Set[AnyRef]): Unit = {
      val ms = p.metrics.toSeq
        .filter { case (k, m) => keep.exists(m.name.getOrElse(k).contains) ||
          keep.contains(k) }
        .map { case (k, m) => s"${m.name.getOrElse(k)}=${m.value}" }
        .filter(_.nonEmpty)
      println(("  " * depth) + p.nodeName +
        (if (ms.nonEmpty) "  [" + ms.mkString(", ") + "]" else ""))
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: InMemoryTableScanExec =>
          if (seen.add(c.relation.cacheBuilder)) Seq(c.relation.cachedPlan) else Nil
        case other => other.children
      }
      kids.foreach(walk(_, depth + 1, seen))
      p.subqueries.foreach(walk(_, depth + 1, seen))
    }
    plans.synchronized {
      plans.foreach { case (tag, p) =>
        println(s"---- execution: $tag")
        walk(p, 0, java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))
      }
    }
    spark.stop()
  }
}
