package graft.tools

import graft.GraftSession
import graft.queries.Queries
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only: run a declared query and attribute its wall-clock to the
  * Spark JOBS it submits (eager routing/stats actions, broadcast builds,
  * driver collects, the final materialize) — the §1 "how many driver
  * round trips does this plan really pay" readout that per-query totals
  * hide. Usage: runMain graft.tools.ProfileJobs <query> [sfDir] [reps]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = Queries.all(name)
    // warm-up (codegen)
    try graft.Bench.materialize(fn(spark, "/root/testdata/sf0.001")) catch { case _: Throwable => }
    GraftSession.releaseCaches(spark, blocking = true)
    System.gc()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = collection.mutable.ArrayBuffer.empty[(Int, Double, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("spark.job.description")).getOrElse("") +
            " stages=" + j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString("|").take(120)))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null) rows.synchronized {
          rows += ((j.jobId, (System.nanoTime() - s._1) / 1e9, s._2))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to reps).foreach { rep =>
      rows.synchronized(rows.clear())
      val c0 = graft.Bench.calibrationOnce(spark)
      val t0 = System.nanoTime()
      graft.Bench.materialize(fn(spark, dir))
      val total = (System.nanoTime() - t0) / 1e9
      GraftSession.releaseCaches(spark, blocking = true)
      System.gc()
      println(f"== rep$rep total=$total%.3f calib=$c0%.3f")
      val snap = rows.synchronized(rows.toSeq)
      snap.sortBy(_._1).foreach { case (id, dt, d) =>
        println(f"  job$id%-4d $dt%7.3f  $d")
      }
      println(f"  jobs=${snap.length} jobSum=${snap.map(_._2).sum}%.3f")
      Console.flush()
    }
    spark.stop()
  }
}
