package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark-layer counters for the traced run: jobs, stages, tasks, task
  * metrics, the union of job intervals, and jobs grouped by phase and by
  * call site. Registered only in traced runs; read with [[snapshot]] after
  * the listener bus is drained, then [[reset]] per pass.
  *
  * @param sitesOfInterest call-site files reported by name; jobs from any
  *                        other file count as `other` */
class Tracer(sitesOfInterest: Set[String]) extends SparkListener {
  import Tracer._

  private final case class Job(start: Long, phase: String, site: String,
                               var end: Long = -1L)

  private val execSites = mutable.Map.empty[Long, String]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = sums(k) += v

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      execSites(e.executionId) = siteOf(e.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // a SQL job belongs to the execution that planned it (broadcast and
    // AQE stage jobs run on other threads or carry no user frame)
    val site = prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(s => siteOf(s.details)))
      .getOrElse("other")
    jobs(e.jobId) = Job(e.time, prop(PhaseKey).getOrElse("untagged"),
      if (sitesOfInterest(site)) site else "other")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { add("spark.stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    if (e.taskInfo != null && e.taskInfo.failed) add("spark.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  def reset(): Unit = synchronized {
    jobs.clear(); sums.clear(); execSites.clear()
  }

  /** Counters since the last reset. Job time is wall time while at least
    * one job ran (the union of job intervals); per-phase and per-site job
    * counts are exact, per-site job time sums each job's own interval. */
  def snapshot(cores: Int): Map[String, Double] = synchronized {
    val done = jobs.values.filter(_.end >= 0).toSeq
    var busyMs = 0L
    var cursor = Long.MinValue
    for (j <- done.sortBy(_.start)) {
      val from = math.max(j.start, cursor)
      if (j.end > from) { busyMs += j.end - from; cursor = j.end }
    }
    val busy = busyMs / 1e3
    val out = mutable.Map.empty[String, Double] ++ sums
    out("spark.jobs") = jobs.size.toDouble
    out("spark.job_busy_s") = busy
    out("spark.slot_util") =
      if (busy > 0) sums("spark.task_run_s") / (busy * cores) else 0.0
    for ((phase, js) <- jobs.values.groupBy(_.phase))
      out(s"jobs.$phase") = js.size.toDouble
    for (site <- sitesOfInterest + "other") {
      val js = done.filter(_.site == site)
      out(s"site.$site.jobs") = jobs.values.count(_.site == site).toDouble
      out(s"site.$site.job_s") = js.map(j => (j.end - j.start) / 1e3).sum
    }
    out.toMap
  }
}

object Tracer {
  /** Local property naming the harness phase a job was submitted from;
    * Spark copies local properties onto every job the thread submits,
    * including broadcast and adaptive-stage jobs. */
  val PhaseKey = "perfbench.phase"

  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(([\w$]+)\.(?:scala|java):\d+\)""".r.unanchored

  /** The first repository source file on a call-site stack (its file stem,
    * `bench` for this harness), or `other` when no repository frame is on
    * the stack. */
  def siteOf(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).iterator.collect {
      case Frame(cls, file) if cls.startsWith("perfbench.") => "bench"
      case Frame(cls, file) if cls.startsWith("graft.") => file
    }.nextOption().getOrElse("other")
}
