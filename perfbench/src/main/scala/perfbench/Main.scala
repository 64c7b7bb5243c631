package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, SparkEntry}
import graft.pipeline.{ApiIngest, CashbackTransform, IncrementalLoad, Pipeline}

/** Benchmark harness JVM. Reads a manifest written by run.py (the inputs
  * are already generated), runs one workload, and writes raw observations
  * (setups, every operation's latency and outcome, check results, layer
  * counters when traced) to the manifest's `out` file. run.py turns them
  * into metrics and compares the checks against the expected values.
  *
  * One process, one client, closed loop: each operation starts when the
  * previous one ends. Between operations, outside every timed window, the
  * harness releases what the previous operation left behind (see
  * `release`).
  */
object Main {

  private val mapper = new ObjectMapper()
  private val started = System.nanoTime()
  private def note(what: String): Unit =
    Console.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2fs $what")

  def main(args: Array[String]): Unit = {
    val m = mapper.readTree(new File(args(0)))
    val workload = Workload(m)
    val traced = m.get("trace").asBoolean()
    val seconds = m.get("seconds").asDouble()
    val warehouse = m.get("warehouse").asText()
    val cores = GraftSession.defaultCpus

    // post-GC used heap: each heap pool's usage as the last (full)
    // collection left it, so allocations racing the sample do not count
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getCollectionUsage != null).toSeq
    var peakHeap = 0L  // over the measured window only
    var measuring = false
    val heapSamples = mutable.ArrayBuffer.empty[Double]
    def newSession(): SparkSession = {
      val s = GraftSession.builder()
        .config("spark.sql.warehouse.dir", warehouse)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    // Between operations: drop cached blocks and the previous operation's
    // broadcasts, let the listener bus deliver the finished executions (its
    // events hold their plans), then collect until the live heap stops
    // shrinking.
    def release(spark: SparkSession): Unit = {
      GraftSession.releaseCaches(spark, blocking = true)
      SparkInternals.drainListenerBus(spark.sparkContext)
      SparkInternals.removeBroadcasts()
      def collect(): Long = { System.gc(); heapPools.map(_.getCollectionUsage.getUsed).sum }
      var used = collect()
      var before = Long.MaxValue
      var rounds = 1
      while (used < before - (1L << 20) && rounds < 5) {
        Thread.sleep(100)
        before = used
        used = collect()
        rounds += 1
      }
      heapSamples += used / 1048576.0
      if (measuring) peakHeap = math.max(peakHeap, used)
    }

    // set-up: session start plus one warm-up pass over the small inputs,
    // repeated; every set-up but the last is torn down again
    val nSetups = m.get("setups").asInt()
    val setups = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    for (i <- 0 until nSetups) {
      val t0 = System.nanoTime()
      spark = newSession()
      val t1 = System.nanoTime()
      workload.warmup(spark, i, () => release(spark))
      val t2 = System.nanoTime()
      setups += Map("start_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9)
      note(s"setup $i: ${setups.last}")
      if (i < nSetups - 1) spark.stop()
    }

    val tracer = if (traced) Some(new Tracer(Workload.strings(m.get("sites")).toSet)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val sentinelsBefore = sentinels(spark)
    note("sentinels taken; measuring")

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    measuring = true
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      tracer.foreach { t => SparkInternals.drainListenerBus(spark.sparkContext); t.reset() }
      val timers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val passOps = workload.pass(spark, pass, traced, timers, () => release(spark))
      ops ++= passOps.map(_ + ("pass" -> pass))
      val passS = passOps.map(_("latency_s").asInstanceOf[Double]).sum
      tracer.foreach { t =>
        SparkInternals.drainListenerBus(spark.sparkContext)
        val snap = t.snapshot(cores)
        layers += (snap ++ timers ++ Map(
          "trace.pass_s" -> passS,
          "spark.driver_only_s" -> math.max(0.0, passS - snap("spark.job_busy_s"))))
      }
      note(f"pass $pass: $passS%.2fs")
      workload.afterPass(spark, pass)
      release(spark)
      pass += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    measuring = false

    // output checks, outside the timed window
    val checks = try workload.checks(spark)
      catch { case NonFatal(e) => Map("error" -> e.toString) }
    note("checks done")
    val sentinelsAfter = sentinels(spark)
    spark.stop()
    note("stopped")

    val result = Map(
      "workload" -> workload.name,
      "cores" -> cores,
      "setups" -> setups.toSeq,
      "ops" -> ops.toSeq,
      "passes" -> pass,
      "measured_s" -> measured,
      "peak_heap_mb" -> peakHeap / 1048576.0,
      "heap_samples_mb" -> heapSamples.toSeq,
      "sentinels" -> Map("before" -> sentinelsBefore, "after" -> sentinelsAfter),
      "checks" -> checks,
      "layers" -> layers.toSeq)
    java.nio.file.Files.write(new File(m.get("out").asText()).toPath,
      Json(result).getBytes("UTF-8"))
  }

  /** Host-speed context samples, not metrics: a fixed codegen'd aggregate
    * over `spark.range` (CPU) and a 256 MiB fsync'd write (disk), with the
    * same semantics as `graft.Bench`'s calibration sentinels. The CPU
    * sample's first repetition compiles its code and is not kept. */
  private def sentinels(spark: SparkSession): Map[String, Double] = {
    def cpu(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("sum((id * 2654435761) % 1000003) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def io(): Double = {
      val f = File.createTempFile("perfbench_ioprobe_", ".bin")
      try {
        val buf = Array.fill[Byte](1 << 20)(0x5A)
        val t0 = System.nanoTime()
        val out = new java.io.FileOutputStream(f)
        try { (0 until 256).foreach(_ => out.write(buf)); out.getFD.sync() }
        finally out.close()
        (System.nanoTime() - t0) / 1e9
      } finally f.delete()
    }
    cpu()
    Map("cpu_s" -> cpu(), "io_s" -> io())
  }

  /** Times `body` into `timers(key)` and tags the jobs it submits with
    * `key` as their phase, so the tracer can attribute them. */
  private[perfbench] def phase[A](spark: SparkSession, timers: mutable.Map[String, Double],
                                  key: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PhaseKey, key)
    val t0 = System.nanoTime()
    try body finally {
      timers(key + "_s") += (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Tracer.PhaseKey, null)
    }
  }

  /** Runs one operation; its latency counts whether it succeeds or not. */
  private[perfbench] def op(name: String)(body: => Map[String, Any]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val (ok, extra, err) =
      try { val r = body; (true, r, None) }
      catch { case NonFatal(e) => (false, Map.empty[String, Any], Some(e.toString)) }
    Map("name" -> name, "latency_s" -> (System.nanoTime() - t0) / 1e9,
      "ok" -> ok, "error" -> err.orNull) ++ extra
  }

  /** The timed action for a query: a no-op datasource write, which runs
    * every output column through the whole plan. `count()` would let
    * Catalyst prune columns and drop joins it does not need. */
  private[perfbench] def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** One workload: its warm-up pass, its measured pass and its checks. */
trait Workload {
  def name: String
  def warmup(spark: SparkSession, setup: Int, release: () => Unit): Unit
  def pass(spark: SparkSession, pass: Int, traced: Boolean,
           timers: mutable.Map[String, Double], release: () => Unit): Seq[Map[String, Any]]
  def afterPass(spark: SparkSession, pass: Int): Unit = ()
  def checks(spark: SparkSession): Any
}

object Workload {
  def apply(m: JsonNode): Workload = m.get("workload").asText() match {
    case "cashback_elt" => new CashbackElt(m)
    case other => new QueryWorkload(other, m)
  }
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
}

/** The paper's job: each operation is one daily batch through
  * extract → transform → partitioned write → idempotent anti-join load,
  * into a warehouse table that grows over the pass. Every pass (and every
  * warm-up) loads into a table of its own. */
final class CashbackElt(m: JsonNode) extends Workload {
  import CashbackElt.Batch
  import Main.{op, phase}
  val name = "cashback_elt"

  private def batches(n: JsonNode) = n.elements().asScala.map(b =>
    Batch(b.get("rewards").asText(), b.get("transactions").asText())).toSeq
  private val warm = batches(m.get("warmup"))
  private val measure = batches(m.get("batches"))
  private val warehouse = m.get("warehouse").asText()
  private val observed = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def table(tag: String) = s"cashback_$tag"

  def warmup(spark: SparkSession, setup: Int, release: () => Unit): Unit =
    warm.foreach { b =>
      Pipeline.run(spark, b.rewards, b.transactions, table(s"warm$setup"))
      release()
    }

  def pass(spark: SparkSession, pass: Int, traced: Boolean,
           timers: mutable.Map[String, Double], release: () => Unit): Seq[Map[String, Any]] = {
    val t = table(s"p$pass")
    measure.zipWithIndex.map { case (b, i) =>
      val r = op(s"batch_$i") {
        if (!traced) {
          val res = Pipeline.run(spark, b.rewards, b.transactions, t)
          Map("rows" -> res.cashbackRows, "appended" -> res.appendedRows)
        } else tracedRun(spark, b, t, timers)
      }
      release()
      r
    }
  }

  /** The public calls `Pipeline.run` makes, one by one, each timed. The
    * transform is lazy, so it is materialized into its persisted cache
    * here; the load then reads the cache, as it does inside the job. */
  private def tracedRun(spark: SparkSession, b: Batch, t: String,
                        timers: mutable.Map[String, Double]): Map[String, Any] = {
    val (transactions, rewards) = phase(spark, timers, "pipeline.extract") {
      ApiIngest.fetchData(spark, None, b.transactions, b.rewards)
    }
    val cashback = CashbackTransform.transform(rewards, transactions)
    cashback.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = phase(spark, timers, "pipeline.transform") { cashback.count() }
      val before = dataFiles(t)
      val appended = phase(spark, timers, "pipeline.load") {
        IncrementalLoad.appendNew(spark, cashback, t, "reward_id", Some("transaction_date"))
      }
      timers("pipeline.rows_in") += rows
      timers("pipeline.rows_appended") += appended
      timers("pipeline.files_written") += dataFiles(t) - before
      Map("rows" -> rows, "appended" -> appended)
    } finally cashback.unpersist()
  }

  private def dataFiles(t: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1
    walk(new File(warehouse, t))
  }

  /** Per pass: the warehouse row count, and (first pass only) the rows a
    * replay of the first batch appends. The table is dropped afterwards. */
  override def afterPass(spark: SparkSession, pass: Int): Unit = {
    val t = table(s"p$pass")
    val count = spark.table(t).count()
    val replay =
      if (pass == 0) Some(Pipeline.run(spark, measure.head.rewards,
        measure.head.transactions, t).appendedRows)
      else None
    observed += Map("pass" -> pass, "table_rows" -> count) ++
      replay.map(r => "replay_appended" -> r)
    spark.sql(s"DROP TABLE $t")
  }

  def checks(spark: SparkSession): Any = observed.toSeq
}

object CashbackElt {
  final case class Batch(rewards: String, transactions: String)
}

/** A list of declared queries run in the manifest's order; an operation
  * is one query's build plus its no-op write. The write carries a
  * `Dataset.observe` row count (one CollectMetrics node, no extra job), so
  * every timed result is checked without running the query again. */
final class QueryWorkload(val name: String, m: JsonNode) extends Workload {
  import Main.{materialize, op, phase}

  private val queries = Workload.strings(m.get("queries")).map { q =>
    q -> SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
  }
  private val dir = m.get("data").asText()
  private val warmDir = m.get("warmup").asText()

  def warmup(spark: SparkSession, setup: Int, release: () => Unit): Unit =
    queries.foreach { case (_, fn) => materialize(fn(spark, warmDir)); release() }

  def pass(spark: SparkSession, pass: Int, traced: Boolean,
           timers: mutable.Map[String, Double], release: () => Unit): Seq[Map[String, Any]] =
    queries.map { case (q, fn) =>
      val r = op(q) {
        val rows = Observation()
        if (!traced) materialize(fn(spark, dir).observe(rows, count(lit(1))))
        else {
          val df = phase(spark, timers, "queries.build") { fn(spark, dir) }
          phase(spark, timers, "queries.exec") {
            materialize(df.observe(rows, count(lit(1))))
          }
        }
        Map("rows" -> rows.get.values.head)
      }
      release()
      r
    }

  /** The oracle SQL of every query, for run.py to count its rows in DuckDB
    * and compare with the rows each timed write produced. */
  def checks(spark: SparkSession): Any =
    queries.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
  private val mapper = new ObjectMapper()
}
