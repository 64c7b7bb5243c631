package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.SparkSpec
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** `Pipeline.run` end to end over two small overlapping CSV extracts: the
  * exact counts it reports, that it caches nothing, and the jobs it
  * submits (the load is one write, its counts observed on that write). */
class PipelineSpec extends SparkSpec {

  private val rewardsHeader = "id,amount,rebate_rate,type,reference_type,reference_id," +
    "available,reason,fiat_amount_rewarded,createdAt,updatedAt"
  private def reward(id: String, ref: String) =
    s"$id,0.5,5,DAILY_REBATE_DISTRIBUTION,fiat_transactions,$ref,true,," +
      "250,2024-03-25T06:43:56.272Z,2024-03-25T06:43:56.272Z"
  private val transactions = Seq(
    "id,amount,currency,date,description,is_debit,__typename",
    "t1,-1799,GBP,2024-03-23 23:38:39.009+00:00,PIZZA,true,Transaction",
    "t2,-500,GBP,2024-03-24 10:00:00.000+00:00,TESCO,true,Transaction")

  private lazy val dir: Path = Files.createTempDirectory("graft-pipeline-spec")
  private def csv(name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    p.toString
  }
  // batch B re-delivers a3 from batch A; a3 matches no transaction
  private lazy val tx = csv("transactions.csv", transactions)
  private lazy val rewardsA = csv("rewards_a.csv",
    Seq(rewardsHeader, reward("a1", "t1"), reward("a2", "t2"), reward("a3", "missing")))
  private lazy val rewardsB = csv("rewards_b.csv",
    Seq(rewardsHeader, reward("a3", "missing"), reward("b1", "t2")))

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    super.afterAll()
  }

  /** Jobs and SQL executions submitted while `body` runs, and every
    * persisted RDD seen at a job start or after the body. */
  private final class Watch extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[String]
    val executions = mutable.ArrayBuffer.empty[String]
    val persisted = mutable.Set.empty[Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs ++= e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
      persisted ++= spark.sparkContext.getPersistentRDDs.keys
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { executions += s.description }
      case _ =>
    }
  }

  private def watched[T](body: => T): (T, Watch) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val w = new Watch
    ListenerBus.drain(sc)
    sc.addSparkListener(w)
    val out = try body finally { ListenerBus.drain(sc); sc.removeSparkListener(w) }
    w.persisted ++= sc.getPersistentRDDs.keys
    w.persisted --= before
    (out, w)
  }

  private def run(rewards: String) = Pipeline.run(spark, rewards, tx, "pipeline_spec")

  test("two overlapping batches: exact counts, nothing cached, one-pass load") {
    spark.sql("DROP TABLE IF EXISTS pipeline_spec")
    try {
      val (first, w1) = watched(run(rewardsA))
      assert(first === Pipeline.Result(cashbackRows = 3, appendedRows = 3))
      val (second, w2) = watched(run(rewardsB))
      assert(second === Pipeline.Result(cashbackRows = 2, appendedRows = 1))
      val (replay, w3) = watched(run(rewardsB))
      assert(replay === Pipeline.Result(cashbackRows = 2, appendedRows = 0))

      val table = spark.table("pipeline_spec")
      assert(table.count() === 4L)
      assert(table.select("reward_id").distinct().count() === 4L)
      assert(table.where("reward_id = 'a3'").select("transaction_id").head().isNullAt(0))

      for (w <- Seq(w1, w2, w3)) {
        assert(w.persisted.isEmpty, "Pipeline.run cached an RDD")
        assert(!(w.jobs ++ w.executions).exists(_.startsWith("count at IncrementalLoad")),
          s"a count at IncrementalLoad: ${w.executions}")
      }
      // job budget, as measured on local[4]: each batch reads two CSV
      // headers, then runs the load's write and the adaptive stages it plans
      // (a first load has no anti-join side to plan)
      for ((w, budget) <- Seq(w1 -> 4, w2 -> 7, w3 -> 6))
        assert(w.jobs.size <= budget, s"jobs: ${w.jobs}")
    } finally spark.sql("DROP TABLE IF EXISTS pipeline_spec")
  }
}
