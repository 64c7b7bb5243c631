package graft.pipeline

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** §2.11 orchestration: the Step-Functions DAG (extract → transform → load,
  * reference infra/lambda.tf:148-240) collapsed into one driver with
  * materialized-table stage boundaries.
  *
  * Differences from the reference, by design (SURVEY §8.7): the
  * clear-then-rewrite-then-crawl sequence (S8/S9) becomes one atomic
  * `saveAsTable(overwrite)`; the crawler poll loop disappears because
  * writes are synchronous; per-stage retry is Spark task retry.
  */
object Pipeline {

  final case class Result(cashbackRows: Long, appendedRows: Long)

  /** Run extract(API or fixture CSVs) → transform → partitioned write →
    * idempotent warehouse append. `rewardsCsv`/`transactionsCsv` point at
    * reference-shaped extracts (header CSV); `warehouseTable` is the managed
    * target; `apiClient` is the optional S3/S4 fetch adapter — when present
    * the extracts come from the API with the CSVs as the failure fallback
    * (reference pull_data_glue_job_lambda.py:40-63). */
  def run(spark: SparkSession, rewardsCsv: String, transactionsCsv: String,
          warehouseTable: String = "cashback",
          apiClient: Option[ApiIngest.Client] = None,
          retry: Retry.Policy = Retry.Policy()): Result = {

    // Extract (S1 header-only strings — casts happen inside the transform,
    // matching glue_script.py:19-20; or S3/S4 API payloads via the injected
    // client, retried per the Step-Functions policy) + ingest renames (P2/P3).
    val (transactions, rewards) =
      ApiIngest.fetchData(spark, apiClient, transactionsCsv, rewardsCsv, retry)

    // Transform (J1 + E1–E6 + P1/P2 + E4), then load: idempotent anti-join
    // append on reward_id (J2). Both run as the load's one write; the
    // transform's row count is an observed metric on that write, so
    // nothing is cached and nothing runs twice.
    val rows = Observation()
    val cashback = CashbackTransform.transform(rewards, transactions)
      .observe(rows, count(lit(1)).as("n"))
    val appended = IncrementalLoad.appendNew(
      spark, cashback, warehouseTable, "reward_id", Some("transaction_date"))
    Result(rows.get("n").asInstanceOf[Long], appended)
  }
}
