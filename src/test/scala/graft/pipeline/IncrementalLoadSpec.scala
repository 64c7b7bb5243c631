package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins the idempotent warehouse append (J2) on in-spec frames: the
  * reference's `INSERT … WHERE NOT EXISTS` semantics, in-batch duplicates
  * and NULL keys included, and the table a first load creates. */
class IncrementalLoadSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: String*): DataFrame =
    ids.zipWithIndex.map { case (id, i) => (id, i * 1.5, s"2024-03-2${i % 2}") }
      .toDF("reward_id", "plu_amount", "transaction_date")

  private def load(df: DataFrame, t: String): Long =
    IncrementalLoad.appendNew(spark, df, t, "reward_id", Some("transaction_date"))

  private def ids(t: String): Seq[Option[String]] =
    spark.table(t).select("reward_id").as[Option[String]].collect().toSeq.sorted

  private def dataFiles(t: String): Set[String] = {
    spark.catalog.refreshTable(t)
    spark.table(t).inputFiles.toSet
  }

  private def withTable(t: String)(body: => Unit): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try body finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("first load into an absent table creates it and appends every row") {
    withTable("il_first") {
      assert(!spark.catalog.tableExists("il_first"))
      assert(load(batch("r1", "r2", "r3"), "il_first") === 3L)
      assert(ids("il_first") === Seq("r1", "r2", "r3").map(Some(_)))
    }
  }

  test("replay appends 0, keeps the row count and adds no data files") {
    withTable("il_replay") {
      val b = batch("r1", "r2", "r3", "r4")
      assert(load(b, "il_replay") === 4L)
      val files = dataFiles("il_replay")
      assert(load(b, "il_replay") === 0L)
      assert(spark.table("il_replay").count() === 4L)
      assert(dataFiles("il_replay") === files)
    }
  }

  test("partial overlap appends exactly the new keys") {
    withTable("il_overlap") {
      assert(load(batch("r1", "r2"), "il_overlap") === 2L)
      assert(load(batch("r2", "r3", "r4"), "il_overlap") === 2L)
      assert(ids("il_overlap") === Seq("r1", "r2", "r3", "r4").map(Some(_)))
    }
  }

  test("empty batch: a first load creates the table, a later one appends 0") {
    withTable("il_empty") {
      assert(load(batch(), "il_empty") === 0L)
      assert(spark.catalog.tableExists("il_empty"))
      assert(spark.table("il_empty").columns.toSet ===
        Set("reward_id", "plu_amount", "transaction_date"))
      assert(load(batch("r1", "r2"), "il_empty") === 2L)
      assert(load(batch(), "il_empty") === 0L)
      assert(spark.table("il_empty").count() === 2L)
    }
  }

  test("duplicate keys within one batch all append, as NOT EXISTS does") {
    withTable("il_dups") {
      assert(load(batch("r1", "r1", "r2"), "il_dups") === 3L)
      assert(load(batch("r5", "r5", "r2"), "il_dups") === 2L)
      assert(ids("il_dups") === Seq("r1", "r1", "r2", "r5", "r5").map(Some(_)))
    }
  }

  test("NULL keys never match, so NULL-key rows append on every load") {
    withTable("il_nulls") {
      val b = batch(null, "r1")
      assert(load(b, "il_nulls") === 2L)
      assert(load(b, "il_nulls") === 1L)
      assert(ids("il_nulls") === Seq(None, None, Some("r1")))
    }
  }
}
