package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types._

/** Warehouse-load stage: idempotent anti-join append + DDL generation
  * (reference load_to_redshift_lambda.py:34-100).
  */
object IncrementalLoad {

  /** J2/P8: `INSERT … WHERE NOT EXISTS` as a left-anti join on the key
    * (reference load_to_redshift_lambda.py:88-96), appended in one pass.
    * Returns rows appended (A3: the reference reports cursor.rowcount,
    * :99-100), observed on the write itself: the anti-join runs once,
    * nothing is cached, and count and write see the same rows. The write
    * is always issued, so a first load creates the table even from an
    * empty batch (the reference's CREATE TABLE IF NOT EXISTS); an empty
    * append adds no file to a partitioned table, one empty file to an
    * unpartitioned one. Loading twice appends nothing. Keys compare with
    * `=`, as NOT EXISTS does: duplicate keys within one batch all append,
    * and NULL keys never match, so NULL-key rows append on every load.
    * At 100 TB both sides shuffle on the key — no driver-side key set. */
  def appendNew(spark: SparkSession, incoming: DataFrame, table: String,
                key: String, partitionCol: Option[String] = None): Long = {
    val fresh =
      if (!spark.catalog.tableExists(table)) incoming
      else incoming.join(spark.table(table).select(key), Seq(key), "left_anti")
    val appended = Observation()
    val writer = fresh.observe(appended, count(lit(1)).as("n"))
      .write.mode("append").format("parquet")
    partitionCol.fold(writer)(c => writer.partitionBy(c)).saveAsTable(table)
    appended.get("n").asInstanceOf[Long]
  }

  /** S11: schema → warehouse DDL with the reference's type-mapping table
    * (load_to_redshift_lambda.py:24-31: int→INTEGER, bigint→BIGINT,
    * string→VARCHAR(256), double→DOUBLE PRECISION, boolean→BOOLEAN,
    * timestamp→TIMESTAMP, unknown→VARCHAR(256) fallback) and partition keys
    * appended to the column list (:38-41). */
  def toWarehouseDdl(table: String, schema: StructType,
                     partitionKeys: Seq[StructField] = Nil): String = {
    def map(dt: DataType): String = dt match {
      case IntegerType | ShortType | ByteType => "INTEGER"
      case LongType => "BIGINT"
      case DoubleType | FloatType => "DOUBLE PRECISION"
      case BooleanType => "BOOLEAN"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case _: StringType => "VARCHAR(256)"
      case _ => "VARCHAR(256)"
    }
    val cols = (schema.fields ++ partitionKeys)
      .map(f => s"${f.name} ${map(f.dataType)}").mkString(", ")
    s"CREATE TABLE IF NOT EXISTS $table ($cols)"
  }
}
