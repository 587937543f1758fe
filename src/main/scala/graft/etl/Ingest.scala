package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Ingest planning — the Spark-native replacement for the reference's
  * hand-rolled Splittable DoFn pagination (TableToDbRowFn.java:62-170:
  * `ceil(rowCount/offsetCount)` OFFSET/FETCH splits per table).
  *
  * On a real database, `spark.read.jdbc(url, table, partitionColumn,
  * lower, upper, numPartitions, props)` gives the same parallel read
  * with predicate pushdown — see [[jdbcOptions]]. What we expose as
  * queries is the *split plan* itself (count-driven, like the
  * reference's getInitialRestriction), which stays a tiny O(splits)
  * result at any scale — no global sort, no data shuffle.
  */
object Ingest {

  /** The options a production ingest would pass to spark.read.jdbc —
    * kept as data so specs can assert the plan shape without a DB. */
  def jdbcOptions(url: String, table: String, pk: String,
                  lower: Long, upper: Long, numPartitions: Int): Map[String, String] = Map(
    "url" -> url, "dbtable" -> table, "partitionColumn" -> pk,
    "lowerBound" -> lower.toString, "upperBound" -> upper.toString,
    "numPartitions" -> numPartitions.toString,
    "fetchsize" -> "10000", "pushDownPredicate" -> "true")

  /** Offset-split plan for a table: split_id plus the planned row
    * count per split (last split gets the remainder). Lazily composed
    * from a COUNT aggregate — O(1) data movement. */
  def offsetSplits(df: DataFrame, offset: Long): DataFrame = {
    df.agg(count(lit(1)).as("cnt"))
      .select(explode(sequence(lit(0L), (ceil(col("cnt") / offset.toDouble)).cast("long") - 1)).as("split_id"),
        col("cnt"))
      .select(col("split_id"),
        least(lit(offset), col("cnt") - col("split_id") * offset).cast("long").as("planned_rows"))
      .orderBy("split_id")
  }

  /** Per-table row counts (ServerUtil.getRowCount drives the split
    * math in the reference). Lazy union of count aggregates; each
    * count is a metadata-only parquet scan. */
  def rowCounts(spark: SparkSession, dir: String,
                tables: Seq[String] = Tables.all): DataFrame = {
    tables.map { t =>
      Tables.load(spark, dir, t)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows"))
    }.reduce(_ unionAll _).orderBy("table_name")
  }

  /** DLP request batching plan (DLPProperties.batchSize): batch ids +
    * rows per batch for one table's DLP pass. */
  def rowBatches(df: DataFrame, batchSize: Long): DataFrame =
    offsetSplits(df, batchSize)
      .withColumnRenamed("split_id", "batch_id")
      .withColumnRenamed("planned_rows", "rows_in_batch")

  /** Dead-letter routing (DBImportPipeline.java:140-160): validate
    * rows, tag ok/dead with a reason, keep both sides flowing. The
    * whole check is codegen'd expressions — no row-level try/catch.
    * Adds the routing columns without ordering, so it works on both
    * batch tables and streaming micro-batches. */
  def deadLetterRoute(events: DataFrame): DataFrame = {
    val k = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    val kInt = when(k === "", lit(null)).otherwise(k).cast("long")
    events.select(
        col("event_id"),
        kInt.as("k"),
        when(kInt.isNull, "dead")
          .when(kInt >= 80, "dead")
          .otherwise("ok").as("status"),
        when(kInt.isNull, "malformed_props")
          .when(kInt >= 80, "value_out_of_range")
          .otherwise("").as("reason"))
  }

  /** [[deadLetterRoute]] over a batch table, ordered by event_id. */
  def deadLetterSplit(events: DataFrame): DataFrame =
    deadLetterRoute(events).orderBy("event_id")
}
