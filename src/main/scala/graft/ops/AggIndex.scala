package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent incremental AGGREGATE — the daily-ETL materialized-rollup
  * shape, and the 5th member of the persistent-index family (dedup
  * shingle + embedding indexes, IVFADC, BM25): history is aggregated
  * ONCE into a day-partitioned partials table; each new day appends its
  * own partitions at O(day) cost — the history is never rescanned; a
  * query merges the partials.
  *
  * Exactness discipline: the partials are integers (event count,
  * sum-of-cents), so merge order cannot drift and build+append is
  * bit-identical to a full rebuild — the same exact-increment rule as
  * the BM25 index's (n_docs, sum_dl) meta. At 100 TB this is the
  * difference between a nightly rollup that costs one day of data and
  * one that rescans the year.
  */
object AggIndex {

  /** Build the partials table over the history slice (drops any prior
    * index of the same name). Partitioned by day, so per-day queries
    * partition-prune and per-day appends land in their own directories. */
  def build(events: DataFrame, tableName: String): Unit = {
    Warehouse.dropTables(events.sparkSession, Seq(tableName))
    partials(events)
      .write.mode("overwrite").partitionBy("day").format("parquet")
      .saveAsTable(tableName)
  }

  /** Append one increment (e.g. today's events): aggregated ALONE and
    * inserted into its day partitions — existing partitions untouched. */
  def append(events: DataFrame, tableName: String): Unit =
    partials(events).write.insertInto(tableName)

  /** Merge the partials: per event_type totals + covered-day count.
    * Cost scales with the partials table (days x types), not the raw
    * event history. */
  def query(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)
      .groupBy("event_type")
      .agg(sum(col("n_events")).cast("long").as("n_events"),
        sum(col("sum_cents")).cast("long").as("sum_cents"),
        countDistinct(col("day")).as("n_days"))

  /** Create an EMPTY partials table keyed by (day, batch_id) — the
    * streaming-ingestion variant of [[build]]: partials arrive per
    * micro-batch via [[appendBatch]] rather than in one history pass.
    * Queries are unchanged (partials merge regardless of granularity). */
  def buildStreaming(spark: SparkSession, tableName: String): Unit = {
    Warehouse.dropTables(spark, Seq(tableName))
    spark.range(0)
      .select(lit("").as("event_type"), col("id").as("n_events"),
        col("id").as("sum_cents"), lit(null).cast("date").as("day"),
        col("id").as("batch_id"))
      .write.mode("overwrite").partitionBy("day", "batch_id").format("parquet")
      .saveAsTable(tableName)
  }

  /** Append ONE micro-batch's partials IDEMPOTENTLY: rows carry the
    * batch id and land via [[Warehouse.dynOverwrite]], so a Structured
    * Streaming retry of the same batch REPLACES its own (day, batch_id)
    * partitions instead of double-counting — exactly-once ingestion on a
    * plain parquet table, no transaction log needed. Because the partials
    * are mergeable integers, query results are independent of how the
    * history was sliced into batches. */
  def appendBatch(events: DataFrame, batchId: Long, tableName: String): Unit =
    Warehouse.dynOverwrite(partials(events).withColumn("batch_id", lit(batchId)), tableName)

  /** One day's totals — the partition-pruned point lookup. */
  def queryDay(spark: SparkSession, tableName: String, day: java.sql.Date): DataFrame =
    spark.table(tableName)
      .where(col("day") === lit(day))
      .select(col("event_type"), col("n_events"), col("sum_cents"))

  /** (event_type, n_events, sum_cents, day) partial sums — integer cents
    * so increments are exact; `day` last to match the partition layout
    * position-based insertInto expects. */
  private def partials(events: DataFrame): DataFrame =
    events
      .where(col("value").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("c"),
        to_date(col("ts")).as("day"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("sum_cents"))
      .select(col("event_type"), col("n_events"), col("sum_cents"), col("day"))
}
