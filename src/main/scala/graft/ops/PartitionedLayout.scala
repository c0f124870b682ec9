package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned table layout — the 100 TB at-rest story: facts written
  * `partitionBy(date)` so every time-bounded query prunes whole
  * directories before a single byte is read (`PartitionFilters` +
  * pruned file count asserted in PlanAuditSpec).
  */
object PartitionedLayout {

  /** One-time ingest: events re-laid-out hive-style by event date. The
    * layout dir is keyed by the SOURCE path so a different scale factor
    * never reuses a stale fixture, and [[graft.Warehouse.dir]] refuses to
    * serve it to a different derivation of the same files. */
  def ensurePartitionedEvents(spark: SparkSession, events: DataFrame): String =
    graft.Warehouse.dir(spark, s"events_by_day_${graft.Warehouse.srcTag(events)}", events) {
      events
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("overwrite").parquet(_)
    }

  /** ANALYZE-style PER-PARTITION statistics over the hive layout — the
    * stats pass a maintenance scheduler runs to pick compaction /
    * z-order targets and to feed the optimizer's partition-level
    * estimates: per event_date, row count, distinct event types, and
    * the event_id range. One scan of the partitioned table with
    * map-side-combining aggregates; at 100 TB each partition's stats
    * compute inside its own files' tasks and the exchange carries one
    * row per (task, date). The oracle recomputes from the raw events
    * table — the layout must hold exactly the ingested data, so this
    * row is also an integrity check on the partitioned fixture. */
  def partitionStats(spark: SparkSession, events: DataFrame): DataFrame = {
    val path = ensurePartitionedEvents(spark, events)
    spark.read.parquet(path)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      // explicit nulls-last: a null-ts event would land in the
      // __HIVE_DEFAULT_PARTITION__ date, and Spark's ASC default
      // (nulls FIRST) would row-order-split from DuckDB's nulls-LAST
      // default — the same latent oracle split sequenceDetect pins
      .orderBy(col("event_date").asc_nulls_last)
  }

  /** Dynamic partition pruning: the selective predicate lives on a small
    * DIM side only — the fact side has no static date filter, yet its
    * partitions are pruned AT RUNTIME from the broadcast dim values
    * (`dynamicpruning` subquery in the scan's PartitionFilters, asserted
    * in PlanAuditSpec). At 100 TB this is the difference between scanning
    * every day ever ingested and scanning the handful of days a dim
    * filter selects — without rewriting the dim predicate onto the fact.
    * The dim is a generated date spine (every 7th day) — stands in for a
    * calendar/dimension table. */
  def dppJoin(spark: SparkSession, events: DataFrame): DataFrame = {
    val path = ensurePartitionedEvents(spark, events)
    val fact = spark.read.parquet(path)
    val dim = spark.range(0, 40)
      .select(col("id"), date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("d"))
      .filter(pmod(col("id"), lit(7)) === 2)
      .select("d")
    fact.join(dim, fact("event_date") === dim("d"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_date", "event_type")
  }

  /** Time-bounded scan over the partitioned layout: the date predicate
    * becomes a PartitionFilter — directories outside the range are never
    * opened. Result is oracle-checked against the unpartitioned table. */
  def prunedDailyCounts(spark: SparkSession, events: DataFrame,
                        from: String, to: String): DataFrame = {
    val path = ensurePartitionedEvents(spark, events)
    spark.read.parquet(path)
      .filter(col("event_date").between(lit(from), lit(to)))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_date", "event_type")
  }
}
