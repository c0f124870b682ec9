package graft.sync

import org.apache.spark.sql.DataFrame

/** Write paths — the Spark re-expression of the reference's parquet
  * sinks: append (R9, syncquill.py:90-99: one WRITE_APPEND load job for
  * all inserted rows) and truncate-and-load (R11, syncquill.py:131-146:
  * WRITE_TRUNCATE + autodetect). The merge write that replaces R8/R10's
  * per-cell UPDATE / per-row DELETE round-trips lives in the connector
  * seam: SyncPipeline.sync publishes the source cast to the target's
  * types through [[SyncTarget.merge]], which for a parquet target is one
  * write job here, staged and then promoted by rename. That job reads
  * the source the diff job already scanned, cast and shuffled by key,
  * one task and one file per reduce partition; `upsert`'s load reads
  * its check job's shuffle the same way.
  *
  * All distributed parquet jobs; at scale add partitioning columns
  * (`partitionBy`) so downstream scans prune.
  */
object Sinks {

  /** R9: append rows to a parquet table. */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** R11: truncate-and-load — full overwrite, schema from the DataFrame
    * (the engine's typed answer to BigQuery `autodetect`). */
  def truncateLoad(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
