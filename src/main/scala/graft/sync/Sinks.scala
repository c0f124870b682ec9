package graft.sync

import org.apache.spark.sql.DataFrame

/** The parquet write — the Spark re-expression of the reference's
  * truncate-and-load (R11, syncquill.py:131-146: WRITE_TRUNCATE +
  * autodetect). It is the one write job of [[ParquetTarget]], whose
  * `truncateLoad` stages it and then promotes it by rename, for both
  * `sync`'s publish (which replaces R8/R10's per-cell UPDATE / per-row
  * DELETE round-trips) and `upsert`'s load. Each writes the source the
  * verb's first job already scanned, cast and shuffled by key, one task
  * and one file per reduce partition.
  *
  * At scale add partitioning columns (`partitionBy`) so downstream scans
  * prune.
  */
object Sinks {

  /** R11: truncate-and-load — full overwrite, schema from the DataFrame
    * (the engine's typed answer to BigQuery `autodetect`). */
  def truncateLoad(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}
