package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators — the janitorial pass a 100 TB pipeline
  * schedules continuously: streaming sinks and per-batch appends produce
  * thousands of KB-sized files whose open/footer costs eventually
  * dominate scans (the "small-files problem"); compaction rewrites them
  * into target-sized files. Data content is untouched — the oracle
  * checks the compacted table equals the source — while the file-count
  * invariant is asserted in MaintenanceSpec.
  */
object Maintenance {

  /** Simulate a fragmented table (the state appends leave behind), then
    * compact it. Returns (fragmentedPath, compactedPath). Idempotent per
    * source path; a different derivation of the same files throws. */
  def compactEvents(spark: SparkSession, events: DataFrame,
                    fragments: Int = 64, targetFiles: Int = 4): (String, String) = {
    val tag = graft.Warehouse.srcTag(events)
    val frag = graft.Warehouse.dir(spark, s"events_frag_$tag", events) {
      events.repartition(fragments).write.mode("overwrite").parquet(_)
    }
    val comp = graft.Warehouse.dir(spark, s"events_compact_$tag", events) {
      // compaction = read small files, write few large ones. repartition
      // (not coalesce): coalesce chains the upstream parallelism to the
      // target count; a real compactor also range-sorts here so min/max
      // row-group stats prune later scans
      spark.read.parquet(frag)
        .repartitionByRange(targetFiles, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(_)
    }
    (frag, comp)
  }

  /** The compacted table, content-identical to the source (oracle-checked:
    * compaction must never change data). */
  def compactedEvents(spark: SparkSession, events: DataFrame): DataFrame = {
    val (_, comp) = compactEvents(spark, events)
    spark.read.parquet(comp)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value").cast("decimal(18,2)").cast("double").as("value"))
      .orderBy("event_id")
  }

  /** Parquet file count under a path (maintenance metric). */
  def parquetFileCount(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Z-order (Morton) key: bit-interleave of two `bits`-wide
    * non-negative integer columns — the space-filling curve behind
    * Delta/Iceberg `OPTIMIZE ZORDER BY (a, b)`. Inputs must already be
    * NORMALIZED to [0, 2^bits) (see [[zorderedLineitem]]): interleaving
    * raw values whose domains differ in width puts one column's
    * significance entirely below the other's and the curve degenerates
    * to a single-key sort — the reason real systems min/max-normalize
    * each column first. Pure bitwise expression column (codegen'd). */
  def zorderKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
                bits: Int = 8): org.apache.spark.sql.Column = {
    require(bits * 2 <= 63, s"2*$bits bits do not fit a signed long")
    (0 until bits).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(1), 2 * i)) +
        (shiftleft(shiftright(b, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** Normalized key width shared by [[zorderKey]]'s callers AND the
    * generated oracle SQL (SparkEntry `maintenance_zorder`) — single
    * source of truth so the two sides cannot drift (same doctrine as
    * Dedup.MinhashRowsPerBand). */
  private[graft] val ZorderBits = 8
  private[graft] val ZorderScale: Double = (1 << ZorderBits).toDouble

  /** lineitem with the normalized Morton key over (l_partkey,
    * l_suppkey): each column min/max-normalized to [[ZorderBits]] bits
    * via a broadcast 1-row domain aggregate (no driver action), then
    * interleaved. The double division in the normalization is exact for
    * these magnitudes (products ≤ 2^53) and evaluates identically in
    * both engines. */
  private def withZ(lineitem: DataFrame): DataFrame = {
    val dom = lineitem.agg(
      min(col("l_partkey")).as("min_p"), max(col("l_partkey")).as("max_p"),
      min(col("l_suppkey")).as("min_s"), max(col("l_suppkey")).as("max_s"))
    val np = floor((col("l_partkey") - col("min_p")) * ZorderScale /
      (col("max_p") - col("min_p") + 1)).cast("long")
    val ns = floor((col("l_suppkey") - col("min_s")) * ZorderScale /
      (col("max_s") - col("min_s") + 1)).cast("long")
    lineitem.crossJoin(broadcast(dom))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        zorderKey(np, ns, ZorderBits).as("z"))
  }

  /** The physical z-order layout rewrite (what the maintenance job
    * writes): range-partition + sort by the Morton key. The pruning
    * benefit — a box predicate landing in a fraction of the partitions
    * instead of all of them — is asserted in MaintenanceSpec. */
  def zorderLayout(lineitem: DataFrame, parts: Int = 32): DataFrame =
    withZ(lineitem)
      .repartitionByRange(parts, col("z"))
      .sortWithinPartitions("z")

  /** The z-order pass as a deterministic query for the oracle: every
    * lineitem row with its normalized Morton key in curve order — checks
    * the normalization + interleave arithmetic and that the rewrite is
    * content-preserving. */
  def zorderedLineitem(lineitem: DataFrame): DataFrame =
    withZ(lineitem).orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
}
