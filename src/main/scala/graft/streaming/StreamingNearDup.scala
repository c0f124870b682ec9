package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-on-ingest: a streaming near-duplicate detector that maintains a
  * persistent MinHash band index and checks every incoming micro-batch
  * against it — the streaming form of `dedup_near_minhash`, and the shape
  * a training-data pipeline runs at the crawl frontier (is this incoming
  * page a near-copy of anything already ingested?).
  *
  * Per micro-batch (one `foreachBatch` job):
  *   1. signatures for the batch in a map-only pass (`minhash_sig` — no
  *      shuffle, see graft.functions.MinHashSig), banded into
  *      (band, band_sig) bucket keys by `Dedup.minhashBands`, the banding
  *      of `dedup_near_minhash`;
  *   2. equi-join batch bands against the persisted index AND against
  *      the batch itself (earlier doc_id plays the index side) →
  *      candidate near-dups (within-bucket work only, the LSH
  *      guarantee). The self-probe matters: two near-copies arriving in
  *      the SAME micro-batch would otherwise never meet — each is
  *      indexed after the other stopped probing — and stay a
  *      permanently missed pair;
  *   3. publish the batch's bands into the index under its batch_id
  *      partition.
  *
  * The index is a parquet table of (doc_id, band, band_sig) partitioned
  * by the writing batch_id — at 100 TB, bucketed by (band, band_sig)
  * within partitions so step 2 prunes to the probed buckets. Both
  * writes are DYNAMIC PARTITION OVERWRITES of the one batch_id
  * partition, so crash-replay of a batch is idempotent by construction:
  * the re-run overwrites its own partition instead of appending band
  * rows twice, and the probe joins only index partitions with
  * batch_id < current, so a replay whose first attempt already indexed
  * the batch neither matches the batch against itself through the index
  * (which would emit both orientations of every within-batch pair) nor
  * double-counts future matches.
  *
  * Matches (earlier doc_id = index side; within a batch, the smaller
  * doc_id) land in `matchesPath` as (probe_id, index_id) pairs
  * partitioned by batch_id.
  */
object StreamingNearDup {

  /** Streaming writer: maintain the band index at `indexPath`, publish
    * candidate matches to `matchesPath` (both partitioned by batch_id,
    * replay-idempotent — see the object doc). */
  def indexAndMatch(stream: DataFrame, indexPath: String, matchesPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val bands = graft.llm.Dedup.minhashBands(batch).persist()
      try {
        // within-batch pairs: probe the batch against itself, the larger
        // doc_id probing the smaller (rename-based self-join — alias
        // resolution on one frame is ambiguity-prone)
        val pSide = bands.select(col("doc_id").as("probe_id"), col("band"), col("band_sig"))
        val xSide = bands.select(col("doc_id").as("index_id"), col("band"), col("band_sig"))
        val selfMatches = pSide.join(xSide, Seq("band", "band_sig"))
          .filter(col("probe_id") > col("index_id"))
          .select(col("probe_id"), col("index_id"))
        val idx = new org.apache.hadoop.fs.Path(indexPath)
        val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val crossMatches = if (fs.exists(idx)) {
          // batch_id < current: a crash-replay must not see its own
          // first attempt's bands (partition-pruned scan)
          val index = spark.read.parquet(indexPath).filter(col("batch_id") < lit(batchId))
          bands.as("p")
            .join(index.as("x"),
              col("p.band") === col("x.band") && col("p.band_sig") === col("x.band_sig") &&
                col("p.doc_id") =!= col("x.doc_id"))
            .select(col("p.doc_id").as("probe_id"), col("x.doc_id").as("index_id"))
        } else selfMatches.limit(0)
        val matches = selfMatches.unionByName(crossMatches).distinct()
          .withColumn("batch_id", lit(batchId)).persist()
        try {
          // empty batches write nothing: a parquet dir holding only
          // _SUCCESS has no inferable schema for readers, and replay
          // determinism makes the skip safe (an empty recompute means
          // the first attempt was empty too)
          if (!matches.isEmpty)
            matches.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(matchesPath)
          if (!bands.isEmpty)
            bands.withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(indexPath)
        } finally { matches.unpersist(); () }
      } finally { bands.unpersist(); () }
    }

  /** Read accumulated matches (empty if none were written yet). */
  def matches(spark: SparkSession, matchesPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(matchesPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(matchesPath)) else None
  }
}
