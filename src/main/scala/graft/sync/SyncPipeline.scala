package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's end-to-end verbs (R15, syncquill.py:217-239),
  * re-expressed as one set-based Spark job each:
  *
  *  - `sync`: diff the source snapshot against the target table, preview
  *    the changeset, apply it as ONE merge write (vs the reference's one
  *    DML round-trip per changed cell / deleted row, syncquill.py:87,105).
  *  - `upsert`: truncate-and-load the target from the source (R11).
  *
  * Auth/config (R13/R14) collapse to SparkSession config + method args —
  * there is no OAuth dance against parquet. Validation (R2) runs first
  * and fails fast like the reference (syncquill.py:67-74), but reports
  * ALL violations, not just the first.
  */
object SyncPipeline {

  final case class SyncResult(changes: Long, inserts: Long, deletes: Long, updates: Long)

  /** R2 fail-fast validation: null key or empty string cell anywhere. */
  def validate(snapshot: DataFrame, key: String): Unit = {
    import org.apache.spark.sql.functions._
    val stringCols = snapshot.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
    val bad = snapshot.filter(
      col(key).isNull || stringCols.map(c => col(c) === "").foldLeft(lit(false))(_ || _))
    val n = bad.count()
    require(n == 0, s"validation failed: $n rows with null key or empty cells")
  }

  /** `sync` verb: snapshot-diff + preview + one-job merge apply, against
    * any [[SyncSource]]/[[SyncTarget]] pair (parquet here; the seam where
    * Sheets v4 reads, syncquill.py:60-76, and BQ DML writes,
    * syncquill.py:78-107, would plug in). */
  def sync(spark: SparkSession, source: SyncSource, target: SyncTarget,
           key: String, preview: Boolean): SyncResult = {
    val src = source.read(spark)
    val tgt = target.read(spark)
    validate(src, key)
    val changes = SnapshotDiff.diffKeyed(tgt, src, key).persist()
    try {
      val byOp = changes.groupBy("op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = byOp.values.sum
      if (preview) PrettyPrint.show(changes)
      if (total == 0) { println("No changes."); SyncResult(0, 0, 0, 0) }
      else {
        target.merge(spark, SnapshotDiff.applyChangeset(tgt, changes, key),
          changes, key)
        SyncResult(total, byOp.getOrElse("insert", 0), byOp.getOrElse("delete", 0),
          byOp.getOrElse("update", 0))
      }
    } finally { changes.unpersist(); () }
  }

  /** Path-based `sync` (CLI / harness form): parquet both sides. */
  def sync(spark: SparkSession, sourcePath: String, targetPath: String,
           key: String, preview: Boolean = true): SyncResult =
    sync(spark, ParquetSource(sourcePath), ParquetTarget(targetPath), key, preview)

  /** `upsert` verb: whole-source truncate-and-load (R11). */
  def upsert(spark: SparkSession, source: SyncSource, target: SyncTarget, key: String): Unit = {
    val src = source.read(spark)
    validate(src, key)
    target.truncateLoad(src)
  }

  /** Path-based `upsert` (CLI / harness form). */
  def upsert(spark: SparkSession, sourcePath: String, targetPath: String, key: String): Unit =
    upsert(spark, ParquetSource(sourcePath), ParquetTarget(targetPath), key)

  /** R14 config resolution (the reference's `load_env_or_args`,
    * syncquill.py:158-161): the positional arg wins, else the named env
    * var, else fail with both names. Exposed for the spec — the three
    * paths (arg-present / env-fallback / missing-error) are gated in
    * PipelineSpec. */
  private[graft] def argOrEnv(args: Array[String], i: Int, env: String,
                              environment: collection.Map[String, String]): String =
    args.lift(i).orElse(environment.get(env)).getOrElse(
      throw new IllegalArgumentException(s"missing arg $i / $$$env"))

  /** CLI (R14/R15): `sync|upsert <sourceParquet> <targetParquet> <key>`.
    * Config resolution mirrors the reference's args-with-env-fallback
    * (syncquill.py:158-161). */
  def main(args: Array[String]): Unit = {
    val action = argOrEnv(args, 0, "GRAFT_ACTION", sys.env)
    val source = argOrEnv(args, 1, "GRAFT_SOURCE", sys.env)
    val target = argOrEnv(args, 2, "GRAFT_TARGET", sys.env)
    val key = args.lift(3).orElse(sys.env.get("GRAFT_KEY")).getOrElse("slno")
    // its own builder, not Session.build: this is the user CLI, and
    // SPARK_MASTER is a deployment setting that Session.build's pinned
    // local[$SPARK_GRAFT_CPUS] master would override
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try action match {
      case "sync" =>
        val r = sync(spark, source, target, key)
        println(s"applied: ${r.changes} changes (${r.inserts} ins, ${r.deletes} del, ${r.updates} upd)")
      case "upsert" =>
        upsert(spark, source, target, key)
        println("upsert complete")
      case other => throw new IllegalArgumentException(s"unknown action: $other (want sync|upsert)")
    } finally spark.stop()
  }
}
