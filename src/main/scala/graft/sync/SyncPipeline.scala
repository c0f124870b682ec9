package graft.sync

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftFrames, Row, SparkSession}
import org.apache.spark.sql.execution.DoNotCleanup
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, DecimalType, StringType, StructField, TimestampType}

/** The reference's end-to-end verbs (R15, syncquill.py:217-239),
  * re-expressed as set-based Spark jobs:
  *
  *  - `sync`: ONE diff action computes the changeset's first rows for the
  *    preview, its per-op counts and the validation counts together; when
  *    there are changes, ONE publish writes the source cast to the
  *    target's types (vs the reference's one DML round-trip per changed
  *    cell / deleted row, syncquill.py:87,105), read back from the
  *    diff's own shuffle of the source.
  *  - `upsert`: truncate-and-load the target from the source cast to
  *    the target's types (R11), after the same source checks; the load
  *    reads the check action's shuffle of the source.
  *
  * Each verb scans and casts the source once: the write runs one task
  * per reduce partition of that shuffle (see `shuffled`).
  *
  * Auth/config (R13/R14) collapse to SparkSession config + method args —
  * there is no OAuth dance against parquet. Validation (R2) fails before
  * anything is written, like the reference (syncquill.py:67-74), but
  * reports ALL violations, not just the first.
  */
object SyncPipeline {

  final case class SyncResult(changes: Long, inserts: Long, deletes: Long, updates: Long)

  /** Changeset rows the diff action collects for the preview. */
  private val PreviewRows = 1000

  /** The observed count of rows that share their key with another row. */
  private val SharedKeys = "rows sharing a key"

  /** `df` with `__n`, its key's `count(1) over (partition by key)`: a
    * window whose exchange and sort the diff's sort-merge join reuses. */
  private def windowed(df: DataFrame, key: String): DataFrame =
    df.withColumn("__n", count(lit(1)).over(Window.partitionBy(key)))

  private val sharedKeys: Column = count(when(col("__n") > 1, 1)).as(SharedKeys)

  /** `df` observed as `side`: [[SharedKeys]] and `checks`; then only `keep`. */
  private def observed(df: DataFrame, key: String, side: String, checks: Seq[Column],
                       keep: Seq[String]): DataFrame =
    windowed(df, key).observe(side, sharedKeys, checks: _*).select(keep.map(col): _*)

  /** Cell `c` is non-null and `try_cast` to `dt` loses it: null (a failed
    * cast), a decimal rounded to `dt`'s scale ('1.239' as decimal(12,2)
    * gives 1.24), or a date that drops a time of day ('2024-01-05 13:00').
    * Only a cell whose text could hold more than `dt` (an exponent or more
    * fraction digits than the scale; a space or 'T' after a date) pays the
    * exact comparison: on every cell it added ~0.09 s to the checks of a
    * 150,000-row sheet on 4 local cores, this way ~0.05 s. */
  private def castFails(c: Column, dt: DataType): Column = {
    val (t, text) = (c.try_cast(dt), c.cast(StringType))
    val lossy = dt match {
      // the widest decimal with dt's integer digits: exact to 38 digits
      case d: DecimalType => (text.contains("e") || text.contains("E") ||
        (text.contains(".") && length(substring_index(text, ".", -1)) > d.scale)) &&
        t =!= c.try_cast(DecimalType(38, 38 - d.precision + d.scale))
      case DateType => (trim(text).contains(" ") || text.contains("T")) &&
        !(t.cast(TimestampType) <=> c.try_cast(TimestampType))
      case _ => lit(false)
    }
    c.isNotNull && (t.isNull || lossy)
  }

  /** The source aligned by name to `fields`, each column not already of
    * its field's type `try_cast` to it, plus one flag long per 63 checks
    * (`flagged`), and the counts of each check over those longs
    * (`checks`): null keys, empty string cells, and cells whose cast
    * fails or loses information. Missing or added columns fail at once. */
  private final case class Checked(flagged: DataFrame, checks: Seq[Column])

  private def checked(src: DataFrame, fields: Seq[StructField], key: String): Checked = {
    val (have, want) = (src.columns.toSeq, fields.map(_.name))
    val dropped = want.filterNot(have.contains)
    val added = have.filterNot(want.contains)
    require(dropped.isEmpty && added.isEmpty, "validation failed: source columns differ from " +
      s"the target's: missing [${dropped.mkString(", ")}], added [${added.mkString(", ")}]")
    require(want.contains(key), s"validation failed: key column $key is not in the target")

    // a column already of its field's type stays the source's own
    // attribute (no identity cast whose alias the optimizer would drop),
    // so the shuffle of `flagged` outputs exactly `flagged`'s attributes
    val typedCols = fields.map(f => if (src.schema(f.name).dataType == f.dataType) col(f.name)
      else col(f.name).try_cast(f.dataType).as(f.name))
    val checks: Seq[(String, Column)] = ("rows with a null key" -> col(key).isNull) +:
      (src.schema.fields.toSeq.collect {
        case f if f.dataType == StringType => s"empty cells in ${f.name}" -> (col(f.name) === "")
      } ++ fields.collect {
        case f if src.schema(f.name).dataType != f.dataType =>
          s"cells in ${f.name} failing the cast to ${f.dataType.sql}" ->
            castFails(col(f.name), f.dataType)
      })
    // each check is one bit of a long (63 per long) computed in the cast
    // projection and counted by the source's one observation after the
    // window: a second observation before the exchange cost ~0.1 s more
    // per no-change sync of a 150,000-row sheet on 4 local cores
    val flags = checks.indices.grouped(63).toSeq.map(word => word.map(i =>
      when(checks(i)._2, 1L << (i % 63)).otherwise(0L)).reduce(_ bitwiseOR _))
    Checked(src.select(typedCols ++ flags.indices.map(w => flags(w).as(s"__bad$w")): _*),
      checks.indices.map(i => count(when(
        (col(s"__bad${i / 63}") bitwiseAND (1L << (i % 63))) =!= 0, 1)).as(checks(i)._1)))
  }

  /** `df`'s rows, read back from the shuffle stage that the action
    * already run on `ran` wrote from `df` (the stage whose output is
    * `df`'s own attributes), through that stage's coalesced read: no
    * second scan or cast, one task per reduce partition after
    * coalescing. `df` itself when the executed plan has no such stage
    * (adaptive execution is off, or removed the side), reads it split
    * for skew, or removes its shuffle files once the action ends. */
  private def shuffled(ran: DataFrame, df: DataFrame): DataFrame = {
    val out = df.queryExecution.analyzed.output.map(_.exprId)
    def isDf(s: ShuffleQueryStageExec) = s.output.map(_.exprId) == out
    val read = if (ran.queryExecution.shuffleCleanupMode != DoNotCleanup) None
      else Stages.collectFirst(ran.queryExecution.executedPlan) {
        case r @ AQEShuffleReadExec(s: ShuffleQueryStageExec, _) if isDf(s) =>
          Option.when(r.isCoalescedRead)(r)
        case s: ShuffleQueryStageExec if isDf(s) => Some(s)
      }.flatten
    read.fold(df)(GraftFrames.ofPlan(df.sparkSession, _))
  }

  /** Walks adaptive plans into their query stages. */
  private object Stages extends AdaptiveSparkPlanHelper

  /** A row of counts as (name, count) pairs. */
  private def named(r: Row): Seq[(String, Long)] =
    r.schema.fieldNames.toSeq.zip(r.toSeq.map(_.asInstanceOf[Long]))

  /** Up to 10 keys of `df` that several rows share, in order (a query;
    * failure path only). */
  private def firstShared(df: DataFrame, key: String): Seq[Any] =
    df.groupBy(key).count().filter(col("count") > 1).select(key).orderBy(key).limit(10)
      .collect().map(_.get(0)).toSeq

  /** Throws naming `side`, the check and its count for every non-zero
    * count, and the keys `shared` gives when rows share a key. */
  private def rejectBad(sides: Seq[(String, Seq[(String, Long)], () => Seq[Any])]): Unit = {
    val problems = sides.flatMap { case (side, counts, shared) =>
      counts.collect { case (what, n) if n > 0 =>
        val keys = if (what != SharedKeys) "" else shared().mkString(" (keys ", ", ", ")")
        s"$side: $n $what$keys"
      }
    }
    require(problems.isEmpty, s"validation failed: ${problems.mkString("; ")}")
  }

  /** `sync` verb over any [[SyncSource]]/[[SyncTarget]] pair (parquet
    * here; the seam where Sheets v4 reads, syncquill.py:60-76, and BQ DML
    * writes, syncquill.py:78-107, would plug in).
    *
    * The source is aligned to the target's columns by name and each
    * column `try_cast` to the target field's type, so the target's schema
    * never changes. One diff action (`collect` of the first
    * [[PreviewRows]] changes) carries the observed counts: null keys,
    * empty string cells and lossy or failed casts per column on the
    * source, rows sharing a key on either side, and inserts / deletes /
    * updates on the changeset. Any violation throws, naming the columns
    * and counts, before anything is written. A snapshot target then
    * publishes the typed source itself: `applyChangeset(t, diffKeyed(t, s)) ≡ s`
    * (DiffPropertySpec), so re-reading the target and joining the
    * changeset back in would rebuild the same table. The typed source it
    * publishes is the diff's own hash-partitioned shuffle of it, so the
    * publish neither scans nor casts the sheet again. */
  def sync(spark: SparkSession, source: SyncSource, target: SyncTarget,
           key: String, preview: Boolean): SyncResult = {
    val tgt = target.read(spark)
    val want = tgt.columns.toSeq
    val src = checked(source.read(spark), tgt.schema.fields.toSeq, key)
    val diff = SnapshotDiff.diffKeyed(observed(tgt, key, "target", Nil, want),
        observed(src.flagged, key, "source", src.checks, want), key)
      .observe("changes", SnapshotDiff.opCounts.head, SnapshotDiff.opCounts.tail: _*)
      .orderBy("op", "slno", "col").limit(PreviewRows)
    val rows = diff.collect().toSeq

    // an observed branch AQE pruned (an empty side) reports nothing: count 0
    val metrics = diff.queryExecution.observedMetrics
    def counts(name: String): Seq[(String, Long)] = metrics.get(name).toSeq.flatMap(named)
    rejectBad(Seq(("source", counts("source"), () => firstShared(src.flagged, key)),
      ("target", counts("target"), () => firstShared(tgt, key))))

    val byOp = counts("changes").toMap.withDefaultValue(0L)
    val total = byOp.values.sum
    if (preview) print(PrettyPrint.render(rows))
    if (total == 0) { println("No changes."); SyncResult(0, 0, 0, 0) }
    else {
      val merged = shuffled(diff, src.flagged).select(want.map(col): _*)
      target.merge(spark, merged, SnapshotDiff.diffKeyed(tgt, merged, key), key)
      SyncResult(total, byOp("insert"), byOp("delete"), byOp("update"))
    }
  }

  /** Path-based `sync` (CLI / harness form): parquet both sides. */
  def sync(spark: SparkSession, sourcePath: String, targetPath: String,
           key: String, preview: Boolean = true): SyncResult =
    sync(spark, ParquetSource(sourcePath), ParquetTarget(targetPath), key, preview)

  /** `upsert` verb: whole-source truncate-and-load (R11). Into an
    * existing target it loads the source cast to the target's types,
    * after the checks `sync` runs on the source; a new target gets the
    * source's own types and the same key and cell checks. One check
    * action observes the counts over the windowed source and collects the
    * first 10 rows that share a key (none on a valid sheet); the load
    * then writes the source that action already scanned, cast and
    * shuffled by key. */
  def upsert(spark: SparkSession, source: SyncSource, target: SyncTarget, key: String): Unit = {
    val raw = source.read(spark)
    val fields = (try target.read(spark).schema catch {
      case _: AnalysisException | _: java.sql.SQLException => raw.schema
    }).fields.toSeq
    val want = fields.map(_.name)
    val src = checked(raw, fields, key)
    val check = windowed(src.flagged, key).observe("source", sharedKeys, src.checks: _*)
      .filter(col("__n") > 1).select(want.map(col): _*).orderBy(key).limit(10)
    val shared = check.collect().map(_.getAs[Any](key)).distinct.toSeq
    rejectBad(Seq(("source", check.queryExecution.observedMetrics.get("source").toSeq
      .flatMap(named), () => shared)))
    target.truncateLoad(shuffled(check, src.flagged).select(want.map(col): _*))
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
