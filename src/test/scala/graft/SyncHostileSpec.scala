package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}
import graft.sync.{CsvTarget, ParquetSource, ParquetTarget, SnapshotDiff, SyncPipeline, SyncTarget}

/** Hostile input for the `sync` and `upsert` verbs against a TYPED
  * parquet target (bigint key, bigint / decimal(12,2) / date / string
  * values) fed
  * all-string sheets, the way a Sheets source meets a BigQuery table.
  * Every rejection must name the side, the column and the count, and
  * leave the target untouched; every accepted sync must keep the target
  * schema and leave the table equal to the typed sheet.
  *
  * Each case runs under a time limit: an observed metric whose branch
  * adaptive execution prunes (an empty side) must read as zero, never
  * wait forever for a report that cannot come.
  */
class SyncHostileSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  implicit val signaler: Signaler = ThreadSignaler

  private def hostile(name: String)(body: => Unit): Unit =
    test(name)(failAfter(Span(180, Seconds))(body))

  private val cols = Seq("slno", "qty", "price", "day", "name")
  private type Cells = (String, String, String, String, String)

  /** All-string sheet rows in `cols` order. */
  private def sheet(rows: Cells*): DataFrame = rows.toDF(cols: _*)

  /** The sheet as the typed table holds it. */
  private def typed(df: DataFrame): DataFrame = df.select(
    col("slno").cast("bigint").as("slno"), col("qty").cast("bigint").as("qty"),
    col("price").cast("decimal(12,2)").as("price"), col("day").cast("date").as("day"),
    col("name"))

  private val base = Seq[Cells](
    ("1", "10", "1.50", "2024-01-01", "a"),
    ("2", "20", "2.50", "2024-01-02", "b"),
    ("3", "30", "3.50", "2024-01-03", "c"))

  private def tmpDir(): String = Files.createTempDirectory("graft_hostile").toString

  /** A parquet target loaded with `table`, and a parquet source path per sheet. */
  private def setup(table: DataFrame, sheets: DataFrame*): (ParquetTarget, Seq[String]) = {
    val d = tmpDir()
    val t = ParquetTarget(s"$d/target")
    t.truncateLoad(table)
    val paths = sheets.indices.map { i =>
      sheets(i).write.parquet(s"$d/source$i")
      s"$d/source$i"
    }
    (t, paths)
  }

  private def sync(t: ParquetTarget, src: String) =
    SyncPipeline.sync(spark, ParquetSource(src), t, "slno", preview = false)

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** The sync throws naming every one of `parts`, and writes nothing. */
  private def rejected(t: ParquetTarget, src: String, parts: String*): Unit = {
    val (before, schema) = (rows(t.read(spark)), t.read(spark).schema)
    val e = intercept[IllegalArgumentException](sync(t, src))
    parts.foreach(p => assert(e.getMessage.contains(p), e.getMessage))
    assert(rows(t.read(spark)) === before)
    assert(t.read(spark).schema === schema)
    assert(!new File(t.path + ".next").exists())
  }

  /** The sync succeeds with `want`, keeps the schema and publishes the typed sheet. */
  private def synced(t: ParquetTarget, src: String, want: SyncPipeline.SyncResult): Unit = {
    val schema = t.read(spark).schema
    assert(sync(t, src) === want)
    assert(t.read(spark).schema === schema)
    assert(rows(t.read(spark)) === rows(typed(spark.read.parquet(src))))
  }

  hostile("duplicate keys fail naming the side, the count and the keys; nothing is written") {
    // '02' and '2' are one bigint key: a duplicate only the typed key shows
    val (t, Seq(src)) = setup(typed(sheet(base: _*)),
      sheet(base :+ ("3", "31", "3.50", "2024-01-03", "c") :+ ("02", "20", "2.50", "2024-01-02", "b"): _*))
    rejected(t, src, "source: 4 rows sharing a key (keys 2, 3)")

    val (t2, Seq(src2)) = setup(typed(sheet(base :+ ("3", "99", "9.99", "2024-02-02", "z"): _*)),
      sheet(base: _*))
    rejected(t2, src2, "target: 2 rows sharing a key (keys 3)")
  }

  hostile("a cell that fails the cast to its target type fails naming the column") {
    // a price with more scale than decimal(12,2) and a date with a time of
    // day cast without error but lose information: failures too
    val (t, Seq(src)) = setup(typed(sheet(base: _*)), sheet(
      ("1", "ten", "1.50", "2024-01-01", "a"),
      ("2", "20", "2.50", "2024-13-45", "b"),
      ("3", "30", "12345678901.00", "2024-01-03", "c"),
      ("4", "40", "1.239", "2024-01-05 13:00", "d")))
    rejected(t, src, "source: 1 cells in qty failing the cast to BIGINT",
      "source: 2 cells in day failing the cast to DATE",
      "source: 2 cells in price failing the cast to DECIMAL(12,2)")
  }

  hostile("an empty string cell and a null key fail naming them") {
    val (t, Seq(empty, nullKey)) = setup(typed(sheet(base: _*)),
      sheet(base.init :+ ("3", "30", "3.50", "2024-01-03", ""): _*),
      sheet(base :+ ((null: String, "40", "4.50", "2024-01-04", "d")): _*))
    rejected(t, empty, "source: 1 empty cells in name")
    rejected(t, nullKey, "source: 1 rows with a null key")
  }

  hostile("non-canonical keys: '007' matches 7 in a bigint target, not in an all-string one") {
    val (t, Seq(same, changed)) = setup(
      typed(sheet(("7", "70", "7.00", "2024-07-07", "g"))),
      sheet(("007", "70", "7.00", "2024-07-07", "g")),
      sheet(("007", "71", "7.00", "2024-07-07", "g")))
    synced(t, same, SyncPipeline.SyncResult(0, 0, 0, 0))
    synced(t, changed, SyncPipeline.SyncResult(1, 0, 0, 1))
    assert(t.read(spark).select("slno", "qty").as[(Long, Long)].collect().toSeq === Seq((7L, 71L)))

    val (s, Seq(src)) = setup(sheet(("7", "70", "7.00", "2024-07-07", "g")),
      sheet(("007", "70", "7.00", "2024-07-07", "g")))
    assert(sync(s, src) === SyncPipeline.SyncResult(2, 1, 1, 0))
    assert(rows(s.read(spark)) === rows(spark.read.parquet(src)))
  }

  hostile("reordered columns sync by name; added or dropped columns fail naming them") {
    val neu = base.init :+ (("4", "40", "4.50", "2024-01-04", "d"))
    val (t, Seq(reordered, added, dropped)) = setup(typed(sheet(base: _*)),
      sheet(neu: _*).select("name", "day", "slno", "price", "qty"),
      sheet(base: _*).withColumn("note", lit("x")),
      sheet(base: _*).drop("price"))
    rejected(t, added, "added [note]", "missing []")
    rejected(t, dropped, "missing [price]", "added []")
    synced(t, reordered, SyncPipeline.SyncResult(2, 1, 1, 0))
    assert(t.read(spark).columns.toSeq === cols)
  }

  hostile("nulls in typed columns are values, not failures, and round-trip") {
    val (t, Seq(src)) = setup(typed(sheet(base: _*)), sheet(
      ("1", null, "1.50", "2024-01-01", "a"),
      ("2", "20", null, null, null),
      ("3", "30", "3.50", "2024-01-03", "c")))
    synced(t, src, SyncPipeline.SyncResult(4, 0, 0, 4))
    synced(t, src, SyncPipeline.SyncResult(0, 0, 0, 0))
  }

  hostile("an empty source deletes every row and keeps the schema; an empty target inserts") {
    val (t, Seq(src)) = setup(typed(sheet(base: _*)), sheet())
    synced(t, src, SyncPipeline.SyncResult(3, 0, 3, 0))
    assert(t.read(spark).count() === 0)

    val (e, Seq(full)) = setup(typed(sheet(base: _*)).limit(0), sheet(base: _*))
    synced(e, full, SyncPipeline.SyncResult(3, 3, 0, 0))
  }

  /** `body` with session conf `k` set to `v`, then restored. */
  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  hostile("with no shuffle to read back, a sync and an upsert scan and cast the sheet themselves") {
    // adaptive execution off: the executed plans hold no query stage;
    // shuffle file clean-up on: the diff's shuffle files are gone once it ends
    Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.classic.shuffleDependency.fileCleanup.enabled" -> "true").foreach { case (k, v) =>
      withConf(k, v) {
        val neu = base.init :+ (("4", "40", "4.50", "2024-01-04", "d"))
        val (t, Seq(empty, changed)) = setup(typed(sheet(base: _*)), sheet(), sheet(neu: _*))
        synced(t, empty, SyncPipeline.SyncResult(3, 0, 3, 0))
        synced(t, changed, SyncPipeline.SyncResult(3, 3, 0, 0))
        SyncPipeline.upsert(spark, ParquetSource(empty), t, "slno")
        assert(t.read(spark).count() === 0)
      }
    }
  }

  hostile("three typed round trips in a row keep the schema and publish each sheet") {
    val sheets = Seq(
      base.map { case (k, q, p, d, n) => (k, q, p, d, n + "1") },
      base.tail :+ (("4", "40", "4.50", "2024-01-04", "d")),
      base.take(1) :+ (("5", "50", "5.05", "2024-01-05", "e")))
    val (t, paths) = setup(typed(sheet(base: _*)), sheets.map(s => sheet(s: _*)): _*)
    paths.foreach { src =>
      val want = SnapshotDiff.diffKeyed(t.read(spark), typed(spark.read.parquet(src)), "slno")
        .groupBy("op").count().as[(String, Long)].collect().toMap.withDefaultValue(0L)
      synced(t, src, SyncPipeline.SyncResult(want.values.sum, want("insert"), want("delete"),
        want("update")))
    }
  }

  hostile("upsert into a typed target keeps its schema and loads the typed sheet") {
    val neu = base.init :+ (("4", "40", "4.05", "2024-01-04", "d"))
    val (t, Seq(src)) = setup(typed(sheet(base: _*)),
      sheet(neu: _*).select("name", "day", "slno", "price", "qty"))
    val schema = t.read(spark).schema
    SyncPipeline.upsert(spark, ParquetSource(src), t, "slno")
    assert(t.read(spark).schema === schema)
    assert(rows(t.read(spark)) === rows(typed(sheet(neu: _*))))
  }

  hostile("upsert rejects a duplicate key naming it; nothing is written") {
    val (t, Seq(src)) = setup(typed(sheet(base: _*)),
      sheet(base :+ ("02", "21", "2.50", "2024-01-02", "b"): _*))
    val before = rows(t.read(spark))
    val e = intercept[IllegalArgumentException](
      SyncPipeline.upsert(spark, ParquetSource(src), t, "slno"))
    assert(e.getMessage.contains("source: 2 rows sharing a key (keys 2)"), e.getMessage)
    assert(rows(t.read(spark)) === before)
  }

  /** (name, tasks, input records) of each stage `body` runs. */
  private def stages(body: => Unit): Seq[(String, Int, Long)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        seen.add((i.name, i.numTasks, i.taskMetrics.inputMetrics.recordsRead))
        ()
      }
    }
    val sc = spark.sparkContext
    GraftBus.drain(sc, 30000)
    sc.addSparkListener(listener)
    try { body; GraftBus.drain(sc, 30000) } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** `n` distinct all-string sheet rows; `name` is a 64-character hash. */
  private def generated(n: Long): DataFrame = spark.range(n).select(
    col("id").cast("string").as("slno"), (col("id") % 97).cast("string").as("qty"),
    format_string("%d.%02d", col("id") % 1000, col("id") % 100).as("price"),
    date_format(date_add(lit("2024-01-01"), (col("id") % 365).cast("int")), "yyyy-MM-dd").as("day"),
    sha2(col("id").cast("string"), 256).as("name"))

  private def parquetFiles(path: String): Int =
    new File(path).listFiles().count(_.getName.endsWith(".parquet"))

  hostile("a changed sync and an upsert scan the source once and write on every reduce partition") {
    // one source file of 60,000 rows, a target missing every 50th; the
    // source reads 60,000 input records, the target 58,800
    val n = 60000L
    val (t, Seq(src)) = setup(typed(generated(n).filter(col("slno").cast("long") % 50 =!= 0)),
      generated(n).coalesce(1))
    def check(verb: String)(run: => Unit): Unit = {
      val ran = stages(run)
      assert(ran.count(_._3 == n) === 1, s"$verb: stages reading the source: $ran")
      val writes = ran.filter(_._1.contains("Sinks.scala"))
      // the write reads the diff's (or the check's) shuffle, not the file
      assert(writes.size === 1 && writes.head._2 > 1 && writes.head._3 === 0,
        s"$verb: write stages: $writes")
      assert(rows(t.read(spark)) === rows(typed(spark.read.parquet(src))))
    }
    check("sync")(assert(sync(t, src) === SyncPipeline.SyncResult(1200, 1200, 0, 0)))
    check("upsert")(SyncPipeline.upsert(spark, ParquetSource(src), t, "slno"))
  }

  hostile("a changed sync runs 4 jobs, a no-change sync 3 and an upsert 3; no schema read runs one") {
    // schemas come from one footer read on the driver: no job is called
    // from the connectors, whose only jobs were schema inference
    val n = 60000L
    val (t, Seq(src)) = setup(typed(generated(n).filter(col("slno").cast("long") % 50 =!= 0)),
      generated(n).coalesce(1))
    def check(verb: String, want: Int)(run: => Unit): Unit = {
      val ran = jobs(run)
      assert(ran.size === want, s"$verb: jobs $ran")
      assert(!ran.flatten.exists(_.contains("Connectors.scala")), s"$verb: jobs $ran")
    }
    check("changed sync", 4)(assert(sync(t, src) === SyncPipeline.SyncResult(1200, 1200, 0, 0)))
    check("no-change sync", 3)(assert(sync(t, src) === SyncPipeline.SyncResult(0, 0, 0, 0)))
    check("upsert", 3)(SyncPipeline.upsert(spark, ParquetSource(src), t, "slno"))
    assert(rows(t.read(spark)) === rows(typed(spark.read.parquet(src))))
  }

  hostile("a snapshot target publishes without evaluating the changeset") {
    val neu = base.init :+ (("4", "40", "4.50", "2024-01-04", "d"))
    val (t, _) = setup(typed(sheet(base: _*)))
    t.merge(spark, typed(sheet(neu: _*)), sys.error("built"), "slno")
    assert(rows(t.read(spark)) === rows(typed(sheet(neu: _*))))
  }

  hostile("at 200 shuffle partitions a sync and an upsert write at most 4 files") {
    // the CLI's own session keeps Spark's default of 200 partitions
    withConf("spark.sql.shuffle.partitions", "200") {
      val sheetRows = generated(1000)
      val (t, Seq(src, upserted)) = setup(
        typed(sheetRows.filter(col("slno").cast("long") % 100 =!= 0)),
        sheetRows, sheetRows.filter(col("slno").cast("long") % 3 =!= 0))
      synced(t, src, SyncPipeline.SyncResult(10, 10, 0, 0))
      assert(parquetFiles(t.path) <= 4)
      SyncPipeline.upsert(spark, ParquetSource(upserted), t, "slno")
      assert(parquetFiles(t.path) <= 4)
      assert(rows(t.read(spark)) === rows(typed(spark.read.parquet(upserted))))
    }
  }

  hostile("a snapshot publish whose write job fails keeps the old table") {
    // the write job throws on one row: a parquet and a CSV target must
    // both still read back their old rows and schema, because the write
    // is staged before the old files go
    val d = tmpDir()
    val targets = Seq[(SyncTarget, DataFrame)](
      ParquetTarget(s"$d/typed") -> typed(sheet(base: _*)), CsvTarget(s"$d/csv") -> sheet(base: _*))
    targets.foreach { case (t, table) =>
      t.truncateLoad(table)
      val (before, schema) = (rows(t.read(spark)), t.read(spark).schema)
      assert(before.size === base.size)
      // repartitioned: over local rows the optimizer would evaluate the
      // projection, and throw, while planning, before any write job runs
      val poisoned = table.repartition(2).withColumn("name",
        when(col("slno") === 2, raise_error(lit("poisoned row"))).otherwise(col("name")))
      val e = intercept[Exception](t.truncateLoad(poisoned))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("poisoned row")), e)
      assert(rows(t.read(spark)) === before, t)
      assert(t.read(spark).schema === schema, t)
    }
  }
}
