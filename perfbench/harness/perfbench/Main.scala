package perfbench

import java.io.{File, OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Session, SparkEntry}
import graft.sync.{ParquetSource, ParquetTarget, SyncPipeline}

/** JVM side of the benchmark: set-up, the closed-loop timed passes, the
  * per-op output checks of `sync-churn`, the result dumps the DuckDB oracle
  * checks read, and (with tracing on) the span and listener trace.
  * perfbench/run.py builds and launches it; see perfbench/README.md. */
object Main {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
  val Cpus = "4"

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, sheets: String, work: String, out: String)

  final case class Span(name: String, start: Double, end: Double, parent: String, op: String)

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution, the
    * clock Spark stamps job and stage events with. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  def span[T](name: String, parent: String, op: String)(body: => T): T = {
    val s = nowMs
    try body finally spans += Span(name, s, nowMs, parent, op)
  }

  /** A set-up step that fails stops the run and names itself. */
  def step[T](name: String)(body: => T): T =
    try body catch { case e: Throwable =>
      System.err.println(s"[perfbench] set-up step '$name' failed: $e")
      e.printStackTrace()
      sys.exit(3)
    }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("sheets"), kv("work"), kv("out"))
    val w: Workload = a.workload match {
      case "sync-churn" => new SyncChurn(a)
      case "llm-dedup" => new Queries(a, Queries.Dedup, passes = 3)
      case other => System.err.println(s"[perfbench] unknown workload $other"); sys.exit(2)
    }

    // set-up, from JVM start to the first timed op: session build, warm-up
    // and initial load
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val b = nowMs
    val spark = step("Session.build")(Session.build(Cpus))
    val buildS = (nowMs - b) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    step("warm-up")(w.warm(spark))
    step("initial load")(w.load(spark))
    val setupS = (nowMs - jvmStart) / 1e3

    val ledger = new Ledger
    val sc = spark.sparkContext
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    var measured = 0.0
    var p = 0
    // Closed loop, one client: ops run back to back, in whole passes over the
    // op list, the workload's pass count and more until `seconds` of op time
    // are measured. A fixed pass count, not the clock, ends a normal run, so
    // every run measures the same ops. With tracing on, passes come in blocks
    // of four and each op runs traced in an ABBA order (untraced, traced,
    // traced, untraced for even j; the reverse for odd j), so a linear
    // warm-up trend cancels out of the traced-vs-untraced comparison.
    val nPasses = if (a.trace) math.max(w.passes, 4) else w.passes
    while (p < nPasses || measured < a.seconds || (a.trace && p % 4 != 0)) {
      if (p > 0) step("pass reset")(w.reset(spark))
      val pid = s"p$p"
      val recs = mutable.ArrayBuffer[Map[String, Any]]()
      var j = 0
      while (j < w.size) {
        val t = a.trace && ((p % 4 == 1 || p % 4 == 2) != (j % 2 == 1))
        if (t) sc.addSparkListener(ledger)
        val r = w.op(spark, j, s"$pid.$j", pid, firstPass = p == 0, traced = t)
        if (t) { org.apache.spark.SparkBridge.drain(sc); sc.removeSparkListener(ledger) }
        val rec = r ++ Map("pass" -> p, "traced" -> t)
        recs += rec
        ops += rec
        measured += rec("s").asInstanceOf[Double]
        j += 1
      }
      passes += Map("pass" -> p, "s" -> recs.map(_("s").asInstanceOf[Double]).sum)
      p += 1
    }

    // full GCs with pauses between them, so Spark's ContextCleaner can drop
    // what the first one made unreachable before the next one runs
    val heap = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val result = Json.obj("workload" -> a.workload, "seed" -> a.seed, "setup_s" -> setupS,
      "session_build_s" -> buildS,
      "passes" -> passes, "ops" -> ops, "ops_per_pass" -> w.size, "heap_retained_mb" -> heap,
      "cpus" -> Cpus.toInt,
      "oracle" -> w.oracle)
    Files.writeString(Paths.get(a.out), result)
    if (a.trace) {
      val sp = spans.map(s => Json.obj("name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "op" -> s.op))
      Files.writeString(Paths.get(a.out.stripSuffix(".json") + ".trace.json"),
        Json.obj("spans" -> Json.Raw(sp.mkString("[", ",", "]")), "ledger" -> Json.Raw(ledger.toJson)))
    }
    spark.stop()
  }
}

/** One workload: its warm-up, initial load and op list. */
trait Workload {
  def warm(spark: SparkSession): Unit
  def load(spark: SparkSession): Unit
  /** Untimed state reset before each pass. */
  def reset(spark: SparkSession): Unit
  /** Ops per pass. */
  def size: Int
  /** Passes per untraced run: at least 11 ops (the tail percentile needs
    * ten samples beyond it); a traced run makes at least four. */
  def passes: Int
  /** Runs op `j` of the op list; the record holds its time `s`. */
  def op(spark: SparkSession, j: Int, id: String, pid: String, firstPass: Boolean,
         traced: Boolean): Map[String, Any]
  def oracle: Map[String, String]

  /** Row count and an order-free fingerprint of `cols` in the string domain:
    * the decimal sum of the per-row xxhash64 of the stringified values. */
  protected def fingerprint(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val h = xxhash64(cols.map(c => df.col(s"`$c`").cast("string")): _*).cast("decimal(38,0)")
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  /** Times one op and tags the jobs it submits; records its span when traced. */
  protected def timed(spark: SparkSession, id: String, pid: String, name: String, traced: Boolean)(
      body: => Map[String, Any]): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Main.OpProp, id)
    val start = Main.nowMs
    val out = try body ++ Map("ok" -> true)
      catch { case e: Exception => Map("ok" -> false, "error" -> e.toString.take(500)) }
    val end = Main.nowMs
    sc.setLocalProperty(Main.OpProp, null)
    sc.setLocalProperty(Main.SpanProp, null)
    if (traced) Main.spans += Main.Span("op", start, end, pid, id)
    out ++ Map("op" -> id, "name" -> name, "start" -> start, "end" -> end, "s" -> (end - start) / 1e3)
  }
}

/** `sync-churn`: the paper's verbs against a typed parquet target. */
final class SyncChurn(a: Main.Args) extends Workload {
  private final case class Op(verb: String, churn: Double, rows: Long, changes: Long,
                              inserts: Long, deletes: Long, updates: Long, changedRowBytes: Long)
  private val opList: Seq[Op] = scala.io.Source.fromFile(s"${a.sheets}/ops.tsv").getLines()
    .drop(1).map(_.split('\t')).map(f => Op(f(0), f(1).toDouble, f(2).toLong, f(3).toLong,
      f(4).toLong, f(5).toLong, f(6).toLong, f(7).toLong)).toSeq
  private val key = "slno"
  private val target = ParquetTarget(s"${a.work}/target")
  private def sheet(i: Int) = s"${a.sheets}/sheet_$i.parquet"
  private val devNull = new PrintStream(OutputStream.nullOutputStream())

  /** The target as BigQuery autodetect would leave it: typed columns. */
  private def typed(sheetDf: DataFrame): DataFrame = sheetDf.select(
    col("slno").cast("bigint").as("slno"), col("custkey").cast("bigint").as("custkey"),
    col("status"), col("price").cast("decimal(12,2)").as("price"),
    col("odate").cast("date").as("odate"), col("priority"))

  // the CLI's preview stays on; its table goes to a discarded stream
  private def sync(spark: SparkSession, src: String, tgt: ParquetTarget) =
    Console.withOut(devNull)(SyncPipeline.sync(spark, ParquetSource(src), tgt, key, preview = true))

  /** Each op kind once, at full size, on a target of its own. */
  def warm(spark: SparkSession): Unit = {
    val wt = ParquetTarget(s"${a.work}/warm")
    val warmSheet = s"${a.sheets}/warm.parquet"
    wt.truncateLoad(typed(spark.read.parquet(sheet(0))))
    sync(spark, warmSheet, wt)
    sync(spark, warmSheet, wt)
    SyncPipeline.upsert(spark, ParquetSource(sheet(0)), wt, key)
  }

  def load(spark: SparkSession): Unit = target.truncateLoad(typed(spark.read.parquet(sheet(0))))
  def reset(spark: SparkSession): Unit = load(spark)
  def oracle: Map[String, String] = Map.empty

  private def files(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  /** The rows in the string domain the reference compares in
    * (syncquill.py:112-113). */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) =
    fingerprint(df, Seq("slno", "custkey", "status", "price", "odate", "priority"))

  def size: Int = opList.size
  def passes: Int = 2
  private val sheetPrints = mutable.HashMap[Int, (Long, BigDecimal)]()

  def op(spark: SparkSession, j: Int, id: String, pid: String, firstPass: Boolean,
         traced: Boolean): Map[String, Any] = {
    val op = opList(j)
    val src = sheet(j + 1)
    val before = spark.read.parquet(target.path).schema
    val kind = if (op.verb == "upsert") "upsert" else if (op.changes == 0) "noop" else "sync"
    val rec = timed(spark, id, pid, kind, traced) {
      if (op.verb == "upsert") { SyncPipeline.upsert(spark, ParquetSource(src), target, key); Map() }
      else {
        val r = sync(spark, src, target)
        Map("got" -> Seq(r.changes, r.inserts, r.deletes, r.updates))
      }
    }
    // output checks, outside the timed region: op counts, target = sheet
    val after = spark.read.parquet(target.path).schema
    val drift = before.fields.count(f => after.find(_.name == f.name).exists(_.dataType != f.dataType))
    val want = Seq(op.changes, op.inserts, op.deletes, op.updates)
    val countsOk = op.verb == "upsert" || rec.get("got").contains(want)
    val same = fingerprint(spark.read.parquet(target.path)) ==
      sheetPrints.getOrElseUpdate(j, fingerprint(spark.read.parquet(src)))
    val ok = rec("ok") == true && countsOk && same
    if (!ok) target.truncateLoad(spark.read.parquet(src)) // the next op starts from the expected state
    rec ++ Map("ok" -> ok, "kind" -> kind, "churn" -> op.churn, "rows" -> op.rows,
      "want" -> want, "counts_ok" -> countsOk, "target_matches_sheet" -> same,
      "schema_drift_cols" -> drift, "changed_row_bytes" -> op.changedRowBytes,
      "target_bytes" -> files(target.path).map(_.length).sum,
      "sheet_bytes" -> new File(src).length)
  }
}

/** The query workloads: each op builds one `SparkEntry` key's DataFrame,
  * forces its physical plan and runs an action that computes every output
  * column (a `noop` write; `count()` lets Catalyst prune columns). */
final class Queries(a: Main.Args, keys: Seq[String], val passes: Int) extends Workload {
  private val registry = SparkEntry.queries
  private val order = new scala.util.Random(a.seed).shuffle(keys)
  private val firstPrints = mutable.HashMap[String, (Long, BigDecimal)]()
  def oracle: Map[String, String] = keys.map(k => k -> SparkEntry.oracleSql(k)).toMap

  private def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def warm(spark: SparkSession): Unit = order.foreach(k => run(registry(k)(spark, a.data)))
  def load(spark: SparkSession): Unit = ()
  def reset(spark: SparkSession): Unit = ()

  def size: Int = order.size

  def op(spark: SparkSession, j: Int, id: String, pid: String, firstPass: Boolean,
         traced: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    val k = order(j)
    var df: DataFrame = null
    def phase[T](name: String)(body: => T): T = {
      sc.setLocalProperty(Main.SpanProp, name)
      if (traced) Main.span(name, id, id)(body) else body
    }
    val rec = timed(spark, id, pid, k, traced) {
      df = phase("construct")(registry(k)(spark, a.data))
      phase("plan")(df.queryExecution.executedPlan)
      phase("exec")(run(df))
      Map()
    }
    // output checks, outside the timed region: the first pass dumps each
    // key's full result for the DuckDB oracle (run.py), and every later pass
    // must give the same rows as that dump
    val ok = rec("ok") == true && {
      val dump = s"${a.work}/results/$k"
      if (firstPass) {
        df.write.mode("overwrite").parquet(dump)
        firstPrints(k) = fingerprint(spark.read.parquet(dump), df.columns.toSeq)
        true
      } else firstPrints.get(k).contains(fingerprint(df, df.columns.toSeq))
    }
    rec ++ Map("ok" -> ok, "kind" -> "query")
  }
}

object Queries {
  val Dedup = Seq("dedup_cluster", "dedup_cluster_stars", "graph_components",
    "pipeline_dedup_ordered", "dedup_ngram_jaccard", "agg_assoc_rules")
}
