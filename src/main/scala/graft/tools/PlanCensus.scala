package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.collection.mutable
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import graft.{Bench, PlanWalk, Session, SparkEntry, Tables}

/** Machine-readable PLAN CENSUS over every registered query key, and the
  * per-key regression gate. Each key gets two kinds of counts:
  *
  *  - SHAPE: the physical-plan node classes that govern scale behavior
  *    (shuffle/broadcast exchanges, scans, join strategies, sorts,
  *    windows, aggregates, cartesian products), counted on the
  *    UNEXECUTED `queryExecution.executedPlan` — after `EnsureRequirements`
  *    has inserted the exchanges (sparkPlan carries none) but before a
  *    single job has run, so under AQE it is the initial adaptive tree.
  *  - JOBS: the jobs and submitted stages of CONSTRUCTION (building the
  *    DataFrame and its plan: the eager work iterative and driver-finish
  *    operators do before they return) and of EXECUTION (a `noop` write
  *    that computes every column, as perfbench runs a key). These see
  *    the work a returned plan hides behind a checkpoint or a local
  *    relation.
  *
  * Both are deterministic artifacts of the code and the fixed testdata,
  * unlike wall time, so the committed `plan_census.json` is the baseline
  * and `--check` regenerates it and names every field that moved. Keys
  * whose operators run side-effect probes or training at construction
  * (collapse probe, IVF/PQ/BPE ensure) census after the same
  * [[graft.Bench.prewarm]] Bench uses, so the persisted-epoch keys count
  * the PROBE, not training. A failed prewarm step exits 1 naming the step.
  *
  * `--dump` writes the same prewarmed `queryExecution`'s formatted plan
  * (`explainString(FormattedMode)`) per key to `<dir>/<key>.txt` instead
  * of censusing; it never reads or writes `plan_census.json`.
  *
  * Usage:
  *   sbt "runMain graft.tools.PlanCensus"             — regenerate plan_census.json
  *   sbt "runMain graft.tools.PlanCensus --check"     — diff against the committed file, exit 1 on drift
  *   sbt "runMain graft.tools.PlanCensus --dump <dir> [k1,k2,…]" — formatted plans (all keys if none listed)
  * Optional first non-flag arg = sf dir (default /root/testdata/sf0.01).
  */
object PlanCensus {
  /** The local property that tags each phase's jobs; Spark copies it to
    * the broadcast and subquery threads a query starts. */
  private val PhaseProp = "graft.census.phase"

  /** Counts the jobs and submitted stages per [[PhaseProp]] value. */
  private final class PhaseCounter extends SparkListener {
    private val n = mutable.Map.empty[String, Int].withDefaultValue(0)
    private def bump(props: Properties, what: String): Unit =
      Option(props).flatMap(p => Option(p.getProperty(PhaseProp)))
        .foreach(phase => synchronized(n(s"${phase}_$what") += 1))
    override def onJobStart(e: SparkListenerJobStart): Unit = bump(e.properties, "jobs")
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      bump(e.properties, "stages")
    def apply(field: String): Int = synchronized(n(field))
  }

  private val JobFields = Seq("construct_jobs", "construct_stages", "exec_jobs", "exec_stages")

  private def shape(plan: SparkPlan): Seq[(String, Int)] = {
    val nodes = PlanWalk.allNodes(plan)
    def n(pred: SparkPlan => Boolean): Int = nodes.count(pred)
    Seq(
      "shuffle" -> n(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      "broadcast" -> n(_.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike]),
      "filescan" -> n(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      "smj" -> n(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "bhj" -> n(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "bnlj" -> n(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "cartesian" -> n(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "agg" -> n(p => p.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]
        || p.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]
        || p.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec]),
      "sort" -> n(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "window" -> n(p => p.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]
        || p.getClass.getSimpleName == "WindowGroupLimitExec"))
  }

  /** Key `name`'s census counts: the ten shape counts, then
    * `construct_jobs`, `construct_stages`, `exec_jobs`, `exec_stages`.
    * The counts must not depend on which key ran before, so the two
    * per-JVM memos that save jobs are set first: the table schemas are
    * read outside both phases (the first read of a table runs a schema
    * job), and the dedup collapse-probe memo is cleared, so every dedup
    * key counts its own probe. */
  def counts(spark: SparkSession, sfDir: String, name: String): Seq[(String, Int)] = {
    Tables.names.foreach(Tables.load(spark, sfDir, _))
    graft.llm.Dedup.clearCollapseProbes()
    val sc = spark.sparkContext
    val counter = new PhaseCounter
    def phase[T](p: String)(body: => T): T = {
      sc.setLocalProperty(PhaseProp, p)
      try body finally sc.setLocalProperty(PhaseProp, null)
    }
    sc.addSparkListener(counter)
    try {
      val (df, shapeCounts) = phase("construct") {
        val df = SparkEntry.queries(name)(spark, sfDir)
        (df, shape(df.queryExecution.executedPlan))
      }
      phase("exec")(df.write.format("noop").mode("overwrite").save())
      GraftBus.drain(sc, 60000)
      shapeCounts ++ JobFields.map(f => f -> counter(f))
    } finally sc.removeSparkListener(counter)
  }

  /** Keys whose job and stage counts differ between runs of the same
    * code, so `--check` compares only their shape: graph_hits read 7, 6
    * and 7 execution jobs in three consecutive runs (its iterations run
    * broadcast and shuffle stages concurrently; most likely adaptive
    * execution's stage reuse depends on which finishes first). */
  private val UnstableJobCounts = Set("graph_hits")

  /** The `"field":count` pairs of one `plan_census.json` line. */
  private def fields(line: String): Seq[(String, String)] =
    "\"(\\w+)\":(-?\\d+)".r.findAllMatchIn(line).map(m => m.group(1) -> m.group(2)).toSeq

  /** `field old -> new` for each field that differs between two lines. */
  private def moved(was: String, now: String): Seq[String] = {
    val (a, b) = (fields(was).toMap, fields(now).toMap)
    (fields(now) ++ fields(was)).map(_._1).distinct.collect {
      case f if a.get(f) != b.get(f) =>
        s"$f ${a.getOrElse(f, "absent")} -> ${b.getOrElse(f, "absent")}"
    }
  }

  def main(args: Array[String]): Unit = {
    // `--dump <dir> [k1,k2,…]` comes last and takes the rest of the args
    val (censusArgs, dumpArgs) = args.span(_ != "--dump")
    val dump = dumpArgs.drop(1)
    require(dumpArgs.isEmpty || dump.nonEmpty, "usage: PlanCensus [sfDir] --dump <dir> [k1,k2,...]")
    val checkMode = censusArgs.contains("--check")
    val sfDir = censusArgs.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.01")
    val outPath = "plan_census.json"
    // the listed dump keys, checked before any session work
    val dumpKeys = if (dump.isEmpty) Nil
      else SparkEntry.select(dump.lift(1)).keys.toSeq.sorted
    val spark = Session.build(cpusDefault = "4")
    spark.sparkContext.setLogLevel("ERROR")

    val warmupFailed = Bench.prewarm(spark, sfDir)
    if (warmupFailed.nonEmpty) {
      System.err.println(s"[census] prewarm failed: ${warmupFailed.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }

    val keys = SparkEntry.queries.keys.toSeq.sorted
    lazy val lines = keys.map { name =>
      val c = try counts(spark, sfDir, name)
      catch { case e: Throwable =>
        System.err.println(s"[census] $name failed: ${e.getMessage}")
        Seq("error" -> 1)
      }
      "\"" + name + "\":{" + c.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",") + "}"
    }

    if (dump.nonEmpty) {
      Files.createDirectories(Paths.get(dump(0)))
      dumpKeys.foreach { name =>
        Files.writeString(Paths.get(dump(0), s"$name.txt"),
          SparkEntry.queries(name)(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
      }
      println(s"[census] dumped ${dumpKeys.size} plans to ${dump(0)}")
      spark.stop()
    } else if (checkMode) {
      val committed = if (Files.exists(Paths.get(outPath)))
        Files.readString(Paths.get(outPath)) else ""
      val oldLines = committed.linesIterator
        .filter(_.trim.startsWith("\"")).map(_.stripSuffix(",").trim)
        .map(l => l.takeWhile(_ != ':') -> l).toMap
      var drift = 0
      lines.foreach { l =>
        val k = l.takeWhile(_ != ':')
        val name = k.stripPrefix("\"").stripSuffix("\"")
        oldLines.get(k) match {
          case Some(old) =>
            val m = moved(old, l).filterNot(f =>
              UnstableJobCounts(name) && JobFields.contains(f.takeWhile(_ != ' ')))
            if (m.nonEmpty) { println(s"[census] DRIFT $name: ${m.mkString(", ")}"); drift += 1 }
          case None =>
            println(s"[census] NEW $k → $l"); drift += 1
        }
      }
      val gone = oldLines.keySet -- lines.map(_.takeWhile(_ != ':'))
      gone.toSeq.sorted.foreach { k => println(s"[census] REMOVED $k"); drift += 1 }
      println(s"[census] ${lines.size} keys checked, $drift drifted")
      spark.stop()
      if (drift > 0) sys.exit(1)
    } else {
      Files.writeString(Paths.get(outPath), lines.mkString("{\n", ",\n", "\n}\n"))
      println(s"[census] wrote $outPath (${keys.size} keys)")
      spark.stop()
    }
  }
}
