package graft.tools

import java.nio.file.{Files, Paths}
import graft.{Bench, PlanWalk, Session, SparkEntry}

/** Machine-readable PLAN CENSUS over every registered query key: counts
  * of the physical-plan node classes that govern scale behavior
  * (shuffle/broadcast exchanges, scans, join strategies, sorts, windows,
  * aggregates, cartesian products). The committed `plan_census.json` is
  * the plan-shape BASELINE for the whole surface — the per-key answer to
  * "is there a shuffle here that becomes the bottleneck at 100 TB" — and
  * `--check` turns it into a regression gate: regenerate, diff against
  * the committed file, list every key whose plan shape moved.
  *
  * Counting happens on the UNEXECUTED `queryExecution.executedPlan` —
  * after `EnsureRequirements` has inserted the exchanges (sparkPlan
  * carries none) but before a single job has run, so under AQE it is
  * the initial adaptive tree: the deterministic artifact of the code +
  * fixed testdata stats alone. AQE's runtime decisions (coalesced
  * partitions, demoted broadcasts) vary with execution and belong to
  * Bench/ScaleProbe evidence, not a committed baseline. Keys whose
  * operators run side-effect probes or training at plan-construction
  * time (collapse probe, IVF/PQ/BPE ensure) execute those jobs here too
  * — the same write-time/plan-time split Bench uses, through the same
  * [[graft.Bench.prewarm]], so the persisted-epoch keys census the PROBE
  * plan, not training. A failed prewarm step exits 1 naming the step.
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

    def plan(name: String) = SparkEntry.queries(name)(spark, sfDir).queryExecution

    def censusLine(name: String): String = {
      // executedPlan WITHOUT collecting: prepareForExecution has run
      // (EnsureRequirements has inserted the exchanges — sparkPlan
      // carries none) but nothing has executed, so under AQE this is
      // the INITIAL adaptive tree: the deterministic artifact of code +
      // fixed testdata stats, before any runtime re-planning
      val nodes = PlanWalk.allNodes(plan(name).executedPlan)
      def n(pred: org.apache.spark.sql.execution.SparkPlan => Boolean): Int =
        nodes.count(pred)
      val counts = Seq(
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
      "\"" + name + "\":{" +
        counts.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",") + "}"
    }

    val keys = SparkEntry.queries.keys.toSeq.sorted
    lazy val lines = keys.map { name =>
      try censusLine(name)
      catch { case e: Throwable =>
        System.err.println(s"[census] $name failed: ${e.getMessage}")
        "\"" + name + "\":{\"error\":1}"
      }
    }

    if (dump.nonEmpty) {
      Files.createDirectories(Paths.get(dump(0)))
      dumpKeys.foreach { name =>
        Files.writeString(Paths.get(dump(0), s"$name.txt"),
          plan(name).explainString(org.apache.spark.sql.execution.FormattedMode))
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
      lines.map(_.trim).foreach { l =>
        val k = l.takeWhile(_ != ':')
        oldLines.get(k) match {
          case Some(old) if old == l => ()
          case Some(old) =>
            println(s"[census] DRIFT $k\n  committed: $old\n  current:   $l"); drift += 1
          case None =>
            println(s"[census] NEW $k → $l"); drift += 1
        }
      }
      val gone = oldLines.keySet -- lines.map(_.trim.takeWhile(_ != ':'))
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
