package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.window.WindowExec
import scala.jdk.CollectionConverters._

/** Session-hygiene sweep over EVERY declared query key:
  *
  *  1. No PHYSICAL plan executed while evaluating a query may contain a
  *     partition-less WindowExec outside the three contract sites
  *     (diff_positional: global row position IS the reference semantics;
  *     text_zipf: the window ranks a k-row top-list;
  *     pipeline_length_histogram: the running-share window runs over the
  *     ≤ maxlen/16-row bucket frame). A partition-less
  *     WindowExec funnels the whole input through one task — at 100 TB
  *     that's a stalled stage, so any NEW site must fail review here
  *     first. The audit hooks a QueryExecutionListener so it also sees
  *     plans the returned DataFrame hides: subplans materialized by
  *     eager localCheckpoints during operator CONSTRUCTION, and the
  *     per-round plans of iterative operators — a logical-plan-only
  *     check would miss both (everything upstream of a checkpoint
  *     collapses to "Scan ExistingRDD").
  *
  *  2. No execution may contain a non-broadcast CartesianProduct outside
  *     the documented all-pairs oracle baselines — the quadratic join is
  *     the canonical 100 TB killer.
  *
  *  3. After evaluating every query, the session must hold no cached
  *     RDDs. Operator-internal `.persist()` without an unpersist pins the
  *     entry in the CacheManager forever (strong reference — no GC can
  *     reclaim it), which on a long-lived production session means the
  *     whole corpus slowly accumulates in executor storage memory.
  *     Operators that materialize multi-consumer intermediates use
  *     `localCheckpoint` (ContextCleaner-released once unreachable) or
  *     try/finally unpersist; this test is the regression guard.
  */
class HygieneSpec extends SparkSpec {

  private def physicalBareWindows(qe: QueryExecution): Seq[WindowExec] = {
    // PlanWalk recurses through AQE query-stage leaves — a plain
    // collectWithSubqueries stops at ResultQueryStageExec and would see
    // NOTHING of an adaptively-executed plan.
    // executedPlan can throw for plans that never reached execution;
    // the listener only hands us completed executions, but stay safe
    try PlanWalk.allNodes(qe.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    } catch { case _: Throwable => Seq.empty }
  }

  private def physicalCartesians(qe: QueryExecution): Seq[String] =
    try PlanWalk.allNodes(qe.executedPlan).collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c.nodeName
    } catch { case _: Throwable => Seq.empty }

  // one shared evaluation pass feeds all three audits (building + running
  // all declared queries once is the expensive part)
  private lazy val sweep: (Set[String], Set[String]) = {
    // isolate from caches other suites may have left in the shared session
    spark.catalog.clearCache()
    val offenders = scala.collection.mutable.Set.empty[String]
    val cartesians = scala.collection.mutable.Set.empty[String]
    @volatile var currentKey = ""
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (physicalBareWindows(qe).nonEmpty) { offenders.synchronized { offenders += currentKey }; () }
        if (physicalCartesians(qe).nonEmpty) { cartesians.synchronized { cartesians += currentKey }; () }
      }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
        currentKey = k
        val df = fn(spark, sfDir) // construction-time executions audited too
        // the logical check still covers the returned plan's un-executed
        // regions (e.g. a Window above the final checkpoint before count)
        val logical = df.queryExecution.optimizedPlan.collectWithSubqueries {
          case w: LogicalWindow if w.partitionSpec.isEmpty => w
        }
        if (logical.nonEmpty) { offenders.synchronized { offenders += k }; () }
        df.count()
        // drain the async bus BEFORE advancing currentKey: the listener
        // reads currentKey at processing time, so an undrained event from
        // this query would be attributed to the next key
        org.apache.spark.GraftBus.drain(spark.sparkContext, 30000)
      }
    } finally spark.listenerManager.unregister(listener)
    (offenders.toSet, cartesians.toSet)
  }

  private lazy val bareWindowOffenders: Set[String] = sweep._1
  private lazy val cartesianOffenders: Set[String] = sweep._2

  test("CartesianProduct appears ONLY in the documented all-pairs baselines") {
    // a non-broadcast cartesian join is the 100 TB killer class; the only
    // legitimate sites are the exact all-pairs ORACLE BASELINES whose
    // bucketed/banded scale twins exist precisely because of this
    val allowed = Set("dedup_embedding_cosine")
    assert(cartesianOffenders.subsetOf(allowed),
      s"unexpected CartesianProduct in: ${cartesianOffenders -- allowed}")
  }

  test("physical window audit sees through AQE query stages") {
    // guards the auditor itself: a collect that stops at
    // ResultQueryStageExec finds nothing and the sweep would silently
    // rely on the logical check alone. Must be df.collect(), NOT
    // df.count(): count() executes a SEPARATE QueryExecution, leaving
    // df.queryExecution un-executed — its adaptive plan then has no
    // query-stage wrappers and even a stage-blind walker would pass.
    val df = SparkEntry.queries("diff_positional")(spark, sfDir)
    df.collect()
    assert(physicalBareWindows(df.queryExecution).nonEmpty,
      "auditor failed to see the contract site's WindowExec through AQE")
  }

  test("partition-less Window appears ONLY at the allowed contract sites") {
    // pipeline_length_histogram joined in r8: its running-share window
    // runs over the ≤ maxlen/16-row BUCKET frame (bounded by the
    // length-bucket domain, never by corpus rows — the text_zipf class)
    val allowed = Set("diff_positional", "text_zipf", "pipeline_length_histogram")
    assert(bareWindowOffenders == allowed,
      s"unexpected partition-less Window sites: ${bareWindowOffenders -- allowed}; " +
        s"missing contract sites: ${allowed -- bareWindowOffenders}")
  }

  test("no net cached RDDs after evaluating every query") {
    bareWindowOffenders // force the evaluation pass
    val sc = spark.sparkContext
    // localCheckpoint blocks are released asynchronously by the
    // ContextCleaner once the plans are unreachable — poll GC for that;
    // a CacheManager-pinned persist() leak survives any number of GCs
    // and fails the assert below.
    var tries = 0
    while (sc.getPersistentRDDs.nonEmpty && tries < 60) {
      System.gc()
      Thread.sleep(250)
      tries += 1
    }
    assert(sc.getPersistentRDDs.isEmpty,
      s"leaked cached RDDs after full query sweep: " +
        sc.getPersistentRDDs.values.map(_.toString).mkString("; "))
  }

  /** Paths (relative to src/main/scala) of the main sources containing `needle`. */
  private def sourcesContaining(needle: String): Set[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val hits = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => java.nio.file.Files.readString(f).contains(needle))
      .map(f => root.relativize(f).toString.replace('\\', '/')).toSet
    finally files.close()
    assert(hits.nonEmpty, s"scan found no '$needle' at all under ${root.toAbsolutePath}")
    hits
  }

  test("SparkSession.builder() is called only by Session.build and the sync CLI") {
    // every harness and tool shares Session.build; SyncPipeline.main keeps
    // its own builder because its SPARK_MASTER is a deployment setting
    val allowed = Set("graft/Session.scala", "graft/sync/SyncPipeline.scala")
    val hits = sourcesContaining("SparkSession.builder()")
    assert(hits.subsetOf(allowed), s"SparkSession.builder() outside Session.build: ${hits -- allowed}")
  }

  test("no sync verb file infers a parquet schema with spark.read.parquet") {
    // schema inference is a Spark job per read; the verbs' parquet
    // connectors read the schema from one footer (Tables.parquet)
    val hits = sourcesContaining("read.parquet(").filter(_.startsWith("graft/sync/"))
    assert(hits.isEmpty, s"read.parquet( in the sync engine: $hits")
  }

  test("derived-data locations are decided only in Warehouse") {
    // where a derived dataset or scratch dir lives is Warehouse.dir /
    // Warehouse.scratch's decision; a second reader of either setting
    // is a second naming scheme
    Seq("spark.sql.warehouse.dir", "java.io.tmpdir").foreach { setting =>
      val hits = sourcesContaining(setting)
      assert(hits === Set("graft/Warehouse.scala"), s"$setting read outside Warehouse: $hits")
    }
  }
}
