package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Raw record of every job and stage a traced pass runs. Each job carries
  * the op and span the harness set as local properties when the job was
  * submitted, and Spark's own call site (`count at SyncPipeline.scala:29`),
  * so jobs inside one verb call can be attributed to the module that ran
  * them without any change to the program. Aggregation into layers happens
  * offline, from the trace file (perfbench/layers.py). */
final class Ledger extends SparkListener {
  private final case class Job(id: Int, op: String, span: String, site: String,
                               start: Long, stageIds: Seq[Int]) { var end = 0L }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.ArrayBuffer[String]()
  private val sqlSites = mutable.HashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    // AQE submits a query's stages as jobs from its own threads, so the
    // call site is the one of the SQL execution the job belongs to; other
    // jobs name it in their result stage (the newest one)
    val site = prop("spark.sql.execution.id").toLongOption.flatMap(sqlSites.get)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs(e.jobId) = Job(e.jobId, prop(Main.OpProp), prop(Main.SpanProp), site, e.time, e.stageIds)
    // a stage reused by a later job is skipped there; it ran for the first
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      sqlSites(x.executionId) = x.rootExecutionId.flatMap(sqlSites.get).getOrElse(x.description)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages += Json.obj(
      "id" -> si.stageId, "attempt" -> si.attemptNumber(), "job" -> stageJob.getOrElse(si.stageId, -1),
      "start" -> si.submissionTime.getOrElse(0L), "end" -> si.completionTime.getOrElse(0L),
      "tasks" -> si.numTasks, "shuffle_map" -> org.apache.spark.SparkBridge.isShuffleMap(si),
      "failed" -> si.failureReason.isDefined,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "spill" -> m.diskBytesSpilled,
      "input_bytes" -> m.inputMetrics.bytesRead, "input_rows" -> m.inputMetrics.recordsRead,
      "output_bytes" -> m.outputMetrics.bytesWritten)
  }

  def toJson: String = synchronized {
    val js = jobs.values.map(j => Json.obj("id" -> j.id, "op" -> j.op, "span" -> j.span,
      "site" -> j.site, "start" -> j.start, "end" -> j.end, "stages" -> j.stageIds))
    Json.obj("jobs" -> Json.Raw(js.mkString("[", ",", "]")),
      "stages" -> Json.Raw(stages.mkString("[", ",", "]")))
  }
}

/** Minimal JSON writer for the harness's result and trace files. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: (String, Any)*): String = kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
