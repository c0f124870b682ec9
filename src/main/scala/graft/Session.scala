package graft
import org.apache.spark.sql.SparkSession

/** The one session builder of every harness and tool (Bench, Verify,
  * PlanCensus, ScaleProbe, the perfbench harness): identical
  * settings everywhere (master `local[$SPARK_GRAFT_CPUS]`,
  * shuffle partitions = cpus, UTC, no UI, suite-sized codegen cache), so
  * a number measured in one harness is comparable in the others and a
  * settings fix cannot drift between copy-pasted builders (r13 advice).
  */
object Session {

  /** `spark.sql.codegen.cache.maxEntries`. Why 5000 and not Spark's
    * 100: a 300-query suite with iterative operators generates far more
    * than 100 whole-stage-codegen classes, so at the default every re-run
    * of every query recompiles its generated code — measured 2.2x on a
    * 12-key subset (44.9→20.0 s) from this alone. The cache holds
    * COMPILED CLASSES keyed by generated source, never data or results;
    * the same setting serves any long-lived production driver re-running
    * a query mix. */
  private val CodegenCacheEntries = 5000

  /** Core count the driver contract pins: `local[$SPARK_GRAFT_CPUS]`.
    * Each entrypoint keeps its historical fallback for local use. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def build(cpusDefault: String): SparkSession = {
    val c = cpus(cpusDefault)
    SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
  }
}
