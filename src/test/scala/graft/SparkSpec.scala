package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (sf0.001 data). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // GRAFT_TEST_SF overrides the fixture scale — used to re-run the plan
  // audits at sf0.1, where size-driven strategy flips (broadcast → SMJ)
  // can produce shapes the sf0.001 default never exhibits
  val sfDir = sys.env.getOrElse("GRAFT_TEST_SF", "/root/testdata/sf0.001")

  lazy val spark: SparkSession = SparkSpec.session

  /** Reference implementation of the md5 split law
    * (TrainingPrep.splitCol) for independent recomputation in specs —
    * ONE definition (it had been copy-pasted into two suites; a law
    * change with a missed copy would silently test against the stale
    * law). */
  def refSplit(id: Long): String = refSplitKey(id.toString)

  /** Same law over an arbitrary string key (the group-grain split). */
  def refSplitKey(key: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (h.head < 'c') "train" else if (h.head < 'e') "val" else "test"
  }

  /** Cast every column to string — the Sheets/BQ all-string comparison
    * domain the sync connector tests operate in (one definition; it was
    * copy-pasted into three suites). */
  def allString(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(df.columns.map(c =>
      org.apache.spark.sql.functions.col(c).cast("string").as(c)).toIndexedSeq: _*)

  /** The stage names (call sites) of each job `body` starts. */
  def jobs(body: => Unit): Seq[Seq[String]] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(e.stageInfos.map(_.name)); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftBus.drain(sc, 30000)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.GraftBus.drain(sc, 30000) } finally sc.removeSparkListener(listener)
    seen.toArray(Array.empty[Seq[String]]).toSeq
  }

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
