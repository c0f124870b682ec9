package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds a key-shifted ×factor replica of an SF dir so DECLARED bench
  * queries can be timed at a DATA-BOUND scale (r13 verdict: at sf0.1 the
  * whole suite is driver/AQE-orchestration-bound — the 8-core total even
  * beat the 32-core one — so parallel-scaling claims rested on plan shape
  * alone). The probe itself then reuses graft.Bench unchanged:
  *
  *   runMain graft.tools.ScaleProbe /root/testdata/sf0.1 /tmp/sfprobe 30
  *   SPARK_GRAFT_SF_DIR=/tmp/sfprobe SPARK_GRAFT_CPUS=8  SPARK_GRAFT_ONLY=... runMain graft.Bench
  *   SPARK_GRAFT_SF_DIR=/tmp/sfprobe SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY=... runMain graft.Bench
  *
  * Replicated fact tables get COLLISION-FREE key shifts (orderkey lanes of
  * 10M, doc_id lanes of 30M — a multiple of 3 so `doc_id % 3` is
  * replica-invariant) so join fan-outs and duplicate-group sizes match a
  * genuinely larger corpus instead of degenerating into ×factor²
  * duplicate blowup. Dimension tables copy
  * through byte-identical. Not part of the driver contract. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleProbe <srcSfDir> <outDir> <factor>")
    val Array(src, out, f) = args.take(3)
    val factor = f.toInt
    val spark = graft.Session.build(cpusDefault = "32")
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    def rep(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = graft.Tables.load(spark, src, name)
      (0 until factor).map(i => shift(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleprobe] wrote $out/$name.parquet x$factor")
    }
    rep("lineitem")((d, i) => d.withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L)))
    rep("orders")((d, i) => d.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000000L)))
    rep("documents")((d, i) => d.withColumn("doc_id", col("doc_id") + lit(i * 30000000L)))
    val replicated = Set("lineitem", "orders", "documents")
    graft.Tables.names.filterNot(replicated).foreach { t =>
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$out/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      println(s"[scaleprobe] copied $t.parquet")
    }
    spark.stop()
  }
}
