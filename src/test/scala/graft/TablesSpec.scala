package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** `Tables.parquet` reads the schema from the footer Spark's own
  * inference would read, on the driver: the schema must equal
  * `spark.read.parquet`'s for every shape of path a caller hands it, and
  * a path Spark cannot read must fail the same way. */
class TablesSpec extends SparkSpec {

  private def sameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema === spark.read.parquet(path).schema, path)

  test("the footer schema equals spark.read.parquet's for every sf0.001 table") {
    Tables.names.foreach(t => sameSchema(s"$sfDir/$t.parquet"))
  }

  test("a Spark-written directory and one of its files read the same schema, with no job") {
    val dir = Files.createTempDirectory("graft_tables").resolve("typed").toString
    spark.range(50).select(col("id").as("slno"), (col("id") % 7).cast("int").as("qty"),
        (col("id") / 4).cast("decimal(12,2)").as("price"),
        date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("day"),
        when(col("id") % 5 =!= 0, col("id").cast("string")).as("name"),
        array(col("id"), col("id") + 1).as("ids"))
      .repartition(3).write.parquet(dir)
    val names = new File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    sameSchema(dir)
    val file = names.filter(_.endsWith(".parquet")).min
    sameSchema(s"$dir/$file")
    assert(jobs(Tables.parquet(spark, dir).schema) === Nil)
  }

  test("an absent path throws what spark.read.parquet throws") {
    val absent = Files.createTempDirectory("graft_tables").resolve("absent").toString
    val want = intercept[Exception](spark.read.parquet(absent))
    val got = intercept[Exception](Tables.parquet(spark, absent))
    assert(got.getClass === want.getClass)
    assert(got.getMessage === want.getMessage)
  }
}
