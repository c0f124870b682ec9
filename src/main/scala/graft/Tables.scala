package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet source layer.
  *
  * The reference (syncquill.py:38-52, 60-76) scans two external sources —
  * a Google Sheet (all-string, header row = schema) and a BigQuery table —
  * and materializes both fully in driver memory. Here every source is a
  * distributed, columnar, lazily-read parquet `DataFrame`; Catalyst pushes
  * projections and predicates into the scan (`PushedFilters` / `ReadSchema`
  * in `.explain`), so nothing is materialized before the sink.
  *
  * Tables are the driver-generated TPC-H-ish set described in TESTDATA.md.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schemas are immutable per file path for the life of the
    * process; without this, EVERY query construction re-runs schema
    * inference inside the timed region — ~2 reads per key × 300 keys per
    * bench sweep. The fill is one driver-side footer read ([[parquet]]),
    * no Spark job. This memoizes METADATA only (the StructType), never
    * rows: every run still computes results from the parquet files. Keyed
    * by full path so different SF dirs never collide. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Lazy distributed scan of one table under the given scale-factor dir. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => parquet(spark, p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `spark.read.parquet(path)` without its schema-inference job: with
    * `mergeSchema` off, Spark's inference reads one footer (the first data
    * file by path) in a one-task job; this reads that same footer on the
    * driver and hands the schema to the reader. A path that is absent, a
    * directory with no data file, or one with subdirectories (partition
    * columns live in directory names, not in a footer) goes through
    * `spark.read.parquet` itself, errors included. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The footer schema of `path`'s one schema-bearing file, as Spark's
    * inference reads it: Spark's own row metadata when a Spark writer
    * left it, else the converted parquet schema. None when [[parquet]]
    * must fall back. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(name: String) =
      name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")
    val file =
      if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean || !fs.exists(p)) None
      else fs.getFileStatus(p) match {
        case st if st.isFile => Some(st)
        case _ =>
          val kids = fs.listStatus(p).toSeq
          // summary files would be read first by Spark: leave them to it
          if (kids.exists(k => k.isDirectory || k.getPath.getName.startsWith("_metadata") ||
              k.getPath.getName.startsWith("_common_metadata"))) None
          else kids.filterNot(k => hidden(k.getPath.getName)).sortBy(_.getPath.getName).headOption
      }
    file.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf).withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .build())
      try {
        val meta = reader.getFooter.getFileMetaData
        Option(meta.getKeyValueMetaData.get(SparkRowMetadata))
          .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
          .collect { case s: StructType => s }
          .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))
      } finally reader.close()
    }
  }

  /** The footer key under which Spark's parquet writer stores the schema. */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped in two physical forms across driver testdata
    * generations: parquet `timestamp[ns]` (which Spark 4's vectorized
    * reader rejects, [PARQUET_TYPE_ILLEGAL] — read the physical INT64
    * nanos via the legacy long mapping and rebuild µs; integer `div`, not
    * `/`, because ns-since-epoch overflows double precision) and plain
    * `timestamp[us]` (isAdjustedToUTC=false → TIMESTAMP_NTZ). Both
    * normalize to the SAME µs TimestampType column every downstream
    * consumer and the DuckDB oracle (which reads either file natively as
    * a naive TIMESTAMP) already agree on. The NTZ→LTZ cast is
    * value-preserving because every session builder pins
    * `spark.sql.session.timeZone=UTC`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
