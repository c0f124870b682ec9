package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source-scan and ingest-validation operators.
  *
  * Reference behaviors re-expressed Spark-first:
  *  - syncquill.py:38-52 (`bigquery_data`): `SELECT *` + full driver
  *    materialization → here a lazy columnar parquet scan with projection
  *    pushed down (R3/R4).
  *  - syncquill.py:60-76 (`google_sheets_data`): all-string sheet snapshot,
  *    header row = schema → header CSV read with an explicit all-string
  *    schema (R1).
  *  - syncquill.py:54-58, 67-74: fail-fast validation — reject rows with a
  *    missing key or any empty cell, reporting the first offending column
  *    (R2). The reference exits on the FIRST bad row; a distributed engine
  *    returns the full set of violations instead (strictly more useful,
  *    same accept/reject decision).
  */
object Scans {

  /** R3/R4: projection over a columnar scan. Column pruning reaches the
    * parquet reader (see ReadSchema in explain). */
  def scanParquet(lineitem: DataFrame): DataFrame =
    lineitem
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every output column for a total order (SURVEY §7)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")

  /** R1: sheet-snapshot ingest. Round-trips `nation` through a header CSV
    * (the stand-in for the Sheets API snapshot) and reads it back with an
    * explicit all-`StringType` schema — the reference's "every cell is a
    * string" domain (syncquill.py:110-111). Deterministic output order via
    * the numeric key. `tag` keys the staging dir (pass the sf dir). */
  def scanCsvAllString(spark: SparkSession, nation: DataFrame, tag: String = ""): DataFrame = {
    val dir = graft.Warehouse.scratch("csv_nation", tag)
    val asString = nation.select(nation.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
    asString.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(nation.columns.map(c => StructField(c, StringType)))
    spark.read.option("header", "true").schema(schema).csv(dir)
      .orderBy(col("n_nationkey").cast("int"))
  }

  /** JSON-lines source: round-trips `nation` through JSONL and reads it
    * back with the ORIGINAL explicit schema (never inferSchema in
    * production — a schema drift should fail loudly, not silently retype
    * a column). Values must survive the round trip exactly — the oracle
    * reads the parquet table directly. */
  def scanJsonl(spark: SparkSession, nation: DataFrame, tag: String = ""): DataFrame = {
    val dir = graft.Warehouse.scratch("jsonl_nation", tag)
    nation.coalesce(1).write.mode("overwrite").json(dir)
    spark.read.schema(nation.schema).json(dir)
      .orderBy("n_nationkey")
  }

  /** Line-oriented text scan — the raw-crawl ingestion shape (WET/plain
    * dumps arrive as one record per line, not as columnar files; Common
    * Crawl tooling and every "read the corpus off the wire" job starts
    * here). Round-trips `documents` through `id<TAB>text` lines written
    * with the text writer and re-parses with a FIRST-tab split (text may
    * legally contain further tabs — only the leading field is
    * structural). `spark.read.text` is a real distributed source: files
    * split at newlines into per-128MB partitions, the parse is a
    * codegen'd per-row projection, and nothing shuffles until a consumer
    * asks — the correct 100 TB ingestion front door for raw text. The
    * corpus fixture is tab/newline-free (verified), so the round trip is
    * exact and the oracle just reads the parquet side. */
  def scanTextLines(spark: SparkSession, documents: DataFrame, tag: String = ""): DataFrame = {
    val dir = graft.Warehouse.scratch("text_documents", tag)
    documents
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .coalesce(1).write.mode("overwrite").text(dir)
    val tab = "\t"
    spark.read.text(dir)
      .select(
        substring_index(col("value"), tab, 1).cast("long").as("doc_id"),
        expr(s"substring(value, instr(value, '$tab') + 1)").as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
  }

  /** ORC round-trip scan: nation written as ORC (the other major
    * columnar at-rest format — ORC readers/writers ship in Spark's core
    * distribution) and read back. Content must be IDENTICAL to the
    * parquet original — the oracle reads the parquet side, so the
    * round-trip through ORC's encoder/decoder is what's actually
    * checked. Same format-plurality story a 100 TB lake needs when
    * upstream teams standardize on different columnar formats. */
  def scanOrc(spark: SparkSession, nation: DataFrame, tag: String = ""): DataFrame = {
    val dir = graft.Warehouse.scratch("orc_nation", tag)
    // unconditional overwrite, like every sibling scan fixture: an
    // exists() guard would silently reuse a partial dir from a crashed
    // write or stale rows from regenerated testdata
    nation.write.mode("overwrite").orc(dir)
    spark.read.orc(dir).orderBy("n_nationkey")
  }

  /** Schema-evolution scan: two parquet generations of `nation` — v1
    * without `n_regionkey` (even keys), v2 with it (odd keys) — read as
    * ONE table via `mergeSchema`; columns missing in a generation come
    * back null. The at-rest complement of `set_union_byname` (which
    * handles evolution between in-memory frames): a 100 TB table ingested
    * over years ALWAYS spans schema versions, and the reader must
    * reconcile footers rather than force a rewrite of old data. */
  def scanSchemaMerge(spark: SparkSession, nation: DataFrame, tag: String = ""): DataFrame = {
    val dir = graft.Warehouse.scratch("schema_merge_nation", tag)
    val v1 = new java.io.File(dir, "gen=1").toString
    val v2 = new java.io.File(dir, "gen=2").toString
    nation.filter(col("n_nationkey") % 2 === 0)
      .select("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(v1)
    nation.filter(col("n_nationkey") % 2 === 1)
      .select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(v2)
    spark.read.option("mergeSchema", "true").parquet(v1, v2)
      .orderBy("n_nationkey")
  }

  /** Malformed-input robustness: a CSV ingest where some lines are
    * garbage — numeric junk, short rows, surplus columns. PERMISSIVE mode
    * + `columnNameOfCorruptRecord` keeps every line (good rows parse,
    * bad rows land intact in the corrupt column for a quarantine sink)
    * instead of failing the 100 TB job on line one (FAILFAST) or
    * silently discarding data (DROPMALFORMED). Emits a triage summary;
    * exact per-class counts are pinned in CoreOpsSpec (oracle-exempt:
    * DuckDB's CSV error taxonomy differs by design). Parsed frame is
    * persisted before touching the corrupt column — Spark disallows
    * filtering on it straight off the scan. */
  def scanCsvMalformed(spark: SparkSession, nation: DataFrame, tag: String = ""): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val dir = graft.Warehouse.scratch("csv_malformed", tag)
    val good = nation.select(concat_ws(",",
      col("n_nationkey"), col("n_name"), col("n_regionkey")).as("line"))
    val bad = spark.createDataFrame(Seq(
      Tuple1("not_a_number,BADROW,9"),
      Tuple1("42,TOOFEW"),
      Tuple1("7,EXTRA,1,surplus,cols"))).toDF("line")
    good.unionByName(bad).coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("slno", LongType), StructField("name", StringType),
      StructField("rkey", LongType), StructField("_corrupt_record", StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .persist()
    // summarize eagerly, then release the cache — a lazily-returned plan
    // over the persisted frame would leak the cache entry for the
    // session (Verify runs every query in one session), and the triage
    // result is three rows
    try {
      val rows = parsed
        .select(
          when(col("_corrupt_record").isNotNull, lit("corrupt"))
            .when(col("slno").isNull || col("name").isNull || col("rkey").isNull, lit("null_padded"))
            .otherwise(lit("good")).as("class"))
        .groupBy("class").agg(count(lit(1)).as("n"))
        .orderBy("class")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      spark.createDataFrame(rows).toDF("class", "n")
    } finally { parsed.unpersist(); () }
  }

  /** PERMISSIVE JSONL ingest triage (r8) — the JSON twin of
    * [[scanCsvMalformed]]: unparseable lines and type-mismatched
    * fields land in `_corrupt_record`, parseable-but-incomplete
    * objects survive as null-padded rows, and the triage classifies
    * all three — the decision frame for a quarantine path. The bad
    * lines are the three real-world classes: truncated JSON, a
    * type-mismatched field, a missing field (which is NOT corrupt —
    * schema-on-read fills null; conflating the two is how good rows
    * end up quarantined). Same persist-then-release discipline as the
    * CSV scan (Spark disallows filtering on the corrupt column
    * straight off the scan). */
  def scanJsonlMalformed(spark: SparkSession, nation: DataFrame, tag: String = ""): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val dir = graft.Warehouse.scratch("jsonl_malformed", tag)
    val good = nation.select(concat(
      lit("""{"slno": """), col("n_nationkey"),
      lit(""", "name": """"), col("n_name"),
      lit("""", "rkey": """), col("n_regionkey"), lit("}")).as("line"))
    val bad = spark.createDataFrame(Seq(
      Tuple1("""{"slno": 1, "name": "TRUNCATED"""),
      Tuple1("""{"slno": "not_a_number", "name": "BADTYPE", "rkey": 2}"""),
      Tuple1("""{"slno": 5, "name": "MISSING_RKEY"}"""))).toDF("line")
    good.unionByName(bad).coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("slno", LongType), StructField("name", StringType),
      StructField("rkey", LongType), StructField("_corrupt_record", StringType)))
    val parsed = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .persist()
    try {
      val rows = parsed
        .select(
          when(col("_corrupt_record").isNotNull, lit("corrupt"))
            .when(col("slno").isNull || col("name").isNull || col("rkey").isNull, lit("null_padded"))
            .otherwise(lit("good")).as("class"))
        .groupBy("class").agg(count(lit(1)).as("n"))
        .orderBy("class")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      spark.createDataFrame(rows).toDF("class", "n")
    } finally { parsed.unpersist(); () }
  }

  /** R2: fail-fast validation over a deterministically dirtied snapshot of
    * `customer` (the clean test tables have no violations, so we inject
    * them with key-derived CASEs — same derivation in the oracle SQL).
    * Emits offending rows plus the first bad column, like
    * `get_empty_cell_name` (syncquill.py:54-58). */
  def validateReject(customer: DataFrame): DataFrame = {
    val dirty = customer.select(
      when(col("c_custkey") % 101 === 7, lit(null)).otherwise(col("c_custkey")).as("slno"),
      when(col("c_custkey") % 97 === 3, lit("")).otherwise(col("c_name")).as("name"),
      col("c_mktsegment").as("segment"))
    dirty
      .filter(col("slno").isNull || col("name") === "" || col("segment") === "")
      .withColumn("bad_col",
        when(col("slno").isNull, lit("slno"))
          .when(col("name") === "", lit("name"))
          .otherwise(lit("segment")))
      .orderBy(coalesce(col("slno"), lit(-1L)), col("name"))
  }

  /** R6: canonicalize every column to string before snapshot comparison
    * (syncquill.py:112-113 stringifies both sides). */
  def projectCastString(nation: DataFrame): DataFrame =
    nation
      .select(nation.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
      .orderBy(col("n_nationkey").cast("int"))

  /** Core predicate surface: conjunction/disjunction, BETWEEN, IN, LIKE,
    * NULL tests — all pushed down to the parquet scan where possible. */
  def filterPred(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(
        col("l_shipdate").between(lit("1996-01-01").cast("timestamp"), lit("1998-12-31").cast("timestamp")) &&
        col("l_returnflag").isin("A", "R") &&
        col("l_quantity").between(5.0, 24.0) &&
        (col("l_linestatus") === "F" || col("l_tax") < 0.05) &&
        col("l_orderkey").isNotNull)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus", "l_shipdate")
}
