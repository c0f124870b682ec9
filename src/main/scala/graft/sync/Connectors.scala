package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Connector seam for the sync verbs: the reference speaks Google Sheets
  * API v4 on the read side (syncquill.py:60-76, `values().get` → header
  * row + all-string cells) and BigQuery on the write side
  * (syncquill.py:78-107 DML; syncquill.py:131-146 WRITE_TRUNCATE load).
  * The engine's harness stand-in is parquet on both sides — these traits
  * make that a constructor choice instead of a hardcoded
  * `spark.read.parquet`, so a Sheets/BQ (or JDBC, Delta, Iceberg…)
  * connector plugs in without touching the pipeline logic.
  *
  * Contract notes for future connectors:
  *  - [[SyncSource.read]] returns the FULL source snapshot as a
  *    DataFrame; a Sheets impl would fetch the value range, take row 1
  *    as the schema (all-string, like the reference at syncquill.py:64),
  *    and parallelize the rest.
  *  - [[SyncTarget.merge]] receives the NEW snapshot — the source cast
  *    to the target's types, which is the old table with the changeset
  *    applied, read back from the diff's own key-partitioned shuffle of
  *    the source — plus the changeset by name. A snapshot store keeps the
  *    default, which publishes the new snapshot with its one
  *    [[SyncTarget.truncateLoad]]; a BQ impl would instead translate the
  *    changeset to batched DML or a MERGE statement, as [[JdbcTarget]]
  *    does.
  *  - [[SyncTarget.truncateLoad]] of a snapshot store is its one write
  *    path, shared by `sync`'s publish and `upsert`'s load: one write job
  *    (a task per partition of the snapshot) staged to `path + ".next"`,
  *    then promoted by rename ([[graft.Warehouse.promote]]), so a failed
  *    write leaves the old table in place.
  */
trait SyncSource {
  def read(spark: SparkSession): DataFrame
}

trait SyncTarget {
  /** Current target table contents (diff baseline). */
  def read(spark: SparkSession): DataFrame

  /** Publish `merged` (the new snapshot, in this target's schema) over
    * the target. `changes` is the keyed changeset from the old table to
    * `merged`, passed by name: only a connector that applies deltas (BQ
    * DML, [[JdbcTarget]]) builds it, and materializes it itself. A
    * snapshot store never evaluates it, so its plan is never even
    * analysed, and replaces the table. */
  def merge(spark: SparkSession, merged: DataFrame, changes: => DataFrame, key: String): Unit =
    truncateLoad(merged)

  /** R11 truncate-and-load: replace the whole table with `snapshot`. */
  def truncateLoad(snapshot: DataFrame): Unit
}

/** Parquet snapshot source — the harness stand-in for the Sheets reader.
  * Its schema comes from one driver-side footer read ([[graft.Tables.parquet]]),
  * as the reference's comes from the header row it already fetched
  * (syncquill.py:64): no schema-inference job. */
final case class ParquetSource(path: String) extends SyncSource {
  def read(spark: SparkSession): DataFrame = graft.Tables.parquet(spark, path)
}

/** Parquet snapshot target: read like [[ParquetSource]]; one [[Sinks]]
  * write, staged then promoted. */
final case class ParquetTarget(path: String) extends SyncTarget {
  def read(spark: SparkSession): DataFrame = graft.Tables.parquet(spark, path)

  def truncateLoad(snapshot: DataFrame): Unit =
    graft.Warehouse.promote(snapshot.sparkSession, path)(Sinks.truncateLoad(snapshot, _))
}

/** All-string CSV source — the FAITHFUL analog of the reference's Sheets
  * reader: row 1 is the header/schema and every cell is a string
  * (syncquill.py:61-65; README.md "auto detect schema" happens at the
  * TARGET, not the reader). No inferSchema on purpose: the reference's
  * comparison domain is strings, and type canonicalization is an engine
  * operator (`project_cast_string`), not a reader side effect. */
final case class CsvSource(path: String) extends SyncSource {
  def read(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").csv(path)
}

/** Sheets-FAITHFUL source: parses the Google Sheets API v4
  * `spreadsheets.values.get` response shape — `{"range": ..,
  * "majorDimension": "ROWS", "values": [[header...], [cells...]...]}`
  * (syncquill.py:60-65) — from a local JSON fixture into the all-string
  * DataFrame the sync verbs consume. This is the actual WIRE FORMAT the
  * reference reads, not its CSV analog: row 1 of `values` is the
  * schema, every cell is a string, and the API omits TRAILING empty
  * cells, so a data row may be SHORTER than the header.
  *
  * The reference validates inside its reader (syncquill.py:66-74:
  * missing `slno`, short row, or any empty cell → fail fast with the
  * 1-based sheet row number); this source mirrors that contract —
  * short rows surface as null cells and fail the same check. A live
  * connector would swap the `spark.read.json(path)` for the HTTP fetch
  * and change nothing else.
  *
  * Scale note: a Sheets response is bounded (the API caps cells per
  * sheet), so the single-object JSON read and the one-row header
  * collect are schema discovery, not data movement — the same class as
  * CSV header inference. */
final case class SheetsJsonSource(path: String) extends SyncSource {
  def read(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    // one response object per fixture file (the values().get shape)
    val resp = spark.read.option("multiLine", "true").json(path)
    require(resp.columns.contains("values"),
      s"$path is not a Sheets values().get response (no 'values' member)")
    // header row = values[0] (syncquill.py:64): column-name discovery
    val header: Seq[String] =
      resp.select(element_at(col("values"), 1)).head().getSeq[String](0)
    require(header.nonEmpty && header.forall(_.nonEmpty),
      s"$path: header row (values[0]) has empty column names: $header")
    // posexplode keeps the sheet row number for error reporting; `get`
    // is 0-based and null-safe — a short row (trailing cells omitted by
    // the API) yields null cells, never an ANSI index error
    val body = resp.select(posexplode(col("values")).as(Seq("pos", "row")))
      .filter(col("pos") > 0)
      .select(col("pos") +:
        header.zipWithIndex.map { case (c, i) =>
          get(col("row"), lit(i)).cast("string").as(c) }: _*)
    // fail fast like the reference: first offending 1-based sheet row
    // (pos is 0-based over `values`, header included → sheet row = pos+1)
    val firstBad = body
      .filter(header.map(c => col(c).isNull || col(c) === "").reduce(_ || _))
      .agg(min(col("pos") + 1).cast("long")).head()
    require(firstBad.isNullAt(0),
      s"$path: sheet row ${firstBad.getLong(0)} has missing or empty cells " +
        "(every row must fill every header column — syncquill.py:66-74)")
    body.drop("pos")
  }
}

/** JDBC connector pair — the engine's stand-in for the reference's
  * BigQuery side: [[JdbcTarget.merge]] translates the keyed changeset
  * into BATCHED per-op DML (DELETE / per-column UPDATE / INSERT prepared
  * statements, executed from the executors via `foreachPartition`) —
  * the exact apply shape of syncquill's BQ writer (syncquill.py:78-107,
  * one round-trip per changed cell there; batched here), unlike the
  * snapshot targets that publish the merged table wholesale.
  * [[SyncTarget.truncateLoad]] is the WRITE_TRUNCATE load
  * (syncquill.py:131-146).
  *
  * Comparison domain is all-string, like the Sheets/BQ flow: columns are
  * written as VARCHAR (Derby's default StringType mapping is CLOB, which
  * cannot sit in a WHERE clause). Tested against in-process Derby —
  * zero network, same DML surface; a BQ/postgres URL changes only the
  * connection string. DML runs through one transaction wrapper and one
  * bind-and-batch loop ([[Connectors.transaction]],
  * [[Connectors.batched]]): by default each pass is its own
  * transaction, so the whole changeset is not atomic — matching the
  * reference, whose per-cell DML has no cross-statement transaction
  * either. Identifiers (table/column names) come from the engine's own
  * schema, never from data; values always bind through `?` parameters. */
final case class JdbcSource(url: String, table: String,
                            driver: String = Connectors.DerbyDriver) extends SyncSource {
  def read(spark: SparkSession): DataFrame =
    Connectors.readJdbc(spark, url, table, driver)
}

final case class JdbcTarget(url: String, table: String,
                            driver: String = Connectors.DerbyDriver) extends SyncTarget {
  import org.apache.spark.sql.functions._

  def read(spark: SparkSession): DataFrame =
    Connectors.readJdbc(spark, url, table, driver)

  /** Run each pass's `sql` once per row as its own transaction. The
    * pass COALESCES TO ONE PARTITION first: DML is the delta path
    * (changeset-sized, not corpus-sized), and concurrent row-locking
    * transactions deadlock embedded Derby; a server-grade target that
    * tolerates concurrent writers can raise the parallelism by dropping
    * the coalesce. */
  private def execPerPass(passes: Seq[(String, DataFrame)]): Unit = {
    val (u, d) = (url, driver) // avoid serializing the case class closure
    passes.foreach { case (sql, rowsDf) =>
      rowsDf.coalesce(1).foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) Connectors.transaction(u, d)(Connectors.batched(_, sql, rows))
      }
    }
  }

  /** The changeset is `localCheckpoint`ed here, before the first DML
    * pass: the passes are separate actions, and a lazy changeset would be
    * re-derived against the table this method is actively mutating. This
    * is the only target that replays the changeset, so it owns that
    * materialization; the sync verb persists nothing.
    *
    * TRANSACTIONAL CONTRACT (r8, crash-mid-merge laws in PipelineSpec):
    *  - `atomic = false` (default) is the HALF-APPLY-FAITHFUL mode,
    *    matching the reference's per-statement error model
    *    (syncquill.py:86-107 prints and continues — no cross-statement
    *    transaction exists): each pass (deletes, one per updated
    *    column, inserts) commits as its own transaction, so a failure
    *    leaves every EARLIER pass applied, rolls back only the failing
    *    pass's uncommitted batch, skips later passes, and rethrows.
    *    Re-running after the fix is safe: the diff against the
    *    half-applied table yields exactly the remaining ops.
    *  - `atomic = true` wraps the whole changeset in ONE driver-side
    *    transaction ([[execAtomic]]): on any failure the target is
    *    byte-identical to its pre-merge state. Use when the target
    *    grades consistency over the reference's resume-from-half model.
    */
  override def merge(spark: SparkSession, merged: DataFrame, changes: => DataFrame,
                     key: String): Unit =
    merge(spark, merged, changes, key, atomic = false)

  def merge(spark: SparkSession, merged: DataFrame, changes: DataFrame, key: String,
            atomic: Boolean): Unit = {
    val delta = changes.localCheckpoint()
    val valueCols = merged.columns.filterNot(_ == key).toSeq
    // ONE small aggregate over the materialized changeset decides which
    // DML passes run and which columns updates touch. The changeset is
    // CELL-level for updates: one prepared statement per touched column
    // (statement text varies by column; values bind as ?). Column names
    // come from changeset DATA, so they are validated against the target
    // schema before touching SQL text — a changeset not produced by
    // diffKeyed must not be able to inject identifiers. Skipping absent
    // op classes matters beyond tidiness: each pass is a Spark job whose
    // plan scans the TARGET TABLE (stored-key join below).
    val opCols = delta.groupBy(col("op"), col("col")).count()
      .collect().map(r => (r.getString(0), r.getString(1)))
    val touched = opCols.collect { case ("update", c) => c }.distinct.sorted
    val unknown = touched.filterNot(valueCols.contains)
    require(unknown.isEmpty,
      s"changeset names columns absent from the target schema: ${unknown.mkString(", ")}")
    // The changeset's `slno` is the key CANONICALIZED TO LONG
    // (SnapshotDiff.diffKeyed casts both sides); the target stores the
    // ORIGINAL string form. Binding slno.toString against the stored
    // column would silently miss rows whose key text is non-canonical
    // ('007', ' 7') — the same trap applyChangeset avoids by casting the
    // table-side key. Recover each affected row's STORED key text by
    // joining the changeset back to the target's key column under the
    // same cast, and bind that. MATERIALIZED (localCheckpoint) before the
    // first DML statement: lazily wired, whether the scan of the very
    // table the batches mutate stays open across executeBatch calls is a
    // JOIN-PLAN accident (a shuffle or broadcast build closes the cursor
    // first; a pipelined probe side does not, and an open read cursor
    // interleaved with its own transaction's write locks is a Derby
    // 40XL1 lock-wait abort waiting for lock escalation). Materializing
    // makes the ordering safe by construction, and pins ONE target scan
    // for all passes instead of one per touched column. (Key column only
    // — not the full rows; lazy val so an insert-only changeset never
    // scans at all.)
    lazy val storedKeys = read(spark).select(col(key).as("__stored"))
      .withColumn("__k", col("__stored").cast("long"))
      .localCheckpoint()
    def withStoredKey(ops: DataFrame, valueCol: Option[String]): DataFrame =
      ops.join(storedKeys, col("slno") === col("__k"))
        .select(valueCol.map(col).toSeq :+ col("__stored"): _*)
    // deletes first (frees keys), inserts last — a key never appears in
    // two op classes, so only re-inserted keys care about the order
    // identifiers are double-quoted: the Spark JDBC writer creates
    // quoted (case-sensitive, lowercase) columns, while unquoted names
    // would be uppercased by the SQL parser and not match
    def q(id: String) = "\"" + id + "\""
    val passes = Seq.newBuilder[(String, DataFrame)]
    if (opCols.exists(_._1 == "delete"))
      passes += s"DELETE FROM $table WHERE ${q(key)} = ?" ->
        withStoredKey(delta.filter(col("op") === "delete"), None)
    touched.foreach { c =>
      passes += s"UPDATE $table SET ${q(c)} = ? WHERE ${q(key)} = ?" ->
        withStoredKey(
          delta.filter(col("op") === "update" && col("col") === c), Some("new_val"))
    }
    // inserts carry the whole-row image; decode it Spark-side
    if (opCols.exists(_._1 == "insert"))
      passes += s"INSERT INTO $table (${(key +: valueCols).map(q).mkString(", ")}) VALUES (${Seq.fill(valueCols.size + 1)("?").mkString(", ")})" ->
        SnapshotDiff.imageRows(delta, "insert", key, valueCols)
    if (atomic) execAtomic(passes.result()) else execPerPass(passes.result())
  }

  /** ALL-OR-NOTHING apply: every pass's rows are collected FIRST (the
    * changeset is the delta path — bounded by contract, never the
    * corpus; and pulling every Spark read BEFORE the first DML statement
    * removes the read-cursor-vs-write-lock interleaving by construction,
    * the same ordering the storedKeys checkpoint buys the per-pass
    * mode), then executed on ONE driver-side connection in ONE
    * transaction: any failure rolls the whole changeset back and
    * rethrows, leaving the target exactly at its pre-merge state
    * (crash-mid-merge law in PipelineSpec). */
  private def execAtomic(passes: Seq[(String, DataFrame)]): Unit = {
    val mat = passes.map { case (sql, df) => (sql, df.collect()) }
    Connectors.transaction(url, driver)(conn =>
      mat.foreach { case (sql, rows) => Connectors.batched(conn, sql, rows.iterator) })
  }

  def truncateLoad(snapshot: DataFrame): Unit = {
    Connectors.derbyVarcharDialect
    snapshot.write.mode("overwrite")
      .format("jdbc").option("url", url).option("dbtable", table)
      .option("driver", driver)
      // Derby maps StringType to CLOB, which can't be compared in WHERE
      // clauses — force VARCHAR at Derby's maximum length (32672) so the
      // DML surface works and long cells don't abort the load
      .option("createTableColumnTypes",
        snapshot.columns.map(c => s"$c VARCHAR(32672)").mkString(", "))
      .save()
  }
}

object Connectors {
  /** Embedded Derby (in /opt/spark/jars via derbytools) — the in-process
    * test database; any JDBC URL/driver substitutes in production. */
  val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** The one JDBC read path (shared by both halves of the connector pair,
    * so a future option — fetchsize, partitioning column, isolation —
    * lands on source and target reads together). */
  private[sync] def readJdbc(spark: SparkSession, url: String, table: String,
                             driver: String): DataFrame = {
    derbyVarcharDialect
    spark.read.format("jdbc").option("url", url)
      .option("dbtable", table).option("driver", driver).load()
  }

  /** Runs `body` on a fresh connection as ONE transaction: commits when
    * it returns; on any throwable rolls the whole transaction back as a
    * unit and rethrows — which also releases its row locks: an embedded
    * connection left holding them stalls the next reader into a
    * lock-wait abort instead of surfacing this error; closes the
    * connection either way. */
  private[sync] def transaction(url: String, driver: String)(body: java.sql.Connection => Unit): Unit = {
    java.lang.Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      try { body(conn); conn.commit() } catch {
        case t: Throwable =>
          try conn.rollback() catch { case _: Throwable => () }
          throw t
      }
    } finally conn.close()
  }

  /** Runs `sql` once per row on `conn`, binding every column of the row
    * (in order) as a string parameter, in batches of 500. */
  private[sync] def batched(conn: java.sql.Connection, sql: String,
                            rows: Iterator[org.apache.spark.sql.Row]): Unit = {
    val st = conn.prepareStatement(sql)
    try {
      var n = 0
      rows.foreach { r =>
        (0 until r.length).foreach { i =>
          st.setString(i + 1, if (r.isNullAt(i)) null else r.get(i).toString)
        }
        st.addBatch()
        n += 1
        if (n % 500 == 0) { st.executeBatch(); () }
      }
      st.executeBatch()
    } finally st.close()
  }

  /** Spark's built-in Derby dialect maps StringType to CLOB, so a NULL
    * string cell is written as setNull(Types.CLOB) — which Derby rejects
    * with 22005 against the VARCHAR columns the DML surface needs.
    * Registering this dialect (ahead of the built-in; first canHandle
    * wins) makes StringType VARCHAR end-to-end. Idempotent via lazy val;
    * every JDBC connector entry point forces it. */
  private[sync] lazy val derbyVarcharDialect: Unit = {
    import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
    JdbcDialects.registerDialect(new JdbcDialect {
      override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
      override def getJDBCType(dt: org.apache.spark.sql.types.DataType): Option[JdbcType] =
        dt match {
          case org.apache.spark.sql.types.StringType =>
            Some(JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
          case _ => None // fall through to the common mappings
        }
    })
  }
}

/** CSV snapshot target (all-string, header row), publishing via the same
  * stage-then-promote as parquet. Demonstrates that source and target
  * kinds compose independently through the seam. */
final case class CsvTarget(path: String) extends SyncTarget {
  def read(spark: SparkSession): DataFrame =
    spark.read.option("header", "true").csv(path)

  def truncateLoad(snapshot: DataFrame): Unit =
    graft.Warehouse.promote(snapshot.sparkSession, path)(
      snapshot.write.mode("overwrite").option("header", "true").csv(_))
}
