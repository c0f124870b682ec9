package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.sync.{IncrementalAgg, SnapshotDiff, Snapshots}
import graft.llm.{Corpus, Dedup, Similarity, TextAnalysis, TrainingPrep}
import graft.multimodal.Multimodal
import graft.streaming.Streams
import graft.functions.Udfs

/** The query registry — the engine's correctness contract.
  *
  * Every implemented operator from SURVEY.md §2C is one [[SparkEntry.Query]]
  * record: its key, its Spark query (DataFrame program) and its oracle
  * decision, written together. The decision is either equivalent ANSI SQL
  * for DuckDB 1.0 over the same parquet tables (`Sql`) or an exemption
  * naming the ScalaTest spec that gates the key instead (`Exempt`). Column
  * names and deterministic total ORDER BYs are aligned on both sides;
  * doubles go through exact decimal accumulation (graft.ops.Det) so hashes
  * are stable across engines and across shuffle orders.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  type Q = (SparkSession, String) => DataFrame

  /** How a key's answer is checked: DuckDB SQL whose result is hash-compared,
    * or, for ops no SQL can reproduce (sketches, ANN, decoders, hash- or
    * float-training-derived), the reason and the `*Spec` that gates it. */
  sealed trait Oracle
  final case class Sql(text: String) extends Oracle
  final case class Exempt(reason: String) extends Oracle

  final case class Query(name: String, run: Q, oracle: Oracle)

  /** Every key's Spark query, by name (the harnesses' view of [[registry]]). */
  lazy val queries: Map[String, Q] = registry.map(q => q.name -> q.run).toMap

  /** Every non-exempt key's DuckDB SQL, by name. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case Query(n, _, Sql(t)) => n -> t }.toMap

  /** The keys named in `only` (comma-separated, blanks trimmed), or every
    * key when `only` is absent. A name that is not a key throws
    * IllegalArgumentException naming every unknown key, so a misspelt
    * subset fails instead of running nothing. */
  def select(only: Option[String]): Map[String, Q] = only.fold(queries) { list =>
    val keys = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = keys.filterNot(queries.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown query keys: ${unknown.toSeq.sorted.mkString(", ")}")
    queries.filter(kv => keys(kv._1))
  }

  /** One record per implemented operator from SURVEY.md §2. Lazy: the
    * oracle helpers it reads are declared below. */
  lazy val registry: Seq[Query] = Seq(
    // --- scans / sources ---
    Query("scan_parquet", (s, d) => Scans.scanParquet(Tables.lineitem(s, d)),
      Sql("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity")),
    Query("scan_csv_allstring", (s, d) => Scans.scanCsvAllString(s, Tables.nation(s, d), d),
      Sql("""SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name, CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY nation.n_nationkey""".stripMargin)),
    Query("scan_jsonl", (s, d) => Scans.scanJsonl(s, Tables.nation(s, d), d),
      Sql("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    // raw-crawl line ingestion: documents round-tripped through
    // id<TAB>text lines, first-tab re-parse
    Query("scan_text_lines", (s, d) => Scans.scanTextLines(s, Tables.documents(s, d), d),
      // content identity through the id<TAB>text line round-trip (oracle
      // reads the parquet side)
      Sql("SELECT doc_id, text, length(text) AS n_chars FROM documents ORDER BY doc_id")),
    Query("scan_orc", (s, d) => Scans.scanOrc(s, Tables.nation(s, d), d),
      // twin of scan_jsonl, kept: the same rows through a different reader
      // content identity through the ORC round-trip (oracle reads parquet)
      Sql("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    Query("validate_reject", (s, d) => Scans.validateReject(Tables.customer(s, d)),
      Sql("""WITH dirty AS (
        | SELECT CASE WHEN c_custkey % 101 = 7 THEN NULL ELSE c_custkey END AS slno,
        |        CASE WHEN c_custkey % 97 = 3 THEN '' ELSE c_name END AS name,
        |        c_mktsegment AS segment
        | FROM customer)
        |SELECT slno, name, segment,
        | CASE WHEN slno IS NULL THEN 'slno' WHEN name = '' THEN 'name' ELSE 'segment' END AS bad_col
        |FROM dirty WHERE slno IS NULL OR name = '' OR segment = ''
        |ORDER BY COALESCE(slno, -1), name""".stripMargin)),
    Query("project_cast_string", (s, d) => Scans.projectCastString(Tables.nation(s, d)),
      // twin of scan_csv_allstring, kept: an in-memory cast against that key's CSV reader round trip
      Sql("""SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name, CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY nation.n_nationkey""".stripMargin)),
    Query("filter_pred", (s, d) => Scans.filterPred(Tables.lineitem(s, d)),
      Sql("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
        | AND l_returnflag IN ('A','R') AND l_quantity BETWEEN 5.0 AND 24.0
        | AND (l_linestatus = 'F' OR l_tax < 0.05) AND l_orderkey IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus, l_shipdate""".stripMargin)),
    // --- joins ---
    Query("join_broadcast", (s, d) => Joins.broadcastDim(Tables.nation(s, d), Tables.region(s, d)),
      Sql("SELECT n_nationkey, n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey")),
    Query("join_sortmerge", (s, d) => Joins.sortMerge(Tables.orders(s, d), Tables.lineitem(s, d)),
      Sql("""SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber, o_totalprice, l_extendedprice""".stripMargin)),
    Query("join_multiway", (s, d) => Joins.multiwayStar(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d), Tables.nation(s, d)),
      Sql("""SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    Query("join_left_semi", (s, d) => Joins.leftSemi(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    Query("join_left_anti", (s, d) => Joins.leftAnti(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= DATE '1998-01-01')
        |ORDER BY c_custkey""".stripMargin)),
    Query("join_outer", (s, d) => Joins.fullOuter(Tables.customer(s, d)),
      Sql("""WITH o AS (SELECT c_custkey AS o_key, c_acctbal AS o_bal FROM customer WHERE c_custkey % 10 <> 3),
        | n AS (SELECT c_custkey AS n_key, c_acctbal AS n_bal FROM customer WHERE c_custkey % 7 <> 2)
        |SELECT COALESCE(o_key, n_key) AS slno,
        | CAST(o_key IS NOT NULL AS BIGINT) AS in_old,
        | CAST(n_key IS NOT NULL AS BIGINT) AS in_new
        |FROM o FULL OUTER JOIN n ON o_key = n_key ORDER BY slno""".stripMargin)),
    Query("join_range_bucketed", (s, d) => Joins.thetaRangeBucketed(Tables.events(s, d)),
      Sql("""WITH s AS (SELECT event_id AS s_id, value AS s_value FROM events
        |  WHERE event_type = 'signup' AND event_id % 20 = 0),
        | p AS (SELECT event_id AS p_id, value AS p_value FROM events WHERE event_type = 'purchase')
        |SELECT s_id, COUNT(*) AS n_near, MIN(p_id) AS first_p
        |FROM s JOIN p ON p_value BETWEEN s_value - 0.5 AND s_value + 0.5
        |GROUP BY s_id ORDER BY s_id""".stripMargin)),
    Query("join_asof", (s, d) => Joins.asOf(Tables.events(s, d), Tables.orders(s, d)),
      Sql("""WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
        |  row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        | FROM e LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, date_trunc('second', ts) AS ts_s, o_orderkey, o_orderdate
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    // nearest-direction as-of (pandas merge_asof direction='nearest')
    Query("join_asof_nearest", (s, d) => Joins.asOfNearest(Tables.events(s, d), Tables.orders(s, d)),
      /* join_asof_nearest: min-|diff| with (date, key) tie-break — the
       * oracle's row_number ordering mirrors the struct-min exactly;
       * exact-µs distance on both sides. */
      Sql("""WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
        |  abs(epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) - epoch_us(e.ts)) AS adiff,
        |  row_number() OVER (PARTITION BY e.event_id
        |    ORDER BY abs(epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) - epoch_us(e.ts)) ASC,
        |      o.o_orderdate ASC, o.o_orderkey ASC) AS rn
        | FROM e LEFT JOIN (SELECT * FROM orders WHERE o_orderdate IS NOT NULL) o
        |   ON o.o_custkey = e.user_id)
        |SELECT event_id, user_id, date_trunc('second', ts) AS ts_s,
        | o_orderkey, o_orderdate, adiff AS diff_us
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    // time-binned interval overlap join (equi-join on (user, bin), 3×
    // one-side replication, exactly-once matching — no theta BNL)
    Query("join_interval_overlap", (s, d) => Joins.intervalOverlap(Tables.events(s, d)),
      /* join_interval_overlap: the oracle is the plain theta join — exact
       * µs arithmetic (epoch_us ≡ unix_micros), strict < on both bounds
       * (half-open windows: touching intervals do NOT overlap). */
      Sql("""WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_s,
        |  epoch_us(ts) + 600000000 AS a_e FROM events WHERE event_type = 'view'),
        |b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_s,
        |  epoch_us(ts) + 600000000 AS b_e FROM events WHERE event_type = 'click')
        |SELECT a.user_id, a_id, b_id,
        | least(a_e, b_e) - greatest(a_s, b_s) AS overlap_us
        |FROM a JOIN b ON a.user_id = b.user_id AND a_s < b_e AND b_s < a_e
        |ORDER BY a_id, b_id""".stripMargin)),
    // 2-D grid-cell blocking for a within-radius geo join: lossless
    // pigeonhole cells, exact integer dist² residual (r9)
    Query("join_spatial_grid", (s, d) => Joins.spatialGrid(Tables.customer(s, d), Tables.supplier(s, d)),
      /* join_spatial_grid: the oracle is the honest quadratic
       * cross-filter over the same synthesized integer coordinates —
       * the grid blocking must be invisible in the answer (lossless
       * pigeonhole; same discipline as diff_reconciled's verbatim SQL). */
      Sql("""WITH c AS (SELECT c_custkey, (c_custkey * 2654435761) % 10000 AS cx,
        |  (c_custkey * 40503) % 10000 AS cy FROM customer),
        |s AS (SELECT s_suppkey, (s_suppkey * 7919) % 10000 AS sx,
        |  (s_suppkey * 104729) % 10000 AS sy FROM supplier)
        |SELECT c_custkey, s_suppkey,
        |  (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS dist2
        |FROM c CROSS JOIN s
        |WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 22500
        |ORDER BY c_custkey, s_suppkey""".stripMargin)),
    // entity resolution: blocking-key candidates + in-block edit distance
    Query("join_fuzzy_match", (s, d) => Joins.fuzzyMatch(Tables.customer(s, d)),
      /* join_fuzzy_match: deletion-variant (SymSpell) blocking mirrored —
       * the oracle joins on the variant STRING where Spark joins on its
       * xxhash64 fp (a collision only adds a candidate; the levenshtein
       * residual rejects it on both sides, so results agree exactly). */
      Sql("""WITH v AS (SELECT c_custkey AS k,
        |  unnest(list_append(list_transform(range(1, length(c_name)+1),
        |    i -> substr(c_name, 1, i-1) || substr(c_name, i+1)), c_name)) AS var
        | FROM customer),
        |cand AS (SELECT DISTINCT a.k AS a_key, b.k AS b_key
        | FROM v a JOIN v b ON a.var = b.var AND a.k < b.k)
        |SELECT a_key, b_key, ca.c_name AS a_name, cb.c_name AS b_name,
        | levenshtein(ca.c_name, cb.c_name) AS dist
        |FROM cand JOIN customer ca ON ca.c_custkey = a_key
        | JOIN customer cb ON cb.c_custkey = b_key
        |WHERE levenshtein(ca.c_name, cb.c_name) <= 1
        |ORDER BY a_key, b_key""".stripMargin)),
    // null-safe dim lookup: NULL-key facts land on the designated
    // UNKNOWN row via <=> (hash-joinable, plans as BHJ) (r8)
    Query("join_null_safe", (s, d) => Joins.nullSafeJoin(Tables.customer(s, d), Tables.nation(s, d)),
      /* join_null_safe: IS NOT DISTINCT FROM mirrors <=>; the UNKNOWN
         dim row catches the NULL-key facts. */
      Sql("""WITH dim AS (SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation
        |  UNION ALL SELECT NULL, 'UNKNOWN'),
        |f AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE CAST(c_nationkey AS BIGINT) END AS k,
        |  c_acctbal FROM customer)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM f JOIN dim ON f.k IS NOT DISTINCT FROM dim.k
        |GROUP BY 1 ORDER BY n_name""".stripMargin)),
    // TPC-DS Q88 fold: 8 subquery scans → ONE scan of conditional
    // aggregates; census pins filescan=1, zero joins (r8)
    Query("analytics_multiband_scan", (s, d) => Analytics.multibandScan(Tables.events(s, d)),
      /* analytics_multiband_scan: the 8-band conditional aggregates,
         generated from the same band bounds the Spark side uses. */
      Sql {
        val cols = (0 until 8).flatMap { b =>
          val in = s"hour(ts) >= ${b * 3} AND hour(ts) < ${(b + 1) * 3}"
          Seq(s"CAST(count_if($in) AS BIGINT) AS n_band$b",
            s"CAST(SUM(CASE WHEN $in THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS val_band$b")
        }
        s"SELECT\n ${cols.mkString(",\n ")}\nFROM events"
      }),
    // --- aggregation ---
    Query("agg_hash_group", (s, d) => Aggregates.pricingSummary(Tables.lineitem(s, d)),
      Sql(q1Sql)),
    Query("agg_count_distinct", (s, d) => Aggregates.countDistinctCustomers(Tables.orders(s, d)),
      Sql("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("agg_approx_distinct", (s, d) => Aggregates.approxDistinctCustomers(Tables.orders(s, d)),
      Exempt("sketch, not exact; within-5% gate in CoreOpsSpec")),
    Query("agg_quantiles", (s, d) => Aggregates.quantiles(Tables.orders(s, d)),
      Sql("""SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        | round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        | round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("agg_stats", (s, d) => Aggregates.stats(Tables.lineitem(s, d)),
      Sql("""WITH c AS (SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(12,0)) AS x,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(14,0)) AS y
        | FROM lineitem),
        |m AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(x) AS DOUBLE) AS sx,
        |  CAST(SUM(y) AS DOUBLE) AS sy,
        |  CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |  CAST(SUM(y * y) AS DOUBLE) AS syy,
        |  CAST(SUM(x * y) AS DOUBLE) AS sxy
        | FROM c GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | round((sxx - sx*sx/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0) / 10000.0, 4) AS var_qty,
        | round(sqrt((sxx - sx*sx/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0)) / 100.0, 4) AS std_qty,
        | round((sxy - sx*sy/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0) / 10000.0, 4) AS cov_qty_price,
        | round(((sxy - sx*sy/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0))
        |   / (sqrt((sxx - sx*sx/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0))
        |      * sqrt((syy - sy*sy/CAST(n AS DOUBLE))/(CAST(n AS DOUBLE) - 1.0))), 6) AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin)),
    Query("agg_pivot", (s, d) => {
      val p = Aggregates.pivotStatus(Tables.lineitem(s, d))
      // empty (flag,status) cells: Spark pivot yields null, a CASE-pivot
      // oracle yields 0 for counts — normalize both sides to 0
      p.select(col("l_returnflag"),
        coalesce(col("F_n"), lit(0L)).as("F_n"), coalesce(col("F_qty"), lit(0.0)).as("F_qty"),
        coalesce(col("O_n"), lit(0L)).as("O_n"), coalesce(col("O_qty"), lit(0.0)).as("O_qty"))
    },
      Sql("""SELECT l_returnflag,
        | COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F_n,
        | COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS F_qty,
        | COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O_n,
        | COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS O_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("sample_deterministic", (s, d) => Aggregates.sampleDeterministic(Tables.orders(s, d)),
      Sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""".stripMargin)),
    Query("win_first_last", (s, d) => Windows.firstLast(Tables.orders(s, d)),
      Sql("""SELECT o_custkey, o_orderkey,
        | first_value(o_totalprice) OVER w AS first_price,
        | last_value(o_totalprice) OVER w AS last_price,
        | nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Query("agg_approx_quantiles", (s, d) => Aggregates.approxQuantiles(Tables.orders(s, d)),
      Exempt("sketch, not exact; within-2% gate in CoreOpsSpec")),
    Query("agg_rollup", (s, d) => Aggregates.rollupRegionNation(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
      Sql("""SELECT r_name, n_name, COUNT(*) AS n_custs,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        | CAST(GROUPING(r_name) AS BIGINT) AS g_r, CAST(GROUPING(n_name) AS BIGINT) AS g_n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),
    Query("agg_cube", (s, d) => Aggregates.cubeSegmentPriority(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg, CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderpriority)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),
    Query("agg_grouping_sets", (s, d) => Aggregates.groupingSetsGeo(Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
      Sql("""SELECT r_name, n_name, COUNT(*) AS n_custs,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        | CAST(GROUPING(r_name) AS BIGINT) AS g_r, CAST(GROUPING(n_name) AS BIGINT) AS g_n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name), ())
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),
    // --- windows ---
    Query("win_rank_topk", (s, d) => Windows.rankTopK(Tables.orders(s, d)),
      Sql("""WITH t AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER w AS BIGINT) AS rn, CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk
        | FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC))
        |SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM t WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)),
    Query("win_lag_lead", (s, d) => Windows.lagLead(Tables.events(s, d)),
      Sql("""SELECT user_id, event_id, value,
        | lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
        | lead(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value
        |FROM events ORDER BY user_id, event_id""".stripMargin)),
    Query("win_running_frame", (s, d) => Windows.runningFrame(Tables.orders(s, d)),
      Sql("""SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
        | COUNT(*) OVER w AS running_n
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Query("win_range_frame", (s, d) => Windows.rangeFrame(Tables.events(s, d)),
      Sql("""WITH t AS (SELECT event_type, event_id, value,
        |  CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT) AS value_cents FROM events)
        |SELECT event_type, event_id, value_cents,
        | COUNT(*) OVER w AS n_in_band,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_in_band
        |FROM t WINDOW w AS (PARTITION BY event_type ORDER BY value_cents
        |  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, event_id""".stripMargin)),
    Query("win_ntile", (s, d) => Windows.ntileQuartiles(Tables.customer(s, d)),
      Sql("""SELECT c_custkey, c_acctbal,
        | CAST(ntile(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS BIGINT) AS quartile
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    // --- sort / limit / set ops ---
    Query("sort_multi_key", (s, d) => SetSort.multiKeySort(Tables.customer(s, d)),
      Sql("""SELECT CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_mktsegment END AS segment, c_acctbal, c_custkey
        |FROM customer ORDER BY segment ASC NULLS FIRST, c_acctbal DESC, c_custkey ASC""".stripMargin)),
    Query("sort_limit_topk", (s, d) => SetSort.topK(Tables.orders(s, d)),
      Sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)),
    Query("set_union", (s, d) => SetSort.unionDistinct(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY k""".stripMargin)),
    Query("set_union_byname", (s, d) => SetSort.unionByNameMissing(Tables.customer(s, d)),
      Sql("""SELECT k, bal, segment FROM (
        | SELECT c_custkey AS k, c_acctbal AS bal FROM customer WHERE c_custkey % 2 = 0
        | UNION ALL BY NAME
        | SELECT c_custkey AS k, c_acctbal AS bal, c_mktsegment AS segment
        | FROM customer WHERE c_custkey % 2 = 1) t
        |ORDER BY k""".stripMargin)),
    Query("set_intersect", (s, d) => SetSort.intersectKeys(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY k""".stripMargin)),
    Query("set_except", (s, d) => SetSort.exceptKeys(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY k""".stripMargin)),
    // --- scalar function families ---
    Query("fn_string", (s, d) => ScalarFns.stringFns(Tables.part(s, d)),
      Sql("""SELECT p_partkey,
        | upper(p_name) AS name_upper, lower(p_brand) AS brand_lower,
        | trim('  ' || p_type || '  ') AS type_trim,
        | substring(p_type, 1, 5) AS type_pfx,
        | concat_ws('/', p_brand, p_type) AS brand_type,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | regexp_replace(p_name, 'a', '@', 'g') AS name_repl,
        | lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad,
        | CAST(p_type LIKE '%BRASS%' AS BIGINT) AS is_brass,
        | regexp_extract(p_name, '([a-z]+)', 1) AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("fn_date", (s, d) => ScalarFns.dateFns(Tables.orders(s, d)),
      Sql("""SELECT o_orderkey,
        | CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
        | CAST(date_part('month', o_orderdate) AS BIGINT) AS m,
        | CAST(date_part('day', o_orderdate) AS BIGINT) AS d,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
        | CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2m,
        | CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Query("fn_math", (s, d) => ScalarFns.mathFns(Tables.part(s, d)),
      Sql("""SELECT p_partkey,
        | CAST(round(CAST(p_retailprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_r1,
        | CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        | CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        | CAST(abs(p_size - 25) AS BIGINT) AS size_dev,
        | pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
        | sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt,
        | ((p_partkey % 7) + 7) % 7 AS key_mod7,
        | CAST(sign(CAST(p_size - 25 AS DOUBLE)) AS BIGINT) AS size_sign
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("fn_array", (s, d) => ScalarFns.arrayFns(Tables.embeddings(s, d)),
      Sql("""SELECT vec_id,
        | CAST(len(embedding) AS BIGINT) AS dim,
        | CAST(embedding[1] AS DOUBLE) AS first_elem,
        | CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        | round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 5) AS sum_all,
        | CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_elem,
        | CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_elem,
        | CAST(list_sort(embedding, 'DESC')[2] AS DOUBLE) AS second_largest
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    // grouped-array build (collect_list sorted by line number) + HOF
    // post-processing — per-entity sequence features (r8)
    Query("fn_array_agg", (s, d) => ScalarFns.arrayAggHof(Tables.lineitem(s, d)),
      /* fn_array_agg: list built with an explicit ORDER BY (total order on
       * line number), then list HOFs; quantities are integer-valued
       * doubles so the folds are exact; the even test casts through BIGINT
       * on both engines. */
      Sql("""WITH g AS (SELECT l_orderkey, list(l_quantity ORDER BY l_linenumber, l_quantity) AS qs FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, CAST(len(qs) AS BIGINT) AS n_items,
        | list_sum(list_transform(qs, x -> x*x)) AS sum_sq,
        | list_max(qs) AS max_qty,
        | CAST(len(list_filter(qs, x -> CAST(x AS BIGINT) % 2 = 0)) AS BIGINT) AS n_even,
        | qs[1] AS first_qty
        |FROM g ORDER BY l_orderkey""".stripMargin)),
    Query("fn_conditional", (s, d) => ScalarFns.conditionalFns(Tables.part(s, d)),
      Sql("""SELECT p_partkey,
        | CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class,
        | nullif(p_brand, 'Brand#23') AS brand_or_null,
        | coalesce(nullif(p_brand, 'Brand#23'), '(masked)') AS brand_masked,
        | CAST(greatest(p_size, 25) AS BIGINT) AS size_floor25,
        | CAST(least(p_size, 25) AS BIGINT) AS size_cap25,
        | CAST(p_size % 2 = 0 AS BIGINT) AS is_even
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("fn_hash", (s, d) => ScalarFns.hashFns(Tables.part(s, d)),
      Sql("""SELECT p_partkey, md5(p_name) AS name_md5, sha256(p_name) AS name_sha256,
        | CAST(length(md5(p_name)) AS BIGINT) AS md5_len
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("fn_map_json", (s, d) => ScalarFns.mapJsonFns(Tables.events(s, d)),
      Sql("""SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        | CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
        | json_keys(props)[1] AS first_key
        |FROM events ORDER BY event_id""".stripMargin)),
    // --- diff / sync engine ---
    Query("diff_keyed", (s, d) => {
      val c = Tables.customer(s, d)
      SnapshotDiff.diffKeyed(Snapshots.oldSnapshot(c), Snapshots.newSnapshot(c), "slno")
        .orderBy("op", "slno", "col")
    },
      Sql(s"""SELECT * FROM ($diffKeyedBody) t ORDER BY op, slno, col""")),
    // bucketed count+fingerprint pre-check: the rsync/Merkle idea at
    // table grain — only mismatched ranges get the cell diff (r8)
    Query("diff_bucket_reconcile", (s, d) => {
      val c = Tables.customer(s, d)
      SnapshotDiff.bucketReconcile(Snapshots.oldSnapshot(c), Snapshots.newSnapshot(c))
    },
      /* diff_bucket_reconcile: per-bucket counts + decimal fingerprint
         sums over the same snapshot CTEs; match = counts equal AND
         fingerprints not-distinct. */
      Sql(s"""WITH oldt AS (${Snapshots.oldSql}), newt AS (${Snapshots.newSql}),
         |o AS (SELECT slno // 4 AS bucket, CAST(count(*) AS BIGINT) AS n_old,
         |  CAST(SUM(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(CAST(slno AS VARCHAR) || '|' || name || '|' || acctbal || '|' || segment, ''),
         |      c -> CAST(unicode(c) AS BIGINT))), (a, b) -> (a*31+b) % 1000000007) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS fp_old
         | FROM oldt GROUP BY 1),
         |n AS (SELECT slno // 4 AS bucket, CAST(count(*) AS BIGINT) AS n_new,
         |  CAST(SUM(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(CAST(slno AS VARCHAR) || '|' || name || '|' || acctbal || '|' || segment, ''),
         |      c -> CAST(unicode(c) AS BIGINT))), (a, b) -> (a*31+b) % 1000000007) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS fp_new
         | FROM newt GROUP BY 1)
         |SELECT COALESCE(o.bucket, n.bucket) AS bucket,
         | COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
         | CAST(COALESCE(n_old, 0) = COALESCE(n_new, 0)
         |   AND fp_old IS NOT DISTINCT FROM fp_new AS INT) AS is_match
         |FROM o FULL OUTER JOIN n ON o.bucket = n.bucket
         |ORDER BY bucket""".stripMargin)),
    // reconcile + cell-diff composed: the cell diff runs ONLY over the
    // mismatched buckets; output pinned ≡ the full diff_keyed (r9)
    Query("diff_reconciled", (s, d) => {
      val c = Tables.customer(s, d)
      SnapshotDiff.diffReconciled(Snapshots.oldSnapshot(c), Snapshots.newSnapshot(c), "slno")
        .orderBy("op", "slno", "col")
    },
      // twin of diff_keyed, kept: bucketReconcile is the base a per-bucket publish builds on
      /* diff_reconciled: deliberately the SAME SQL as diff_keyed — the
         operator's contract is that bucket pruning changes the PLAN, never
         the changeset, so the oracle pins reconciled ≡ full diff. */
      Sql(s"""SELECT * FROM ($diffKeyedBody) t ORDER BY op, slno, col""")),
    Query("diff_positional", (s, d) => {
      val c = Tables.customer(s, d)
      SnapshotDiff.diffPositional(Snapshots.bqSnapshot(c), Snapshots.sheetSnapshot(c), "slno")
        .orderBy("pos", "col")
    },
      Sql(diffPositionalSql)),
    Query("diff_apply_merge", (s, d) => {
      val c = Tables.customer(s, d)
      val old = Snapshots.oldSnapshot(c)
      val neu = Snapshots.newSnapshot(c)
      SnapshotDiff.applyChangeset(old, SnapshotDiff.diffKeyed(old, neu, "slno"), "slno")
        .orderBy("slno")
    },
      Sql(s"""SELECT * FROM (${Snapshots.newSql}) t ORDER BY slno""")),
    Query("agg_incremental", (s, d) => {
      val c = Tables.customer(s, d)
      val old = Snapshots.oldSnapshot(c)
      val neu = Snapshots.newSnapshot(c)
      IncrementalAgg.applyToAgg(
        IncrementalAgg.aggSnapshot(old), SnapshotDiff.diffKeyed(old, neu, "slno"), old)
    },
      Sql(s"""SELECT segment,
         | CAST(SUM(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
         | count(*) AS n
         |FROM (${Snapshots.newSql}) t GROUP BY segment ORDER BY segment""".stripMargin)),
    Query("agg_incremental_minmax", (s, d) => {
      val c = Tables.customer(s, d)
      val old = Snapshots.oldSnapshot(c)
      val neu = Snapshots.newSnapshot(c)
      IncrementalAgg.applyToMinMax(
        IncrementalAgg.aggMinMax(old), SnapshotDiff.diffKeyed(old, neu, "slno"), old)
    },
      Sql(s"""SELECT segment,
         | CAST(MIN(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS min_bal,
         | CAST(MAX(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal,
         | count(*) AS n
         |FROM (${Snapshots.newSql}) t GROUP BY segment ORDER BY segment""".stripMargin)),
    Query("dq_checks", (s, d) => DataQuality.checks(s, Tables.orders(s, d), Tables.lineitem(s, d), Tables.customer(s, d)),
      Sql("""SELECT * FROM (
        | SELECT 'orders.o_orderkey unique' AS constraint,
        |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
        |  CAST(count(*) AS BIGINT) AS n_checked,
        |  CAST(count(o_orderkey) = count(DISTINCT o_orderkey) AS BIGINT) AS passed FROM orders
        | UNION ALL
        | SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
        |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
        |  (SELECT count(*) FROM lineitem),
        |  CAST((SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) = 0 AS BIGINT)
        | UNION ALL
        | SELECT 'customer.c_name not null',
        |  (SELECT count(*) FROM customer WHERE c_name IS NULL),
        |  (SELECT count(*) FROM customer),
        |  CAST((SELECT count(*) FROM customer WHERE c_name IS NULL) = 0 AS BIGINT)
        | UNION ALL
        | SELECT 'lineitem.l_quantity in [0,100]',
        |  (SELECT count(*) FROM lineitem WHERE l_quantity < 0 OR l_quantity > 100),
        |  (SELECT count(*) FROM lineitem),
        |  CAST((SELECT count(*) FROM lineitem WHERE l_quantity < 0 OR l_quantity > 100) = 0 AS BIGINT)
        |) t ORDER BY "constraint"""".stripMargin)),
    Query("agg_changeset_summary", (s, d) => {
      val c = Tables.customer(s, d)
      SnapshotDiff.diffKeyed(Snapshots.oldSnapshot(c), Snapshots.newSnapshot(c), "slno")
        .groupBy(col("op"), col("col"))
        .agg(count(lit(1)).as("n"))
        .orderBy("op", "col")
    },
      Sql(s"""SELECT op, col, COUNT(*) AS n FROM ($diffKeyedBody) t GROUP BY op, col ORDER BY op, col""")),
    // --- LLM-pipeline: dedup ---
    Query("dedup_exact", (s, d) => Dedup.exact(Corpus.docCorpus(Tables.documents(s, d))),
      Sql(s"""WITH corpus AS (${Corpus.docCorpusSql})
         |SELECT doc_id, n_copies, n_chars FROM (
         | SELECT doc_id, n_chars,
         |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
         |  count(*) OVER (PARTITION BY md5(text)) AS n_copies
         | FROM corpus) t
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    // duplicate-group-size histogram + exact pair blowup per size (r7):
    // the audit that decides collapse/sharding before a quadratic stage
    Query("dedup_skew_profile", (s, d) => Dedup.dupSkewProfile(Corpus.docCorpus(Tables.documents(s, d))),
      /* dedup_skew_profile: digest group sizes → histogram with the exact
       * per-size pair blowup; integer `//` and every SUM cast BIGINT. */
      Sql(s"""WITH corpus AS (${Corpus.docCorpusSql}),
         |grp AS (SELECT md5(text) AS d, COUNT(*) AS g FROM corpus GROUP BY md5(text))
         |SELECT g AS group_size, COUNT(*) AS n_groups,
         | CAST(SUM(g) AS BIGINT) AS n_docs,
         | CAST(SUM(g * (g - 1) // 2) AS BIGINT) AS n_pairs
         |FROM grp GROUP BY g ORDER BY group_size""".stripMargin)),
    Query("dedup_ngram_jaccard", (s, d) => Dedup.ngramJaccard(Corpus.docCorpus(Tables.documents(s, d))),
      Sql(s"""WITH $jaccardCtes
         |SELECT a_id, b_id, jaccard FROM jpairs ORDER BY a_id, b_id""".stripMargin)),
    Query("dedup_containment", (s, d) => Dedup.ngramContainment(Corpus.docCorpus(Tables.documents(s, d))),
      Sql(containmentOracleSql)),
    Query("dedup_containment_prefix", (s, d) => Dedup.ngramContainmentPrefix(Corpus.docCorpus(Tables.documents(s, d))),
      // twin of dedup_containment, kept: the exact form is the specs' reference for this lossless prefix law
      // the prefix-filtered twin is LOSSLESS — identical answer, same
      // oracle; ONE shared literal so the twins can't silently diverge
      Sql(containmentOracleSql)),
    Query("dedup_near_minhash", (s, d) => Dedup.minhashCandidates(Corpus.docCorpus(Tables.documents(s, d))),
      Exempt("xxhash64-derived; candidate recall and determinism gated in LlmOpsSpec")),
    Query("dedup_simhash", (s, d) => Dedup.simhash(Corpus.docCorpus(Tables.documents(s, d))),
      /* dedup_simhash (PRODUCTION 48-bit, promoted r7): token hash = two
       * independent rolling code-point folds (31 mod 1e9+7; 131 mod
       * 999999937), low 24 bits of each packed hi‖lo; then the same
       * 48-way bit-vote CASE sum as the 30-bit twin. */
      Sql(s"""WITH corpus AS (${Corpus.docCorpusSql}),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus),
         |f AS (SELECT doc_id,
         |  ((list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(t,''), c -> CAST(unicode(c) AS BIGINT))),
         |    (a,b) -> (a*31+b)%1000000007) % 16777216) << 24)
         |  + (list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(t,''), c -> CAST(unicode(c) AS BIGINT))),
         |    (a,b) -> (a*131+b)%999999937) % 16777216) AS f FROM tok),
         |votes AS (SELECT doc_id, b.b AS b,
         |  CAST(SUM(CASE WHEN (f >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
         | FROM f CROSS JOIN (SELECT unnest(range(48)) AS b) b GROUP BY doc_id, b.b)
         |SELECT doc_id,
         | CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS fingerprint
         |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("dedup_embedding_cosine", (s, d) => Dedup.embeddingCosine(Corpus.vecCorpus(Tables.embeddings(s, d))),
      Sql(s"""WITH vc AS (${Corpus.vecCorpusSql})
         |SELECT a_id, b_id, cos FROM (
         | SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(list_dot_product(a.v,b.v)/nullif(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v)), 0), 4) + 0.0 AS cos
         | FROM vc a JOIN vc b ON a.vec_id < b.vec_id) t
         |WHERE cos >= 0.99 ORDER BY a_id, b_id""".stripMargin)),
    Query("dedup_cluster", (s, d) => Dedup.nearDupClusters(Corpus.docCorpus(Tables.documents(s, d))),
      Sql(s"""WITH RECURSIVE $jaccardCtes,
         |edges AS (SELECT a_id AS src, b_id AS dst FROM jpairs
         |          UNION ALL SELECT b_id, a_id FROM jpairs),
         |nodes AS (SELECT DISTINCT doc_id FROM corpus),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)),
    Query("pipeline_training_prep", (s, d) => TrainingPrep.prepare(Tables.documents(s, d)),
      Sql(s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT a_id AS src, b_id AS dst FROM cand
         |          UNION ALL SELECT b_id, a_id FROM cand),
         |nodes AS (SELECT DISTINCT doc_id FROM corpus),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |clusters AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
         |survivors AS (SELECT c.* FROM corpus c JOIN clusters cl ON c.doc_id = cl.doc_id
         |              WHERE cl.cluster = cl.doc_id),
         |sampled AS (SELECT * FROM survivors
         |            WHERE CASE WHEN lang = 'en' THEN doc_id % 10 < 2 ELSE doc_id % 10 < 5 END),
         |t AS (SELECT doc_id, lang, string_split(text,' ') AS tok FROM sampled),
         |ch AS (SELECT doc_id, lang, tok,
         |  unnest(range(greatest(CAST(ceil((len(tok)-8)/24.0) AS INT), 1))) AS chunk_id FROM t)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         | array_to_string(list_slice(tok, chunk_id*24+1, chunk_id*24+32), ' ') AS chunk_text,
         | CAST(len(list_slice(tok, chunk_id*24+1, chunk_id*24+32)) AS BIGINT) AS n_tokens,
         | lang
         |FROM ch WHERE len(list_slice(tok, chunk_id*24+1, chunk_id*24+32)) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin)),
    // --- LLM-pipeline: similarity search ---
    Query("sim_cosine_pairs", (s, d) => Similarity.cosinePairs(Tables.embeddings(s, d)),
      Sql("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 50)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        | round(list_dot_product(a.v,b.v)/nullif(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v)), 0), 4) + 0.0 AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id ORDER BY a_id, b_id""".stripMargin)),
    Query("sim_topk_search", (s, d) => Similarity.topkSearch(Tables.embeddings(s, d)),
      Sql("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT v AS q_v FROM e WHERE vec_id = 0)
        |SELECT vec_id, round(list_dot_product(e.v,q.q_v)/nullif(sqrt(list_dot_product(e.v,e.v))*sqrt(list_dot_product(q.q_v,q.q_v)), 0), 4) + 0.0 AS cos
        |FROM e, q WHERE e.vec_id <> 0 ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin)),
    // max-inner-product scoring (r8): cosine's unnormalized sibling —
    // the two-tower retrieval objective when norms carry signal
    Query("sim_mips_topk", (s, d) => Similarity.mipsTopK(Tables.embeddings(s, d)),
      /* sim_mips_topk: the cosine oracle minus the norm division — raw
       * list_dot_product, same sequential fold, one round site. */
      Sql("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT v AS q_v FROM e WHERE vec_id = 0)
        |SELECT vec_id, round(list_dot_product(e.v, q.q_v), 4) + 0.0 AS dot
        |FROM e, q WHERE e.vec_id <> 0 ORDER BY dot DESC, vec_id ASC LIMIT 10""".stripMargin)),
    Query("sim_quantized_topk", (s, d) => Similarity.quantizedTopk(Tables.embeddings(s, d)),
      Sql("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |sq AS (SELECT vec_id, v,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x)))/127.0 = 0 THEN 1.0
        |       ELSE list_max(list_transform(v, x -> abs(x)))/127.0 END AS s FROM e),
        |d AS (SELECT vec_id,
        |  list_transform(v, x -> greatest(least(floor(x/s + 0.5), 127.0), -127.0) * s) AS dq
        | FROM sq),
        |q AS (SELECT dq AS q_v FROM d WHERE vec_id = 0)
        |SELECT vec_id, round(list_dot_product(d.dq, q.q_v)/nullif(sqrt(list_dot_product(d.dq,d.dq))*sqrt(list_dot_product(q.q_v,q.q_v)), 0), 4) + 0.0 AS cos_q
        |FROM d, q WHERE vec_id <> 0 ORDER BY cos_q DESC, vec_id ASC LIMIT 10""".stripMargin)),
    // two-stage retrieval: int8 shortlist -> exact rerank; both stages
    // deterministic, so fully oracle-checked (r9)
    Query("sim_rerank", (s, d) => Similarity.rerankTopk(Tables.embeddings(s, d)),
      /* sim_rerank: stage 1 is the quantized CTEs verbatim cut at 50;
       * stage 2 re-scores only the shortlist at full precision — both
       * cuts on (rounded score, vec_id), so fully hash-checkable. */
      Sql("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |sq AS (SELECT vec_id, v,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x)))/127.0 = 0 THEN 1.0
        |       ELSE list_max(list_transform(v, x -> abs(x)))/127.0 END AS s FROM e),
        |d AS (SELECT vec_id,
        |  list_transform(v, x -> greatest(least(floor(x/s + 0.5), 127.0), -127.0) * s) AS dq
        | FROM sq),
        |q AS (SELECT dq AS q_v FROM d WHERE vec_id = 0),
        |short AS (SELECT vec_id,
        |  round(list_dot_product(d.dq, q.q_v)/nullif(sqrt(list_dot_product(d.dq,d.dq))*sqrt(list_dot_product(q.q_v,q.q_v)), 0), 4) + 0.0 AS cos_q
        | FROM d, q WHERE vec_id <> 0 ORDER BY cos_q DESC, vec_id ASC LIMIT 50),
        |qe AS (SELECT v AS qe_v FROM e WHERE vec_id = 0)
        |SELECT s.vec_id,
        |  round(list_dot_product(e.v, qe.qe_v)/nullif(sqrt(list_dot_product(e.v,e.v))*sqrt(list_dot_product(qe.qe_v,qe.qe_v)), 0), 4) + 0.0 AS cos,
        |  s.cos_q
        |FROM short s JOIN e ON e.vec_id = s.vec_id CROSS JOIN qe
        |ORDER BY cos DESC, s.vec_id ASC LIMIT 10""".stripMargin)),
    Query("sim_lsh_topk", (s, d) => Similarity.lshTopK(Tables.embeddings(s, d)),
      Exempt("ANN, recall-gated in LlmOpsSpec")),
    Query("sim_ivf_topk", (s, d) => Similarity.ivfTopK(Tables.embeddings(s, d)),
      Exempt("ANN, recall-gated in LlmOpsSpec")),
    // IVF served from the PERSISTED epoch artifact (r7): bucketed
    // assignment table + parameter-sized centroid model, zero training
    // jobs on the query path — the production vector-store shape
    Query("sim_ivf_persisted", (s, d) => Similarity.ivfTopKPersisted(s, Tables.embeddings(s, d)),
      Exempt("ANN epoch artifact; equality and plan gated in LlmOpsSpec")),
    // PQ served from the PERSISTED code tier (r7): the corpus-wide ADC
    // pass reads the stored codes table, floats only for the shortlist
    Query("sim_pq_persisted", (s, d) => Similarity.pqTopkPersisted(s, Tables.embeddings(s, d)),
      Exempt("ANN epoch artifact; equality gated in LlmOpsSpec")),
    Query("sim_pq_topk", (s, d) => Similarity.pqTopk(Tables.embeddings(s, d)),
      Exempt("PQ-quantized ANN, recall and determinism gated in LlmOpsSpec")),
    // --- LLM-pipeline: text analysis ---
    Query("text_tokenize_wordcount", (s, d) => TextAnalysis.tokenizeWordcount(Tables.documents(s, d)),
      Sql("""SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents) t
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 100""".stripMargin)),
    Query("text_ngrams", (s, d) => TextAnalysis.ngramCounts(Tables.documents(s, d)),
      Sql("""WITH tok AS (SELECT string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT unnest(list_transform(range(len(t)-1), i -> t[i+1] || ' ' || t[i+2])) AS ngram FROM tok)
        |SELECT ngram, count(*) AS n FROM bg GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 100""".stripMargin)),
    // PMI collocations: integer score_key ranking (tfidf discipline),
    // rfloor'd ln display value (r9)
    Query("text_collocations", (s, d) => TextAnalysis.collocations(Tables.documents(s, d)),
      /* text_collocations: the ranking key is the exact integer
       * (cxy·1e12)//(cx·cy) — ln only appears in the rounded display pmi,
       * so the top-100 cut can't flap on libm last-ulp differences. */
      Sql("""WITH tok AS (SELECT string_split(text,' ') AS t FROM documents),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
        |  (SELECT unnest(t) AS w FROM tok) u GROUP BY w),
        |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uc),
        |bc AS (SELECT ngram, CAST(count(*) AS BIGINT) AS cxy FROM
        |  (SELECT unnest(list_transform(range(len(t)-1), i -> t[i+1] || ' ' || t[i+2])) AS ngram FROM tok) b
        |  GROUP BY ngram),
        |n2 AS (SELECT CAST(sum(cxy) AS BIGINT) AS n2 FROM bc),
        |j AS (SELECT ngram, cxy, split_part(ngram, ' ', 1) AS w1,
        |  split_part(ngram, ' ', 2) AS w2 FROM bc WHERE cxy >= 5)
        |SELECT j.ngram, j.cxy, a.c AS cx, b.c AS cy,
        |  (j.cxy * 1000000000000) // (a.c * b.c) AS score_key,
        |  floor(ln((CAST(j.cxy AS DOUBLE) * n1.n1 * n1.n1) /
        |    (CAST(n2.n2 AS DOUBLE) * a.c * b.c)) * 10000.0 + 0.5) / 10000.0 + 0.0 AS pmi
        |FROM j JOIN uc a ON a.w = j.w1 JOIN uc b ON b.w = j.w2
        |CROSS JOIN n1 CROSS JOIN n2
        |ORDER BY score_key DESC, j.ngram ASC LIMIT 100""".stripMargin)),
    Query("text_stats_by_lang", (s, d) => TextAnalysis.statsByLang(Tables.documents(s, d)),
      Sql("""SELECT lang, count(*) AS n_docs,
        | CAST(SUM(n_chars) AS DOUBLE)/count(n_chars) AS avg_chars,
        | count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("text_tfidf", (s, d) => TextAnalysis.tfidf(Tables.documents(s, d)),
      Sql("""WITH tf AS (SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents) t GROUP BY 1,2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |r AS (SELECT doc_id, tf.term AS term, tf, df,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, tf.term ASC) AS BIGINT) AS rn
        | FROM tf JOIN df USING(term))
        |SELECT doc_id, term, tf, df,
        | round(tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)/df), 4) AS score, rn
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),
    Query("text_langid", (s, d) => TextAnalysis.langId(Tables.documents(s, d)),
      Sql(s"""WITH $langidCtes
         |SELECT doc_id, lang_declared, score_de, score_en, score_es, score_fr, lang_pred
         |FROM p ORDER BY doc_id""".stripMargin)),
    Query("text_quality", (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d)),
      Sql("""WITH t AS (SELECT doc_id, string_split(text,' ') AS tok FROM documents)
        |SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        | floor(CAST(len(list_distinct(tok)) AS DOUBLE)/len(tok)*1e4 + 0.5)/1e4 AS uniq_ratio,
        | floor(least(CAST(len(tok) AS DOUBLE)/100.0, 1.0)*1e4 + 0.5)/1e4 AS len_sat,
        | floor(CAST(len(list_filter(tok, x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(tok)*1e4 + 0.5)/1e4 AS stop_ratio,
        | floor((CAST(len(list_distinct(tok)) AS DOUBLE)/len(tok)*0.5
        |   + least(CAST(len(tok) AS DOUBLE)/100.0, 1.0)*0.3
        |   + (1.0 - CAST(len(list_filter(tok, x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(tok))*0.2)*1e4 + 0.5)/1e4 AS quality
        |FROM t ORDER BY doc_id""".stripMargin)),
    Query("text_token_count", (s, d) => TextAnalysis.tokenCount(Tables.documents(s, d)),
      Sql("""SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        | floor(CAST(n_chars AS DOUBLE)/len(string_split(text,' '))*1e4 + 0.5)/1e4 AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_fingerprint", (s, d) => TextAnalysis.fingerprint(Tables.documents(s, d)),
      Sql("""SELECT doc_id,
        | list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(string_split(text,''), c -> CAST(unicode(c) AS BIGINT))),
        |   (a,b) -> (a*31+b)%1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_repetition", (s, d) => TextAnalysis.repetition(Tables.documents(s, d)),
      Sql("""WITH tok AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(range(len(t)-1), i -> t[i+1] || ' ' || t[i+2])) AS ng FROM tok),
        |c AS (SELECT doc_id, ng, count(*) AS c FROM bg GROUP BY doc_id, ng),
        |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
        |  count(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
        | FROM c GROUP BY doc_id)
        |SELECT doc_id, n_ngrams, n_distinct,
        | floor((1.0 - CAST(n_distinct AS DOUBLE)/n_ngrams)*1e6 + 0.5)/1e6 AS dup_frac,
        | floor(CAST(top_c AS DOUBLE)/n_ngrams*1e6 + 0.5)/1e6 AS top_frac
        |FROM d ORDER BY doc_id""".stripMargin)),
    Query("text_chunk", (s, d) => TextAnalysis.chunk(Tables.documents(s, d)),
      Sql("""WITH t AS (SELECT doc_id, string_split(text,' ') AS tok FROM documents),
        |c AS (SELECT doc_id, tok,
        |  unnest(range(greatest(CAST(ceil((len(tok)-8)/24.0) AS INT), 1))) AS chunk_id FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        | array_to_string(list_slice(tok, chunk_id*24+1, chunk_id*24+32), ' ') AS chunk_text,
        | CAST(len(list_slice(tok, chunk_id*24+1, chunk_id*24+32)) AS BIGINT) AS n_tokens
        |FROM c WHERE len(list_slice(tok, chunk_id*24+1, chunk_id*24+32)) > 0
        |ORDER BY doc_id, chunk_id""".stripMargin)),
    // PII incidence per source (detection side of text_scrub;
    // regexp_count chain, map-mostly). The synthetic corpus is PII-free,
    // so deterministic PII-shaped tails are injected HERE — the operator
    // itself detects on text as-is (text_scrub convention); mirrored in
    // the oracle.
    Query("text_pii_stats", (s, d) => TextAnalysis.piiStats(
      Tables.documents(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 9 === 2,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 3,
          concat(lit(" host 192.168."), pmod(col("doc_id"), lit(256)).cast("long"),
            lit("."), pmod(floor(col("doc_id") / 256), lit(256)).cast("long"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 4,
          concat(lit(" call 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))).otherwise(lit(""))))),
      /* text_pii_stats: injection law and regexes mirrored; patterns live in
       * the Java∩RE2 common syntax. DuckDB standard strings pass backslashes
       * through to RE2 untouched. */
      Sql("""WITH t AS (SELECT source, text
        |  || CASE WHEN doc_id % 9 = 2 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 3 THEN ' host 192.168.' || (doc_id % 256) || '.' || (CAST(floor(doc_id / 256) AS BIGINT) % 256) ELSE '' END
        |  || CASE WHEN doc_id % 13 = 4 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
        | FROM documents),
        |c AS (SELECT source,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phone
        | FROM t)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_email) AS BIGINT) AS emails, CAST(sum(n_ip) AS BIGINT) AS ips,
        | CAST(sum(n_phone) AS BIGINT) AS phones,
        | CAST(sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        | floor(sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END) * 10000.0 / count(*) + 0.5) / 10000.0 + 0.0 AS pii_rate
        |FROM c GROUP BY source ORDER BY source""".stripMargin)),
    // per-source lang-mix Shannon entropy + deterministic dominant lang
    Query("text_diversity_entropy", (s, d) => TextAnalysis.diversityEntropy(Tables.documents(s, d)),
      /* text_diversity_entropy: Shannon H over each source's lang counts;
       * ln is libm-adjacent on both engines so every derived double rounds
       * through the portable floor(x·1e4+0.5); sums CAST to BIGINT (DuckDB
       * sum(BIGINT) is HUGEINT); dominant-lang tie-break = the agg_mode
       * rule (count desc, lang asc). */
      Sql("""WITH c AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang),
        |r AS (SELECT source, lang, n, sum(n) OVER (PARTITION BY source) AS tot,
        |  row_number() OVER (PARTITION BY source ORDER BY n DESC, lang ASC NULLS LAST) AS rk FROM c)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_langs,
        | floor(sum(-(n*1.0/tot) * ln(n*1.0/tot)) * 10000.0 + 0.5) / 10000.0 + 0.0 AS entropy,
        | max(CASE WHEN rk = 1 THEN lang END) AS top_lang,
        | floor(max(CASE WHEN rk = 1 THEN n END) * 10000.0 / sum(n) + 0.5) / 10000.0 + 0.0 AS top_share
        |FROM r GROUP BY source ORDER BY source""".stripMargin)),
    Query("text_scrub", (s, d) => TextAnalysis.scrub(
      // inject deterministic PII-shaped tails so the masks are exercised
      // (the synthetic corpus itself is plain words) — mirrored in oracle
      Tables.documents(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" reach me at bob123@mail.example now"))
          .when(col("doc_id") % 5 === 1, lit(" id 9876543210 code deadbeefdeadbeef99"))
          .otherwise(lit(""))))),
      Sql("""WITH t AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' reach me at bob123@mail.example now'
        |       WHEN doc_id % 5 = 1 THEN ' id 9876543210 code deadbeefdeadbeef99'
        |       ELSE '' END AS text FROM documents),
        |s AS (SELECT doc_id, text,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g'),
        |    '\b[0-9a-f]{16,}\b', '<HEX>', 'g') AS scrubbed FROM t)
        |SELECT doc_id, scrubbed,
        | CAST(length(text) - length(scrubbed) AS BIGINT) AS delta_chars
        |FROM s ORDER BY doc_id""".stripMargin)),
    Query("scan_partition_pruned", (s, d) =>
      PartitionedLayout.prunedDailyCounts(s, Tables.events(s, d), "2024-01-01", "2024-01-02"),
      Sql("""SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date, event_type,
        | count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(date_trunc('day', ts) AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-02'
        |GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin)),
    // --- LLM-pipeline: multimodal ---
    Query("mm_binary_meta", (s, d) => Multimodal.binaryMeta(Tables.documents(s, d)),
      Sql("""SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS digest,
        | lower(hex(encode(substring(text, 1, 8)))) AS prefix_hex
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("mm_decode_stub", (s, d) => { implicit val sp: SparkSession = s
      Multimodal.decodeSummary(Tables.documents(s, d)) },
      Exempt("decode not SQL-expressible; the decoders are gated in LlmOpsSpec")),
    Query("mm_image_phash", (s, d) => { implicit val sp: SparkSession = s
      Multimodal.imagePhashPairs(Tables.documents(s, d)) },
      Exempt("aHash over decoded raster, gated in LlmOpsSpec")),
    Query("mm_frame_sample", (s, d) => { implicit val sp: SparkSession = s
      Multimodal.frameSample(Tables.documents(s, d)) },
      Exempt("y4m decode-derived, synthesis law gated in LlmOpsSpec")),
    Query("mm_audio_windows", (s, d) => { implicit val sp: SparkSession = s
      Multimodal.audioWindows(Tables.documents(s, d)) },
      Exempt("WAV decode-derived, synthesis law gated in LlmOpsSpec")),
    // shot-boundary detection: |Δ mean luma| over EVERY adjacent frame
    // pair, flag over threshold; pure map fan-out, decode-exempt (r8)
    Query("mm_scene_cuts", (s, d) => { implicit val sp: SparkSession = s
      Multimodal.sceneCuts(Tables.documents(s, d)) },
      Exempt("y4m decode-derived, synthesis law gated in LlmOpsSpec")),
    // --- streaming (batch-equivalent forms; true streaming in StreamingSpec) ---
    Query("stream_tumbling_batch", (s, d) => Streams.tumblingBatch(Tables.events(s, d)),
      Sql("""SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),
    Query("stream_sliding_batch", (s, d) => Streams.slidingBatch(Tables.events(s, d)),
      Sql("""WITH e AS (SELECT *, CAST(to_timestamp(CAST(floor(epoch(ts)/1800)*1800 AS BIGINT)) AS TIMESTAMP) AS b FROM events),
        |w AS (SELECT event_type, value, unnest([b, b - INTERVAL 30 MINUTE]) AS w_start FROM e)
        |SELECT w_start, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),
    Query("stream_session_batch", (s, d) => Streams.sessionBatch(Tables.events(s, d)),
      Sql("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |m AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 OR lag(ts_us) OVER w IS NULL
        |   THEN 1 ELSE 0 END AS new_session
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(ts_us) AS start_us, max(ts_us) AS end_us,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),
    // keyed throttle (one delivery per key per TTL) replayed exactly:
    // per-key greedy walk against the LAST KEPT event (r9)
    Query("stream_throttle_batch", (s, d) => Streams.throttleBatch(Tables.events(s, d)),
      /* stream_throttle_batch: the rn+1 recursive CTE threads the same
       * last-KEPT state the Spark aggregate HOF carries — the holt
       * recursion shape applied to the greedy throttle walk. */
      Sql("""WITH RECURSIVE e AS (SELECT user_id, event_type, event_id,
        |  epoch_us(ts) AS ts_us,
        |  CAST(row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn FROM events),
        |walk(user_id, event_type, rn, event_id, ts_us, last_us, keep) AS (
        |  SELECT user_id, event_type, rn, event_id, ts_us, ts_us, TRUE
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT d.user_id, d.event_type, d.rn, d.event_id, d.ts_us,
        |    CASE WHEN d.ts_us - w.last_us >= 259200000000 THEN d.ts_us ELSE w.last_us END,
        |    d.ts_us - w.last_us >= 259200000000
        |  FROM walk w JOIN e d ON d.user_id = w.user_id
        |    AND d.event_type = w.event_type AND d.rn = w.rn + 1)
        |SELECT user_id, event_type, event_id, ts_us FROM walk WHERE keep
        |ORDER BY user_id, event_type, ts_us, event_id""".stripMargin)),
    // --- subqueries (Catalyst decorrelation) ---
    Query("sub_scalar_correlated", (s, d) => Subqueries.scalarCorrelated(s, Tables.customer(s, d)),
      Sql("""SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer o
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(i.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |                   FROM customer i WHERE i.c_nationkey = o.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)),
    Query("sub_in_semijoin", (s, d) => Subqueries.inSubquery(s, Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)),
    // --- scale-path join/agg techniques ---
    Query("join_bucketed", (s, d) => ScaleJoins.bucketedJoin(s, Tables.orders(s, d), Tables.lineitem(s, d)),
      Sql("""SELECT o_orderkey, count(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),
    Query("agg_salted", (s, d) => ScaleJoins.saltedAgg(Tables.lineitem(s, d)),
      Sql("""SELECT l_returnflag,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // --- UDF / UDAF / UDTF surface ---
    Query("udf_scalar_norm", (s, d) => Udfs.scalarNorm(s, Tables.part(s, d)),
      Sql("""SELECT p_partkey,
        | nullif(lower(trim('  ' || p_type || '  ')), '') AS norm_udf,
        | nullif(lower(trim('  ' || p_type || '  ')), '') AS norm_builtin
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("udaf_typed", (s, d) => Udfs.typedUdaf(s, Tables.customer(s, d)),
      Sql("""SELECT c_mktsegment,
        | CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT) * CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/10000.0 AS sum_sq_bal,
        | count(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("udtf_generator", (s, d) => Udfs.tokenGenerator(Tables.documents(s, d)),
      Sql("""WITH t AS (SELECT doc_id, string_split(text,' ') AS tok FROM documents WHERE doc_id < 50)
        |SELECT doc_id, CAST(unnest(range(len(tok))) AS BIGINT) AS pos, unnest(tok) AS token
        |FROM t ORDER BY doc_id, pos""".stripMargin)),
    // --- round 2 additions ---
    Query("join_skew_salted", (s, d) => ScaleJoins.saltedJoin(Tables.orders(s, d), Tables.lineitem(s, d)),
      Sql("""SELECT o_orderpriority, count(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("join_dpp", (s, d) => PartitionedLayout.dppJoin(s, Tables.events(s, d)),
      Sql("""WITH dim AS (SELECT DATE '2024-01-01' + CAST(i AS INT) AS d
        |  FROM range(0,40) t(i) WHERE i % 7 = 2)
        |SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN dim ON CAST(ts AS DATE) = d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("join_existence_flag", (s, d) => Joins.existenceFlag(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c_custkey, c_mktsegment,
        | EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("win_percent_rank", (s, d) => Windows.percentileRanks(Tables.customer(s, d)),
      Sql("""SELECT c_custkey, c_mktsegment,
        | floor(percent_rank() OVER w * 1e6 + 0.5)/1e6 AS pct_rank,
        | floor(cume_dist() OVER w * 1e6 + 0.5)/1e6 AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin)),
    Query("dq_contamination", (s, d) => DataQuality.contamination(Tables.documents(s, d)),
      Sql("""WITH corpus AS (SELECT doc_id, text, source FROM documents
        | UNION ALL SELECT doc_id+300000, text, 'crawl_mirror' FROM documents WHERE doc_id % 9 = 0)
        |SELECT md5(text) AS text_md5, count(DISTINCT source) AS n_sources,
        | count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM corpus GROUP BY 1 HAVING count(DISTINCT source) >= 2
        |ORDER BY text_md5""".stripMargin)),
    Query("sample_stratified", (s, d) => Aggregates.stratifiedSample(Tables.documents(s, d)),
      Sql("""SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE CASE WHEN lang = 'en' THEN doc_id % 10 < 2 ELSE doc_id % 10 < 5 END
        |ORDER BY doc_id""".stripMargin)),
    // fixed-budget per-group sample: k smallest md5(doc_id) per lang,
    // partial WindowGroupLimit below the exchange (plan-gated)
    Query("sample_reservoir_group", (s, d) => Aggregates.reservoirByGroup(Tables.documents(s, d)),
      /* sample_reservoir_group: k=20 smallest md5(doc_id) per lang; md5 of
       * the decimal-rendered key is bit-identical across engines. */
      Sql("""WITH r AS (SELECT lang, doc_id, source,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        | FROM documents)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, source FROM r
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin)),
    // Efraimidis-Spirakis weighted reservoir: k largest ln(u)/w keys per
    // lang, u from the portable md5 fold, w = n_chars (token-mass-aware)
    Query("sample_weighted_reservoir", (s, d) => Aggregates.weightedReservoirByGroup(Tables.documents(s, d)),
      /* sample_weighted_reservoir: u = (fold(md5(key)) + 1)/(P + 1) from
       * the proven-portable rolling fold; the A-ES key ln(u)/w rounds
       * ONCE into integer nano-units (ln's last-ulp wobble is the same
       * accepted class as the dsir/lm_score sites); ties break doc_id. */
      Sql("""WITH f AS (SELECT doc_id, lang, greatest(n_chars, 1) AS weight,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(md5(CAST(doc_id AS VARCHAR)),''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a,b) -> (a*31+b)%1000000007) AS fp
        | FROM documents),
        |ky AS (SELECT doc_id, lang, weight,
        |  CAST(round(ln((fp + 1.0) / 1000000008.0) / weight * 1e9, 0) AS BIGINT) AS key_units FROM f),
        |r AS (SELECT lang, doc_id, weight, key_units,
        |  row_number() OVER (PARTITION BY lang ORDER BY key_units DESC, doc_id ASC) AS rk FROM ky)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, weight, key_units
        |FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin)),
    Query("text_normalize_url", (s, d) => TextAnalysis.normalizeUrls(Tables.documents(s, d)),
      Sql("""WITH u AS (SELECT doc_id,
        |  'HTTPS://Docs.Example.COM/' || lang || '/item/' || doc_id ||
        |  CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' ELSE '?id=' END || doc_id ||
        |  CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x&ref=rss' ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END AS url_raw
        | FROM documents),
        |n2 AS (SELECT doc_id, url_raw,
        |  regexp_replace(regexp_replace(regexp_replace(url_raw, '#.*', '', 'g'),
        |    'utm_[a-z]+=[^&]*&', '', 'g'), '[?&]utm_[a-z]+=[^&]*$', '', 'g') AS s2
        | FROM u)
        |SELECT doc_id, url_raw,
        | lower(regexp_extract(s2, '^[^/]*//[^/]*', 0)) || regexp_replace(s2, '^[^/]*//[^/]*', '') AS url_norm
        |FROM n2 ORDER BY doc_id""".stripMargin)),
    Query("fn_struct", (s, d) => ScalarFns.structFns(Tables.nation(s, d)),
      Sql("""SELECT n_nationkey,
        | struct_extract(struct_pack(name := n_name, region := CAST(n_regionkey AS VARCHAR)), 'name') AS s_name,
        | CAST(to_json(struct_pack(name := n_name, region := CAST(n_regionkey AS VARCHAR))) AS VARCHAR) AS js,
        | json_extract_string(CAST(to_json(struct_pack(name := n_name, region := CAST(n_regionkey AS VARCHAR))) AS VARCHAR), '$.region') AS region_rt
        |FROM nation ORDER BY n_nationkey""".stripMargin)),
    Query("analytics_q3_shipping", (s, d) =>
      Analytics.q3Shipping(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      Sql("""SELECT l_orderkey, o_orderdate, o_orderpriority,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        | AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin)),
    Query("analytics_q5_local_volume", (s, d) =>
      Analytics.q5LocalVolume(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d)),
      Sql("""SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        | JOIN supplier ON s_nationkey = n_nationkey
        | JOIN lineitem ON l_suppkey = s_suppkey
        | JOIN orders ON o_orderkey = l_orderkey
        | JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin)),
    Query("agg_topk_sketch", (s, d) => Aggregates.topkSketchByBucket(Tables.events(s, d)),
      Sql("""WITH c AS (SELECT user_id % 8 AS bucket, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT bucket, event_type, n,
        |  row_number() OVER (PARTITION BY bucket ORDER BY n DESC, event_type ASC) AS rk FROM c)
        |SELECT bucket, rk, event_type, n FROM r WHERE rk <= 3
        |ORDER BY bucket, rk""".stripMargin)),
    Query("agg_hll_rollup", (s, d) => Aggregates.hllDailyRollup(Tables.events(s, d)),
      Exempt("HLL union estimate, within-5% gate in CoreOpsSpec")),
    // sketch-tier epoch: stored per-day HLLs ∪ a derived next-day delta
    // (new + returning users); exempt — CoreOpsSpec pins exact equality
    // with the full recompute (HLL union is deterministic)
    Query("agg_hll_delta", (s, d) => {
      val ev = Tables.events(s, d)
      Aggregates.hllDelta(s, ev,
        ev.filter(col("event_id") % 5 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 30 DAYS"))
          .withColumn("user_id",
            when(col("event_id") % 2 === 0, col("user_id") + 5000000L)
              .otherwise(col("user_id"))))
    },
      Exempt("HLL sketch epoch; exact equality with the recompute gated in CoreOpsSpec")),
    Query("join_asof_tolerance", (s, d) => Joins.asOfTolerance(Tables.events(s, d), Tables.orders(s, d)),
      Sql("""WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
        |  row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        | FROM e LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |   AND o.o_orderdate >= e.ts - INTERVAL 30 DAY)
        |SELECT event_id, user_id, date_trunc('second', ts) AS ts_s, o_orderkey, o_orderdate
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    Query("fn_bitwise", (s, d) => ScalarFns.bitwiseFns(Tables.part(s, d)),
      Sql("""SELECT p_partkey,
        | p_partkey & 255 AS and255,
        | p_partkey | 16 AS or16,
        | xor(p_partkey, CAST(p_size AS BIGINT)) AS xor_size,
        | CAST(p_size AS BIGINT) << 2 AS shl2,
        | p_partkey >> 3 AS shr3,
        | CAST(bit_count(p_partkey) AS BIGINT) AS nbits
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("agg_arg_max", (s, d) => Aggregates.argMaxMin(Tables.customer(s, d)),
      Sql("""SELECT c_mktsegment,
        | arg_max(c_custkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * 10000000 + c_custkey) AS richest_cust,
        | arg_min(c_custkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * 10000000 + c_custkey) AS poorest_cust,
        | CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal,
        | CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS min_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("sub_not_in_nullaware", (s, d) => Subqueries.notInNullAware(s, Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT 'clean_subquery' AS variant, count(*) AS n_rows
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)
        |UNION ALL
        |SELECT 'null_in_subquery', count(*)
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderkey % 1000 = 7 THEN NULL ELSE o_custkey END
        |   FROM orders WHERE o_totalprice > 300000)
        |ORDER BY variant""".stripMargin)),
    Query("analytics_q14_promo", (s, d) =>
      Analytics.q14Promo(Tables.lineitem(s, d), Tables.part(s, d)),
      Sql("""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
        | floor(CAST(100 AS DOUBLE)
        |   * COALESCE(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) END) AS DOUBLE), 0)
        |   / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        |   * 1e4 + 0.5) / 1e4 + 0.0 AS promo_share,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("analytics_q10_returns", (s, d) =>
      Analytics.q10Returns(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.nation(s, d)),
      Sql("""SELECT c_custkey, c_name, n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        | AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin)),
    Query("analytics_q7_nations", (s, d) =>
      Analytics.q7VolumeShipping(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d)),
      Sql("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS BIGINT) AS l_year,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        | AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        |   OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    Query("analytics_q19_disjunct", (s, d) =>
      Analytics.q19Discount(Tables.lineitem(s, d), Tables.part(s, d)),
      Sql("""SELECT
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    Query("analytics_q8_share", (s, d) =>
      Analytics.q8MarketShare(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d)),
      Sql("""WITH v AS (
        | SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, sn.n_name AS supp_nation,
        |  CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) AS volume
        | FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        | WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_year,
        | floor(COALESCE(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume END) AS DOUBLE), 0)
        |   / CAST(SUM(volume) AS DOUBLE) * 1e6 + 0.5) / 1e6 + 0.0 AS mkt_share,
        | CAST(SUM(volume) AS DOUBLE) AS total_volume
        |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin)),
    // --- round 6 additions: remaining TPC-H shapes (adapted to this schema) ---
    Query("analytics_q4_priority", (s, d) =>
      Analytics.q4PriorityExists(Tables.orders(s, d), Tables.lineitem(s, d)),
      Sql("""SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("analytics_q6_forecast", (s, d) => Analytics.q6Forecast(Tables.lineitem(s, d)),
      Sql("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        | AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
        | AND l_quantity < 24""".stripMargin)),
    Query("analytics_q9_profit", (s, d) =>
      Analytics.q9Profit(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.nation(s, d)),
      Sql("""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS profit
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin)),
    Query("analytics_q13_custdist", (s, d) =>
      Analytics.q13CustDist(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""WITH c_orders AS (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        | GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    Query("analytics_q15_top_supplier", (s, d) =>
      Analytics.q15TopSupplier(Tables.lineitem(s, d), Tables.supplier(s, d)),
      Sql("""WITH revenue AS (
        | SELECT l_suppkey,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS total_dec
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_dec AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_dec = (SELECT max(total_dec) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)),
    Query("analytics_q16_offer_counts", (s, d) =>
      Analytics.q16OfferCounts(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d)),
      Sql("""SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        | AND p_type NOT LIKE 'PROMO%'
        | AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        | AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin)),
    Query("analytics_q17_small_qty", (s, d) =>
      Analytics.q17SmallQtyRevenue(Tables.lineitem(s, d), Tables.part(s, d)),
      Sql("""WITH pa AS (
        | SELECT l_partkey AS ap_partkey, sum(l_quantity) / count(*) AS avg_qty
        | FROM lineitem GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN pa ON l_partkey = ap_partkey
        |WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty""".stripMargin)),
    Query("analytics_q18_large_volume", (s, d) =>
      Analytics.q18LargeVolume(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d)),
      Sql("""SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        | SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        | HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
        |LIMIT 100""".stripMargin)),
    Query("analytics_q21_waiting", (s, d) =>
      Analytics.q21WaitingSupplier(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.nation(s, d)),
      Sql("""SELECT s_name, count(*) AS numwait
        |FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |WHERE n_name = 'NATION_3'
        | AND EXISTS (SELECT 1 FROM orders
        |   WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
        | AND EXISTS (SELECT 1 FROM lineitem l2
        |   WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        | AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |   WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name ASC LIMIT 100""".stripMargin)),
    Query("analytics_q22_inactive", (s, d) =>
      Analytics.q22InactiveBalance(Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""WITH pool AS (
        | SELECT * FROM customer WHERE c_nationkey IN (3, 7, 11, 17, 19)),
        |ab AS (
        | SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        | FROM pool WHERE c_acctbal > 0)
        |SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM pool, ab
        |WHERE c_acctbal > avg_bal
        | AND NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("analytics_q2_min_cost", (s, d) =>
      Analytics.q2MinCostSupplier(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d)),
      Sql("""WITH ps AS (
        | SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  min(floor((l_extendedprice / l_quantity) * 1e4 + 0.5)/1e4) AS ps_supplycost
        | FROM lineitem GROUP BY 1, 2),
        |rsup AS (
        | SELECT s_suppkey, s_name, s_acctbal, n_name
        | FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
        |FROM part
        | JOIN ps ON p_partkey = ps_partkey
        | JOIN rsup ON ps_suppkey = s_suppkey
        |WHERE p_size = 15
        | AND ps_supplycost = (
        |  SELECT min(ps2.ps_supplycost)
        |  FROM ps ps2 JOIN rsup r2 ON ps2.ps_suppkey = r2.s_suppkey
        |  WHERE ps2.ps_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        |LIMIT 100""".stripMargin)),
    Query("analytics_q11_important", (s, d) =>
      Analytics.q11ImportantParts(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d)),
      Sql("""WITH ps AS (
        | SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  CAST(min(floor((l_extendedprice / l_quantity) * 1e4 + 0.5)/1e4) AS DECIMAL(18,4)) AS cost_dec,
        |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
        | FROM lineitem GROUP BY 1, 2),
        |nat_ps AS (
        | SELECT ps_partkey, cost_dec * qty_dec AS val_dec
        | FROM ps JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name = 'NATION_3'),
        |per_part AS (
        | SELECT ps_partkey, SUM(val_dec) AS part_val_dec FROM nat_ps GROUP BY 1),
        |tot AS (SELECT SUM(part_val_dec) AS total_dec, count(*) AS n_parts FROM per_part)
        |SELECT ps_partkey, CAST(part_val_dec AS DOUBLE) AS part_value
        |FROM per_part, tot
        |WHERE CAST(part_val_dec AS DOUBLE) * n_parts > 3.0 * CAST(total_dec AS DOUBLE)
        |ORDER BY part_value DESC, ps_partkey ASC""".stripMargin)),
    Query("analytics_q12_ship_delay", (s, d) =>
      Analytics.q12ShipDelay(Tables.lineitem(s, d), Tables.orders(s, d)),
      Sql("""SELECT least(CAST(floor(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) / 30.0) AS BIGINT), 4) AS delay_bucket,
        | count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
        | count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("analytics_q20_dominant", (s, d) =>
      Analytics.q20DominantSupplier(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d)),
      Sql("""WITH shipped AS (
        | SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sp
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        | GROUP BY 1, 2),
        |ptot AS (SELECT l_partkey, SUM(qty_sp) AS qty_p FROM shipped GROUP BY 1),
        |dominant AS (
        | SELECT l_suppkey FROM shipped JOIN ptot USING (l_partkey)
        | WHERE qty_sp * 2 > qty_p
        |  AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'large%'))
        |SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        | AND s_suppkey IN (SELECT l_suppkey FROM dominant)
        |ORDER BY s_name""".stripMargin)),
    Query("join_runtime_filter", (s, d) =>
      ops.ScaleJoins.runtimeFilteredJoin(Tables.orders(s, d), Tables.lineitem(s, d)),
      Sql("""SELECT l_returnflag, count(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("maintenance_zorder", (s, d) =>
      ops.Maintenance.zorderedLineitem(Tables.lineitem(s, d)),
      Sql {
        // the normalization + Morton interleave GENERATED from the one
        // shared constant (Maintenance.ZorderBits), so the two sides
        // cannot drift
        val bits = ops.Maintenance.ZorderBits
        val scale = ops.Maintenance.ZorderScale
        val z = (0 until bits).map(i =>
          s"(((np >> $i) & 1) << ${2 * i}) + (((ns >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH dom AS (SELECT min(l_partkey) AS min_p, max(l_partkey) AS max_p,
           |  min(l_suppkey) AS min_s, max(l_suppkey) AS max_s FROM lineitem),
           |n AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  CAST(floor((l_partkey - min_p) * $scale / (max_p - min_p + 1)) AS BIGINT) AS np,
           |  CAST(floor((l_suppkey - min_s) * $scale / (max_s - min_s + 1)) AS BIGINT) AS ns
           | FROM lineitem CROSS JOIN dom)
           |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, ($z) AS z
           |FROM n ORDER BY z, l_orderkey, l_linenumber""".stripMargin
      }),
    Query("scan_schema_merge", (s, d) => Scans.scanSchemaMerge(s, Tables.nation(s, d), d),
      Sql("""SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
        |FROM nation WHERE n_nationkey % 2 = 0
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey % 2 = 1
        |ORDER BY n_nationkey""".stripMargin)),
    Query("maintenance_compact", (s, d) => Maintenance.compactedEvents(s, Tables.events(s, d)),
      Sql("""SELECT event_id, user_id, event_type,
        | CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        |FROM events ORDER BY event_id""".stripMargin)),
    // ANALYZE-style per-partition stats over the hive layout (also an
    // integrity check: the oracle recomputes from the raw table)
    Query("maintenance_partition_stats", (s, d) => graft.ops.PartitionedLayout.partitionStats(s, Tables.events(s, d)),
      /* maintenance_partition_stats: recomputed from the raw events
       * table — equality doubles as partitioned-fixture integrity. */
      Sql("""SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
        |  COUNT(*) AS n_rows,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |  MIN(event_id) AS min_event, MAX(event_id) AS max_event
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin)),
    // --- round 3 additions ---
    Query("agg_mode", (s, d) => Aggregates.modePerGroup(Tables.orders(s, d)),
      Sql("""SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt FROM (
        | SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
        | FROM orders GROUP BY o_orderstatus, o_orderpriority) t
        |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_histogram", (s, d) => Aggregates.histogram(Tables.orders(s, d)),
      Sql("""SELECT CAST(floor(o_totalprice / CAST(25000.0 AS DOUBLE)) AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // mergeable per-shard histogram tier → merged quantile estimates
    // (the pre-aggregated percentile serving shape; all-integer cents)
    Query("agg_quantile_rollup", (s, d) => Aggregates.quantileRollup(Tables.orders(s, d)),
      /* agg_quantile_rollup: the shard→merge→cumulative chain in exact
       * integer cents; ceil-division via // on pre-offset integers; the
       * cumulative is the SAME triangular join as the Spark side (not a
       * window) so both engines aggregate the identical bounded frame. */
      Sql("""WITH c AS (SELECT o_orderkey, CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) AS BIGINT) AS cents FROM orders),
        |h AS (SELECT o_orderkey % 16 AS shard, cents // 100000 AS bucket, CAST(count(*) AS BIGINT) AS cc
        | FROM c GROUP BY 1, 2),
        |m AS (SELECT bucket, CAST(SUM(cc) AS BIGINT) AS cc FROM h GROUP BY bucket),
        |n AS (SELECT CAST(SUM(cc) AS BIGINT) AS n FROM m),
        |q AS (SELECT CAST(q AS BIGINT) AS q FROM (VALUES (50), (90), (99)) v(q)),
        |th AS (SELECT q, n, (n * q + 99) // 100 AS th FROM q CROSS JOIN n),
        |cum AS (SELECT a.bucket AS bucket, CAST(SUM(b.cc) AS BIGINT) AS cum
        | FROM m a JOIN m b ON b.bucket <= a.bucket GROUP BY a.bucket)
        |SELECT q, n AS n_rows, CAST(MIN(bucket) AS BIGINT) AS bucket,
        | CAST(MIN(bucket) * 100000 AS BIGINT) AS est_lo_cents
        |FROM th JOIN cum ON cum >= th GROUP BY q, n ORDER BY q""".stripMargin)),
    // incremental quantiles: a derived delta batch merged into the base
    // histogram (the persisted-epoch shape, oracle-checked through the
    // recompute path — the dsir_delta convention)
    Query("agg_quantile_delta", (s, d) => {
      val o = Tables.orders(s, d)
      Aggregates.quantileDelta(
        o.filter(col("o_orderkey") % 4 =!= 1),
        o.filter(col("o_orderkey") % 4 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + lit(500.0)))
    },
      /* agg_quantile_delta: base and delta reduce to bucket histograms
       * separately, merge by SUM, then the same threshold/cumulative
       * chain — the lossless-merge law means this equals recomputing
       * over base ∪ delta, which is what this SQL does structurally. */
      Sql("""WITH b AS (SELECT CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) AS BIGINT) // 100000 AS bucket,
        |  CAST(count(*) AS BIGINT) AS cc
        | FROM orders WHERE o_orderkey % 4 <> 1 GROUP BY 1),
        |d AS (SELECT CAST(CAST((o_totalprice + 500.0) * 100 AS DECIMAL(18,0)) AS BIGINT) // 100000 AS bucket,
        |  CAST(count(*) AS BIGINT) AS cc
        | FROM orders WHERE o_orderkey % 4 = 1 GROUP BY 1),
        |m AS (SELECT bucket, CAST(SUM(cc) AS BIGINT) AS cc
        | FROM (SELECT * FROM b UNION ALL SELECT * FROM d) u GROUP BY bucket),
        |n AS (SELECT CAST(SUM(cc) AS BIGINT) AS n FROM m),
        |q AS (SELECT CAST(q AS BIGINT) AS q FROM (VALUES (50), (90), (99)) v(q)),
        |th AS (SELECT q, n, (n * q + 99) // 100 AS th FROM q CROSS JOIN n),
        |cum AS (SELECT a.bucket AS bucket, CAST(SUM(b2.cc) AS BIGINT) AS cum
        | FROM m a JOIN m b2 ON b2.bucket <= a.bucket GROUP BY a.bucket)
        |SELECT q, n AS n_rows, CAST(MIN(bucket) AS BIGINT) AS bucket,
        | CAST(MIN(bucket) * 100000 AS BIGINT) AS est_lo_cents
        |FROM th JOIN cum ON cum >= th GROUP BY q, n ORDER BY q""".stripMargin)),
    Query("dq_outlier_zscore", (s, d) => DataQuality.outlierZscore(Tables.lineitem(s, d)),
      Sql("""WITH st AS (
        | SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(14,0))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(14,0))
        |         * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(14,0))) AS DOUBLE) AS sxx
        | FROM lineitem GROUP BY l_returnflag),
        |sm AS (SELECT l_returnflag, sx / CAST(n AS DOUBLE) AS mean,
        |  sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS std
        | FROM st)
        |SELECT l.l_returnflag, l_orderkey, l_linenumber, l_partkey, l_extendedprice,
        | floor((l_extendedprice * 100.0 - mean) / std * 1e4 + 0.5) / 1e4 AS z
        |FROM lineitem l JOIN sm ON l.l_returnflag = sm.l_returnflag
        |ORDER BY abs((l_extendedprice * 100.0 - mean) / std) DESC,
        | l_orderkey, l_linenumber, l_partkey, l_suppkey
        |LIMIT 50""".stripMargin)),
    Query("dq_outlier_mad", (s, d) => DataQuality.outlierMad(Tables.customer(s, d)),
      Sql("""WITH med AS (SELECT c_mktsegment,
        |  floor(quantile_cont(c_acctbal, 0.5)*1e2 + 0.5)/1e2 AS med
        | FROM customer GROUP BY 1),
        |dev AS (SELECT c.c_mktsegment, c_acctbal, med,
        |  abs(c_acctbal - med) AS adev
        | FROM customer c JOIN med USING (c_mktsegment)),
        |mad AS (SELECT c_mktsegment,
        |  floor(quantile_cont(adev, 0.5)*1e2 + 0.5)/1e2 AS mad
        | FROM dev GROUP BY 1)
        |SELECT d.c_mktsegment, min(d.med) AS med, min(m.mad) AS mad,
        | count(*) AS n,
        | CAST(count_if(d.adev > 3.0*m.mad) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (c_mktsegment)
        |GROUP BY d.c_mktsegment ORDER BY d.c_mktsegment""".stripMargin)),
    Query("dedup_passage", (s, d) => Dedup.passageDedup(Corpus.docCorpus(Tables.documents(s, d))),
      Sql(s"""WITH corpus AS (${Corpus.docCorpusSql}),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        |chunks AS (
        | SELECT doc_id, j AS cpos, array_to_string(w[j*8+1 : j*8+8], ' ') AS chunk
        | FROM toks, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS u(j)),
        |nz AS (SELECT * FROM chunks WHERE length(chunk) > 0),
        |inst AS (SELECT doc_id, cpos, chunk, md5(chunk) AS dg,
        |  doc_id*2147483648 + cpos AS rnk FROM nz),
        |keepers AS (SELECT dg, min(rnk) AS keep_rank FROM inst GROUP BY dg),
        |kept AS (SELECT i.* FROM inst i
        |  JOIN keepers k ON i.dg = k.dg AND i.rnk = k.keep_rank),
        |ded AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY cpos) AS text_dedup FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_total FROM nz GROUP BY doc_id)
        |SELECT t.doc_id, t.n_total, COALESCE(d.n_kept, 0) AS n_kept,
        | COALESCE(d.text_dedup, '') AS text_dedup
        |FROM tot t LEFT JOIN ded d ON t.doc_id = d.doc_id
        |ORDER BY t.doc_id""".stripMargin)),
    // sliding k-gram cross-doc duplication load per doc (Lee et al. 2022
    // re-expressed as a gram-df join; grams hashed to 8 bytes pre-shuffle)
    Query("dedup_substring", (s, d) => Dedup.substringDup(Corpus.docCorpus(Tables.documents(s, d))),
      /* dedup_substring: sliding 8-gram df join — the oracle groups by the
       * gram STRING where Spark groups by its xxhash64 fp (counts agree
       * unless xxhash64 collides, which the corpus sizes make negligible);
       * dup_share is the floor(x*1e4+0.5) portable rounding. */
      Sql {
        val k = 8
        val gramTerms = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
        s"""WITH corpus AS (${Corpus.docCorpusSql}),
           |base AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
           |g AS (SELECT doc_id, unnest(list_transform(range(len(t)-${k - 1}),
           |  i -> $gramTerms)) AS gram FROM base WHERE len(t) >= $k),
           |df AS (SELECT gram, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram),
           |pd AS (SELECT g.doc_id, count(*) AS n_grams,
           |  CAST(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
           | FROM g JOIN df USING (gram) GROUP BY g.doc_id)
           |SELECT doc_id, n_grams, n_dup_grams,
           | floor(n_dup_grams * 10000.0 / n_grams + 0.5) / 10000.0 + 0.0 AS dup_share
           |FROM pd ORDER BY doc_id""".stripMargin
      }),
    Query("dedup_url", (s, d) => Dedup.urlDedup(Tables.documents(s, d)),
      Sql("""WITH u AS (SELECT doc_id,
        | 'HTTPS://Docs.Example.COM/' || lang || '/item/' || (doc_id % 500) ||
        | CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' ELSE '?id=' END || (doc_id % 500) ||
        | CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x' ELSE '' END ||
        | CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url_raw
        | FROM documents),
        |n2 AS (SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(url_raw, '#.*', '', 'g'),
        |   'utm_[a-z]+=[^&]*&', '', 'g'), '[?&]utm_[a-z]+=[^&]*$', '', 'g') AS s2
        | FROM u),
        |c AS (SELECT doc_id,
        | lower(regexp_extract(s2, '^[^/]*//[^/]*', 0)) || regexp_replace(s2, '^[^/]*//[^/]*', '') AS url_norm
        | FROM n2),
        |r AS (SELECT doc_id, url_norm,
        | row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) AS rn,
        | count(*) OVER (PARTITION BY url_norm) AS n_dups
        | FROM c)
        |SELECT doc_id, url_norm, n_dups FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    Query("sim_knn_join", (s, d) => Similarity.knnJoin(Tables.embeddings(s, d)),
      Sql("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |q AS (SELECT vec_id AS q_id, v AS q_v, nrm AS q_n FROM n WHERE vec_id < 8),
        |p AS (SELECT q.q_id, n.vec_id,
        |  round(list_dot_product(n.v, q.q_v) / nullif(n.nrm * q.q_n, 0), 4) + 0.0 AS cos
        | FROM n, q WHERE n.vec_id <> q.q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn FROM p)
        |SELECT q_id, vec_id, cos, rn FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),
    Query("set_except_all", (s, d) => SetSort.exceptAllBags(Tables.customer(s, d)),
      Sql("""SELECT c_mktsegment AS segment FROM customer WHERE c_custkey % 3 = 0
        |EXCEPT ALL
        |SELECT c_mktsegment AS segment FROM customer WHERE c_custkey % 4 = 0
        |ORDER BY segment""".stripMargin)),
    Query("set_intersect_all", (s, d) => SetSort.intersectAllBags(Tables.customer(s, d)),
      Sql("""SELECT c_mktsegment AS segment FROM customer WHERE c_custkey % 3 = 0
        |INTERSECT ALL
        |SELECT c_mktsegment AS segment FROM customer WHERE c_custkey % 4 = 0
        |ORDER BY segment""".stripMargin)),
    Query("agg_string_agg", (s, d) => Aggregates.stringAggPriorities(Tables.orders(s, d)),
      Sql("""SELECT o_orderstatus,
        | array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
        | count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_median", (s, d) => Aggregates.medianBalance(Tables.customer(s, d)),
      Sql("""WITH cont AS (
        | SELECT c_mktsegment, floor(quantile_cont(c_acctbal, 0.5)*1e2 + 0.5)/1e2 AS med_cont, count(*) AS n
        | FROM customer GROUP BY c_mktsegment),
        |disc AS (
        | SELECT c_mktsegment, min(c_acctbal) AS med_disc FROM (
        |  SELECT c_mktsegment, c_acctbal,
        |   cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS cd
        |  FROM customer) t WHERE cd >= 0.5 GROUP BY c_mktsegment)
        |SELECT c.c_mktsegment, med_cont, med_disc, n
        |FROM cont c JOIN disc d ON c.c_mktsegment = d.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin)),
    Query("agg_weighted_avg", (s, d) => Aggregates.weightedAvgPrice(Tables.lineitem(s, d)),
      Sql("""SELECT l_returnflag,
        | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * 10000 AS DECIMAL(26,0))) AS DOUBLE) /
        | CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(26,0))) AS DOUBLE) / 100.0 AS wavg_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("fn_unpivot", (s, d) => Aggregates.unpivotStatusCounts(Tables.orders(s, d)),
      Sql("""WITH w AS (SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_n,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_n,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_n
        | FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, s.status,
        | CASE s.status WHEN 'F' THEN f_n WHEN 'O' THEN o_n ELSE p_n END AS n
        |FROM w CROSS JOIN (VALUES ('F'), ('O'), ('P')) s(status)
        |ORDER BY o_orderpriority, status""".stripMargin)),
    Query("join_lateral_topn", (s, d) => Subqueries.lateralTopN(s, Tables.customer(s, d), Tables.orders(s, d)),
      Sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey, o_orderkey""".stripMargin)),
    Query("win_gaps_islands", (s, d) => Windows.gapsIslands(Tables.orders(s, d)),
      Sql("""SELECT o_orderpriority, min(o_orderkey) AS start_key, max(o_orderkey) AS end_key,
        | count(*) AS n
        |FROM (SELECT o_orderpriority, o_orderkey,
        |  o_orderkey - row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS island
        | FROM orders) t
        |GROUP BY o_orderpriority, island
        |ORDER BY o_orderpriority, start_key""".stripMargin)),
    Query("win_fill_forward", (s, d) => Windows.fillForward(Tables.customer(s, d)),
      Sql("""SELECT c_mktsegment, c_custkey, bal,
        | last_value(bal IGNORE NULLS) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal_filled
        |FROM (SELECT c_mktsegment, c_custkey,
        |  CASE WHEN c_custkey % 7 = 2 THEN NULL ELSE c_acctbal END AS bal FROM customer) t
        |ORDER BY c_mktsegment, c_custkey""".stripMargin)),
    Query("dedup_minhash_oracle", (s, d) => Dedup.minhashBandedOracle(Corpus.docCorpus(Tables.documents(s, d))),
      Sql(minhashOracleSql)),
    Query("dedup_simhash_oracle", (s, d) => Dedup.simhashOracle(Corpus.docCorpus(Tables.documents(s, d))),
      Sql(s"""WITH corpus AS (${Corpus.docCorpusSql}),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus),
         |f AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(string_split(t,''), c -> CAST(unicode(c) AS BIGINT))),
         |  (a,b) -> (a*31+b)%1000000007) AS f FROM tok),
         |votes AS (SELECT doc_id, b.b AS b,
         |  CAST(SUM(CASE WHEN (f >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
         | FROM f CROSS JOIN (SELECT unnest(range(30)) AS b) b GROUP BY doc_id, b.b)
         |SELECT doc_id,
         | CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS fingerprint
         |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("agg_regr", (s, d) => Aggregates.regrStats(Tables.lineitem(s, d)),
      Sql("""WITH c AS (SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(12,0)) AS x,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(14,0)) AS y
        | FROM lineitem),
        |m AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(SUM(x) AS DOUBLE) AS sx,
        |  CAST(SUM(y) AS DOUBLE) AS sy,
        |  CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |  CAST(SUM(y * y) AS DOUBLE) AS syy,
        |  CAST(SUM(x * y) AS DOUBLE) AS sxy
        | FROM c GROUP BY l_returnflag)
        |SELECT l_returnflag,
        | (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        | (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n / 100.0 AS intercept,
        | (n*sxy - sx*sy) * (n*sxy - sx*sy) / ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS r2,
        | CAST(n AS BIGINT) AS n
        |FROM m ORDER BY l_returnflag""".stripMargin)),
    // pairwise corr/cov matrix from one exact-decimal moment pass
    Query("agg_corr_matrix", (s, d) => Aggregates.corrMatrix(Tables.lineitem(s, d)),
      /* agg_corr_matrix: same exact-decimal moment law as agg_regr — sums
       * in DECIMAL, one cast to double, identical IEEE corr/cov/sqrt
       * expressions on both sides; 3-pair long format via UNION ALL over
       * the tiny moment CTE. */
      Sql("""WITH c AS (SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(12,0)) AS q,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(14,0)) AS p,
        |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS DECIMAL(8,0)) AS d
        | FROM lineitem),
        |m AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(SUM(q) AS DOUBLE) AS sq,
        |  CAST(SUM(p) AS DOUBLE) AS sp,
        |  CAST(SUM(d) AS DOUBLE) AS sd,
        |  CAST(SUM(q * q) AS DOUBLE) AS sqq,
        |  CAST(SUM(p * p) AS DOUBLE) AS spp,
        |  CAST(SUM(d * d) AS DOUBLE) AS sdd,
        |  CAST(SUM(q * p) AS DOUBLE) AS sqp,
        |  CAST(SUM(q * d) AS DOUBLE) AS sqd,
        |  CAST(SUM(p * d) AS DOUBLE) AS spd
        | FROM c GROUP BY l_returnflag)
        |SELECT l_returnflag, var_a, var_b, corr, cov_samp, CAST(n AS BIGINT) AS n FROM (
        | SELECT l_returnflag, n, 'quantity' AS var_a, 'extendedprice' AS var_b,
        |  (n*sqp - sq*sp) / sqrt((n*sqq - sq*sq) * (n*spp - sp*sp)) AS corr,
        |  (n*sqp - sq*sp) / (n*(n-1)) / 10000.0 AS cov_samp FROM m
        | UNION ALL
        | SELECT l_returnflag, n, 'quantity', 'discount',
        |  (n*sqd - sq*sd) / sqrt((n*sqq - sq*sq) * (n*sdd - sd*sd)),
        |  (n*sqd - sq*sd) / (n*(n-1)) / 10000.0 FROM m
        | UNION ALL
        | SELECT l_returnflag, n, 'extendedprice', 'discount',
        |  (n*spd - sp*sd) / sqrt((n*spp - sp*sp) * (n*sdd - sd*sd)),
        |  (n*spd - sp*sd) / (n*(n-1)) / 10000.0 FROM m) t
        |ORDER BY l_returnflag, var_a, var_b""".stripMargin)),
    Query("agg_bool", (s, d) => Aggregates.boolAggs(Tables.orders(s, d)),
      Sql("""SELECT o_orderstatus,
        | CAST(bool_and(o_totalprice > 1000.0) AS INT) AS all_over_1k,
        | CAST(bool_or(o_totalprice > 400000.0) AS INT) AS any_over_400k,
        | CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        | count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    Query("text_zipf", (s, d) => TextAnalysis.zipfProfile(Tables.documents(s, d)),
      Sql("""WITH wc AS (
        | SELECT t AS word, count(*) AS n
        | FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents) u
        | GROUP BY t),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM wc),
        |top AS (SELECT word, n, row_number() OVER (ORDER BY n DESC, word ASC) AS rank
        |        FROM wc ORDER BY n DESC, word ASC LIMIT 50)
        |SELECT rank, word, n, rank * n AS rank_x_n,
        | floor(CAST(n AS DOUBLE) / total * 1e6 + 0.5) / 1e6 AS share
        |FROM top CROSS JOIN tot ORDER BY rank""".stripMargin)),
    Query("stream_enrich_batch", (s, d) => Streams.enrichBatch(Tables.events(s, d), Tables.customer(s, d)),
      Sql("""SELECT c_mktsegment, event_type, count(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin)),
    // watermark late-drop accounting: min-across-shards watermark over
    // arrival micro-batches, deterministic jitter fixture (r8)
    Query("stream_late_events_batch", (s, d) => Streams.lateEventsBatch(Tables.events(s, d)),
      /* stream_late_events_batch: the engine's watermark rule made exact
         in SQL — global watermark before batch b = min over source
         shards of the max event time seen in batches < b, minus delay;
         a shard with no history holds the watermark undefined. Arrival =
         event time + (event_id mod 97) minutes deterministic jitter,
         micro-batch = 1800 s arrival slot, shard = event_id mod 4. */
      Sql("""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id % 4 AS shard,
        |    (epoch_us(ts) + (event_id % 97) * 60000000) // 1800000000 AS batch_id
        |  FROM events),
        |bm AS (SELECT shard, batch_id, max(ts_us) AS bmax FROM e GROUP BY 1, 2),
        |grid AS (SELECT s.shard, b.batch_id
        |  FROM (SELECT DISTINCT batch_id FROM e) b
        |  CROSS JOIN (VALUES (0), (1), (2), (3)) s(shard)),
        |r AS (SELECT g.shard, g.batch_id,
        |   max(bm.bmax) OVER (PARTITION BY g.shard ORDER BY g.batch_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
        | FROM grid g LEFT JOIN bm ON g.shard = bm.shard AND g.batch_id = bm.batch_id),
        |wm AS (SELECT batch_id, CASE WHEN count(rmax) = 4 THEN min(rmax) END AS wm_us
        | FROM r GROUP BY 1),
        |l AS (SELECT event_type,
        |  CASE WHEN wm_us IS NOT NULL AND ts_us < wm_us - 1800000000 THEN 1 ELSE 0 END AS late
        | FROM e JOIN wm USING (batch_id))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(SUM(late) AS BIGINT) AS late_n,
        | floor(CAST(SUM(late) AS DOUBLE)/CAST(count(*) AS DOUBLE)*1e4 + 0.5)/1e4 AS late_ratio
        |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin)),
    Query("ds_typed_pipeline", (s, d) => TypedOps.typedCustomerSpend(Tables.orders(s, d)),
      Sql("""SELECT o_custkey, count(*) AS n_orders,
        | CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
        | max(o_totalprice) AS max_order
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    Query("fn_explode_outer", (s, d) => ScalarFns.explodeOuter(Tables.orders(s, d)),
      Sql("""WITH t AS (SELECT o_orderkey, range(1, o_orderkey % 3 + 1) AS arr
        | FROM orders WHERE o_orderkey < 1000)
        |SELECT o_orderkey, unnest(arr) AS v FROM t WHERE len(arr) > 0
        |UNION ALL
        |SELECT o_orderkey, NULL AS v FROM t WHERE len(arr) = 0
        |ORDER BY o_orderkey, v NULLS FIRST""".stripMargin)),
    Query("fn_date_spine", (s, d) => Analytics.dateSpineFill(s, Tables.orders(s, d)),
      Sql("""WITH spine AS (
        | SELECT CAST(unnest(generate_series(DATE '1997-01-01', DATE '1997-03-31',
        |   INTERVAL 1 DAY)) AS DATE) AS day),
        |daily AS (
        | SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        | FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |   AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        | GROUP BY 1)
        |SELECT s.day, COALESCE(n, 0) AS n, COALESCE(sum_price, 0.0) AS sum_price
        |FROM spine s LEFT JOIN daily d ON s.day = d.day
        |ORDER BY s.day""".stripMargin)),
    Query("text_lm_score", (s, d) => TextAnalysis.lmScore(Tables.documents(s, d)),
      Sql("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] AS bg
        |       FROM tok, UNNEST(range(len(w)-1)) AS u(i)),
        |hh AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(string_split(bg,''), c -> CAST(unicode(c) AS BIGINT))),
        |  (a,b) -> (a*31+b)%1000000007) AS h FROM bg),
        |f AS (SELECT h, count(*) AS bf FROM hh GROUP BY h)
        |SELECT doc_id, count(*) AS n_bigrams,
        | CAST(SUM(bf) AS DOUBLE) / count(*) AS mean_bf,
        | CAST(count_if(bf = 1) AS DOUBLE) / count(*) AS hapax_ratio
        |FROM hh JOIN f USING (h)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("dedup_embedding_bucketed", (s, d) => Dedup.embeddingBucketedDedup(Corpus.vecCorpus(Tables.embeddings(s, d))),
      Sql(s"""WITH v AS (${Corpus.vecCorpusSql}),
         |b AS (SELECT vec_id, v,
         |  (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END +
         |   CASE WHEN v[3] > 0 THEN 4 ELSE 0 END + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END +
         |   CASE WHEN v[5] > 0 THEN 16 ELSE 0 END + CASE WHEN v[6] > 0 THEN 32 ELSE 0 END +
         |   CASE WHEN v[7] > 0 THEN 64 ELSE 0 END + CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket,
         |  sqrt(list_dot_product(v, v)) AS nrm FROM v),
         |d AS (SELECT DISTINCT y.vec_id AS vec_id
         | FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         | WHERE round(list_dot_product(x.v, y.v) / nullif(x.nrm * y.nrm, 0), 4) + 0.0 >= 0.99)
         |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket FROM b
         |WHERE vec_id NOT IN (SELECT vec_id FROM d)
         |ORDER BY vec_id""".stripMargin)),
    // index = original vectors (<100000), delta = the perturbed near-dup
    // arrivals (all rejected: the ×1.01+0.001 perturbation preserves
    // every sign bucket in the fixture) UNIONED with a NOVEL slice —
    // sign-flipped copies of every tenth-plus-five vector, which land in
    // the complementary bucket and survive. Both branches now fire at
    // the driver: rows > 0 (the survivors) and rows < |delta| (the
    // drops) — the r11 verdict's vacuous 0-vs-0 fixture finding.
    Query("dedup_embedding_delta", (s, d) => {
      val vc = Corpus.vecCorpus(Tables.embeddings(s, d))
      val novel = vc.filter(col("vec_id") < 100000 && col("vec_id") % 10 === 5)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("v"), x => x * lit(-1.0)).as("v"))
      Dedup.embeddingDeltaDedup(
        vc.filter(col("vec_id") < 100000),
        vc.filter(col("vec_id") >= 100000).unionByName(novel))
    },
      Sql(s"""WITH v AS (${Corpus.vecCorpusSql}),
         |dv AS (SELECT vec_id, v FROM v WHERE vec_id >= 100000
         | UNION ALL
         | SELECT vec_id + 200000 AS vec_id, list_transform(v, x -> x * -1.0) AS v
         | FROM v WHERE vec_id < 100000 AND vec_id % 10 = 5),
         |bi AS (SELECT vec_id, v,
         |  (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END +
         |   CASE WHEN v[3] > 0 THEN 4 ELSE 0 END + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END +
         |   CASE WHEN v[5] > 0 THEN 16 ELSE 0 END + CASE WHEN v[6] > 0 THEN 32 ELSE 0 END +
         |   CASE WHEN v[7] > 0 THEN 64 ELSE 0 END + CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket,
         |  sqrt(list_dot_product(v, v)) AS nrm FROM v WHERE vec_id < 100000),
         |bd AS (SELECT vec_id, v,
         |  (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END + CASE WHEN v[2] > 0 THEN 2 ELSE 0 END +
         |   CASE WHEN v[3] > 0 THEN 4 ELSE 0 END + CASE WHEN v[4] > 0 THEN 8 ELSE 0 END +
         |   CASE WHEN v[5] > 0 THEN 16 ELSE 0 END + CASE WHEN v[6] > 0 THEN 32 ELSE 0 END +
         |   CASE WHEN v[7] > 0 THEN 64 ELSE 0 END + CASE WHEN v[8] > 0 THEN 128 ELSE 0 END) AS bucket,
         |  sqrt(list_dot_product(v, v)) AS nrm FROM dv),
         |dr AS (SELECT DISTINCT d.vec_id AS vec_id
         | FROM bd d JOIN bi i ON d.bucket = i.bucket
         | WHERE round(list_dot_product(d.v, i.v) / nullif(d.nrm * i.nrm, 0), 4) + 0.0 >= 0.99)
         |SELECT vec_id FROM dv
         | WHERE vec_id NOT IN (SELECT vec_id FROM dr)
         |ORDER BY vec_id""".stripMargin)),
    Query("dq_snapshot_drift", (s, d) => {
      val c = Tables.customer(s, d)
      DataQuality.snapshotDrift(Snapshots.oldSnapshot(c), Snapshots.newSnapshot(c))
    },
      Sql(s"""WITH oldt AS (${Snapshots.oldSql}), newt AS (${Snapshots.newSql}),
         |oa AS (SELECT CAST(CAST(floor(CAST(acctbal AS DOUBLE)/1000) AS BIGINT) AS VARCHAR) AS bin,
         |  count(*) AS oc FROM oldt GROUP BY 1),
         |na AS (SELECT CAST(CAST(floor(CAST(acctbal AS DOUBLE)/1000) AS BIGINT) AS VARCHAR) AS bin,
         |  count(*) AS nc FROM newt GROUP BY 1),
         |ja AS (SELECT COALESCE(oc, 0) AS oc, COALESCE(nc, 0) AS nc
         | FROM oa FULL OUTER JOIN na USING (bin)),
         |ta AS (SELECT SUM(oc) AS t_o, SUM(nc) AS t_n FROM ja),
         |ra AS (SELECT 'acctbal_1k' AS "column", count(*) AS n_bins,
         |  CAST(SUM(ABS(oc::HUGEINT*t_n - nc::HUGEINT*t_o)) AS DOUBLE) /
         |   (CAST(t_o AS DOUBLE) * CAST(t_n AS DOUBLE)) * 0.5 AS tvd
         | FROM ja CROSS JOIN ta GROUP BY t_o, t_n),
         |os AS (SELECT segment AS bin, count(*) AS oc FROM oldt GROUP BY 1),
         |ns AS (SELECT segment AS bin, count(*) AS nc FROM newt GROUP BY 1),
         |js AS (SELECT COALESCE(oc, 0) AS oc, COALESCE(nc, 0) AS nc
         | FROM os FULL OUTER JOIN ns USING (bin)),
         |ts AS (SELECT SUM(oc) AS t_o, SUM(nc) AS t_n FROM js),
         |rs AS (SELECT 'segment' AS "column", count(*) AS n_bins,
         |  CAST(SUM(ABS(oc::HUGEINT*t_n - nc::HUGEINT*t_o)) AS DOUBLE) /
         |   (CAST(t_o AS DOUBLE) * CAST(t_n AS DOUBLE)) * 0.5 AS tvd
         | FROM js CROSS JOIN ts GROUP BY t_o, t_n)
         |SELECT * FROM ra UNION ALL SELECT * FROM rs ORDER BY "column"""".stripMargin)),
    // two-sample KS drift over the same snapshots: max CDF gap in exact
    // cross-multiplied integers, divided once for the reported D
    Query("dq_drift_ks", (s, d) => {
      val o = Tables.orders(s, d)
      DataQuality.driftKs(o, Snapshots.perturbedOrders(o))
    },
      Sql(driftKsOracleSql)),
    // per-bucket PSI drift between order snapshots over the quantile
    // tier's shared fixed boundaries (new = drop %43, +500.00 on %7)
    Query("dq_drift_psi", (s, d) => {
      val o = Tables.orders(s, d)
      DataQuality.driftPsi(o, Snapshots.perturbedOrders(o))
    },
      /* dq_drift_psi: both snapshots reduce to the quantile tier's fixed
       * cents buckets; smoothed shares with the FIXED +1/+1024 constants;
       * the (pn−po)·ln(pn/po) contribution rounds ONCE per bucket into
       * integer nano-nats — the dsir micro-nat discipline. */
      Sql("""WITH ob AS (SELECT CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) AS BIGINT) // 100000 AS bucket,
        |  CAST(count(*) AS BIGINT) AS c_old FROM orders GROUP BY 1),
        |newt AS (SELECT o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 500.0 ELSE 0.0 END AS o_totalprice
        | FROM orders WHERE o_orderkey % 43 <> 0),
        |nb AS (SELECT CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) AS BIGINT) // 100000 AS bucket,
        |  CAST(count(*) AS BIGINT) AS c_new FROM newt GROUP BY 1),
        |j AS (SELECT bucket, CAST(COALESCE(c_old, 0) AS BIGINT) AS c_old,
        |  CAST(COALESCE(c_new, 0) AS BIGINT) AS c_new
        | FROM ob FULL OUTER JOIN nb USING (bucket)),
        |t AS (SELECT CAST(SUM(c_old) AS BIGINT) AS n_old, CAST(SUM(c_new) AS BIGINT) AS n_new FROM j)
        |SELECT bucket, c_old, c_new,
        | CAST(round(((c_new + 1.0) / (n_new + 1024.0) - (c_old + 1.0) / (n_old + 1024.0))
        |  * ln(((c_new + 1.0) / (n_new + 1024.0)) / ((c_old + 1.0) / (n_old + 1024.0))) * 1e9, 0) AS BIGINT) AS psi_units
        |FROM j CROSS JOIN t ORDER BY bucket""".stripMargin)),
    // the SAME KS statistic served from two PERSISTED quantile-histogram
    // epochs (r8): the monitor never touches a fact row — integer bucket
    // counts make the equality with the recompute form exact, so the
    // oracle SQL is dq_drift_ks's verbatim
    Query("dq_drift_ks_persisted", (s, d) => {
      val o = Tables.orders(s, d)
      DataQuality.driftKsFromHists(
        s.table(Aggregates.ensureQuantileHist(s, o, epoch = 8201L)),
        s.table(Aggregates.ensureQuantileHist(s, Snapshots.perturbedOrders(o), epoch = 8202L)))
    },
      // twin of dq_drift_ks, kept: the persisted-epoch serve path (docs/EPOCHS.md) is a second contract
      // see driftKsOracleSql for the KS CTE notes; the persisted-epoch
      // serve is exactly equal to the recompute (integer bucket counts;
      // spec-pinned), so both keys share one oracle
      Sql(driftKsOracleSql)),
    Query("pipeline_quality_filter", (s, d) => TrainingPrep.qualityFilter(Tables.documents(s, d)),
      Sql("""WITH t AS (SELECT doc_id, string_split(text,' ') AS tok FROM documents),
        |q AS (SELECT doc_id,
        | floor((CAST(len(list_distinct(tok)) AS DOUBLE)/len(tok)*0.5
        |  + least(CAST(len(tok) AS DOUBLE)/100.0, 1.0)*0.3
        |  + (1.0 - CAST(len(list_filter(tok, x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(tok))*0.2)*1e4 + 0.5)/1e4 AS quality
        | FROM t),
        |bg AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] AS bg
        | FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents) tk,
        |  UNNEST(range(len(w)-1)) AS u(i)),
        |hh AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(string_split(bg,''), c -> CAST(unicode(c) AS BIGINT))),
        |  (a,b) -> (a*31+b)%1000000007) AS h FROM bg),
        |f AS (SELECT h, count(*) AS bf FROM hh GROUP BY h),
        |lm AS (SELECT doc_id, CAST(SUM(bf) AS DOUBLE)/count(*) AS mean_bf
        |       FROM hh JOIN f USING (h) GROUP BY doc_id),
        |s AS (SELECT d.doc_id, d.lang, string_split(d.text,' ') AS tok, q.quality
        | FROM documents d JOIN q ON d.doc_id = q.doc_id JOIN lm ON d.doc_id = lm.doc_id
        | WHERE q.quality >= 0.59 AND lm.mean_bf >= 30.0),
        |ch AS (SELECT doc_id, lang, quality, tok,
        | unnest(range(greatest(CAST(ceil((len(tok)-8)/24.0) AS INT), 1))) AS chunk_id FROM s)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        | array_to_string(list_slice(tok, chunk_id*24+1, chunk_id*24+32), ' ') AS chunk_text,
        | CAST(len(list_slice(tok, chunk_id*24+1, chunk_id*24+32)) AS BIGINT) AS n_tokens,
        | lang, quality
        |FROM ch WHERE len(list_slice(tok, chunk_id*24+1, chunk_id*24+32)) > 0
        |ORDER BY doc_id, chunk_id""".stripMargin)),
    Query("pipeline_quality_mix", (s, d) => TrainingPrep.qualityMix(Tables.documents(s, d)),
      Sql("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] AS bg
        |       FROM tok, UNNEST(range(len(w)-1)) AS u(i)),
        |hh AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(string_split(bg,''), c -> CAST(unicode(c) AS BIGINT))),
        |  (a,b) -> (a*31+b)%1000000007) AS h FROM bg),
        |f AS (SELECT h, count(*) AS bf FROM hh GROUP BY h),
        |lm AS (SELECT doc_id, CAST(SUM(bf) AS DOUBLE) / count(*) AS mean_bf
        |       FROM hh JOIN f USING (h) GROUP BY doc_id),
        |bounds AS (SELECT
        |  floor(quantile_cont(mean_bf, 0.25)*1e6 + 0.5)/1e6 AS b1,
        |  floor(quantile_cont(mean_bf, 0.5)*1e6 + 0.5)/1e6 AS b2,
        |  floor(quantile_cont(mean_bf, 0.75)*1e6 + 0.5)/1e6 AS b3 FROM lm),
        |bk AS (SELECT doc_id, mean_bf,
        |  CASE WHEN mean_bf <= b1 THEN 1 WHEN mean_bf <= b2 THEN 2
        |       WHEN mean_bf <= b3 THEN 3 ELSE 4 END AS bucket
        | FROM lm CROSS JOIN bounds)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        | floor(mean_bf*1e4 + 0.5)/1e4 AS mean_bf
        |FROM bk
        |WHERE (bucket = 1 AND doc_id % 10 < 2) OR (bucket = 2 AND doc_id % 10 < 5)
        |   OR (bucket = 3 AND doc_id % 10 < 8) OR bucket = 4
        |ORDER BY doc_id""".stripMargin)),
    Query("pipeline_pack_sequences", (s, d) => TrainingPrep.packSequences(Tables.documents(s, d)),
      Sql("""WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS tok FROM documents),
        |c AS (SELECT doc_id, lang, tok,
        |  unnest(range(greatest(CAST(ceil((len(tok)-8)/24.0) AS INT), 1))) AS chunk_id FROM t),
        |ch AS (SELECT doc_id, lang, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(list_slice(tok, chunk_id*24+1, chunk_id*24+32)) AS BIGINT) AS n_tokens
        | FROM c WHERE len(list_slice(tok, chunk_id*24+1, chunk_id*24+32)) > 0),
        |s AS (SELECT lang, doc_id, chunk_id, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, chunk_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM ch)
        |SELECT lang, doc_id, chunk_id, n_tokens,
        | CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id
        |FROM s ORDER BY lang, doc_id, chunk_id""".stripMargin)),
    Query("join_asof_forward", (s, d) => Joins.asOfForward(Tables.orders(s, d), Tables.events(s, d)),
      Sql("""WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-03-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'),
        |j AS (SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, e.event_id, e.ts,
        |  row_number() OVER (PARTITION BY o.o_orderkey ORDER BY e.ts ASC, e.event_id ASC) AS rn
        | FROM o LEFT JOIN events e ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
        |SELECT o_orderkey, o_custkey, o_orderdate, event_id,
        | date_trunc('second', ts) AS ts_s
        |FROM j WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)),
    Query("win_time_range_frame", (s, d) => Windows.timeRangeFrame(Tables.events(s, d)),
      Sql("""SELECT user_id, event_id, ts_s,
        | count(*) OVER w AS n_2h,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / (count(*) OVER w) AS avg_2h
        |FROM (SELECT user_id, event_id, epoch_us(ts)//1000000 AS ts_s, value FROM events) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
        |  RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin)),
    // minutes since the user's last purchase STRICTLY BEFORE each event
    // (-1 sentinel before the first) — the churn-model recency
    // feature at event grain (r9)
    Query("win_recency", (s, d) => Windows.recencyFeature(Tables.events(s, d)),
      /* win_recency: unbounded-to-1-PRECEDING frame (an event never sees
       * itself); -1 sentinel keeps the feature column non-null BIGINT. */
      Sql("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |r AS (SELECT user_id, event_id, event_type, ts_us,
        |  MAX(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_marker_us
        | FROM e)
        |SELECT user_id, event_id, event_type, ts_us,
        |  CASE WHEN last_marker_us IS NULL THEN CAST(-1 AS BIGINT)
        |       ELSE (ts_us - last_marker_us) // 60000000 END AS mins_since_marker
        |FROM r ORDER BY user_id, ts_us, event_id""".stripMargin)),
    Query("win_funnel_steps", (s, d) => ops.Behavior.funnelSteps(Tables.events(s, d)),
      Sql("""WITH ev AS (
        | -- µs truncation: Spark's ts is µs; if the driver fixture ever
        | -- ships ns again, raw strictly-after compares would diverge
        | SELECT user_id, date_trunc('microseconds', ts) AS ts, event_type FROM events),
        |pe AS (
        | SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1
        | FROM ev),
        |pe2 AS (
        | SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |   OVER (PARTITION BY user_id) AS t2
        | FROM pe),
        |pe3 AS (
        | SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |   OVER (PARTITION BY user_id) AS t3
        | FROM pe2),
        |pu AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
        | FROM pe3 GROUP BY 1),
        |f AS (SELECT count(t1) AS u1, count(t2) AS u2, count(t3) AS u3 FROM pu)
        |SELECT 1 AS step, 'view' AS event_type, u1 AS users_reached,
        | CASE WHEN u1 = 0 THEN NULL
        |  ELSE floor(CAST(u1 AS DOUBLE) / CAST(u1 AS DOUBLE) * 1e4 + 0.5)/1e4 + 0.0 END AS conversion FROM f
        |UNION ALL SELECT 2, 'click', u2,
        | CASE WHEN u1 = 0 THEN NULL
        |  ELSE floor(CAST(u2 AS DOUBLE) / CAST(u1 AS DOUBLE) * 1e4 + 0.5)/1e4 + 0.0 END FROM f
        |UNION ALL SELECT 3, 'purchase', u3,
        | CASE WHEN u1 = 0 THEN NULL
        |  ELSE floor(CAST(u3 AS DOUBLE) / CAST(u1 AS DOUBLE) * 1e4 + 0.5)/1e4 + 0.0 END FROM f
        |ORDER BY step""".stripMargin)),
    // longest consecutive-active-day run per user — gaps-and-islands on
    // the distinct (user, day) frame, ties to the latest start (r8)
    Query("win_streak_days", (s, d) => ops.Behavior.activityStreaks(Tables.events(s, d)),
      /* win_streak_days: gaps-and-islands on the DISTINCT (user, day)
       * frame — day_number − row_number is island-constant; longest-streak
       * ties break to the LATEST start (rk orders len DESC, from_day
       * DESC, both engines). */
      Sql("""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (SELECT user_id, day,
        |  date_diff('day', DATE '1970-01-01', day) - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d),
        |i AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len, min(day) AS from_day
        | FROM g GROUP BY user_id, grp),
        |r AS (SELECT user_id, len, from_day,
        |  row_number() OVER (PARTITION BY user_id ORDER BY len DESC, from_day DESC) AS rk FROM i)
        |SELECT user_id,
        | max(CASE WHEN rk = 1 THEN len END) AS streak_days,
        | max(CASE WHEN rk = 1 THEN from_day END) AS streak_start,
        | CAST(count(*) AS BIGINT) AS n_streaks,
        | CAST(SUM(len) AS BIGINT) AS active_days
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // last-touch attribution: purchases credited to the most recent
    // prior view/click within 7 days, else direct — two ignoreNulls
    // last() frames on one user_id exchange, lag in exact µs (r8)
    Query("win_attribution", (s, d) => ops.Behavior.lastTouchAttribution(Tables.events(s, d)),
      /* win_attribution: two IGNORE NULLS last_value frames over the
         user-ordered stream (ts, event_id is the unique total order);
         the lookback compare is exact µs timestamps, the value total is
         the streaming windows' decimal(18,2) pattern, lag in integer µs
         via epoch_us/unix_micros — no floats anywhere but the final
         value cast. */
      Sql("""WITH a AS (SELECT *,
        | LAST_VALUE(CASE WHEN event_type IN ('view','click') THEN ts END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ts,
        | LAST_VALUE(CASE WHEN event_type IN ('view','click') THEN event_type END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type
        |FROM events),
        |p AS (SELECT
        |  CASE WHEN lt_ts >= ts - INTERVAL 7 DAY THEN lt_type ELSE 'direct' END AS channel,
        |  value,
        |  CASE WHEN lt_ts >= ts - INTERVAL 7 DAY THEN epoch_us(ts) - epoch_us(lt_ts) END AS lag_us
        | FROM a WHERE event_type = 'purchase')
        |SELECT channel, CAST(count(*) AS BIGINT) AS conversions,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        | CAST(SUM(lag_us) AS BIGINT) AS total_lag_us
        |FROM p GROUP BY 1 ORDER BY channel""".stripMargin)),
    // windowFunnel semantics: steps must complete inside a 24h window
    // anchored at the user's first view — three chained conditional
    // window mins on one user exchange, exact µs bounds (r8)
    Query("win_funnel_windowed", (s, d) => ops.Behavior.funnelWindowed(Tables.events(s, d)),
      /* win_funnel_windowed: the chained conditional window mins with
         the t1-anchored deadline, all in exact integer µs. */
      Sql("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
        |  OVER (PARTITION BY user_id) AS t1 FROM e),
        |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us > t1
        |   AND us <= t1 + 86400000000 THEN us END)
        |  OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us > t2
        |   AND us <= t1 + 86400000000 THEN us END)
        |  OVER (PARTITION BY user_id) AS t3 FROM w2),
        |g AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
        | FROM w3 GROUP BY 1)
        |SELECT user_id,
        | CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |      WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS level,
        | t1 AS entry_us
        |FROM g ORDER BY user_id""".stripMargin)),
    // classifier-eval confusion matrix over the shared langid CTEs:
    // off-diagonal mass IS the mis-filtered data (r8)
    Query("dq_langid_confusion", (s, d) => TextAnalysis.langidConfusion(Tables.documents(s, d)),
      /* dq_langid_confusion: the classifier-eval rollup over the shared
         langid CTEs — per (declared, predicted) cell count plus the
         row-share within the declared class (one rounded division). */
      Sql(s"""WITH $langidCtes
         |SELECT lang_declared, lang_pred, CAST(count(*) AS BIGINT) AS n,
         | CAST(SUM(count(*)) OVER (PARTITION BY lang_declared) AS BIGINT) AS n_declared,
         | floor(CAST(count(*) AS DOUBLE)
         |   / CAST(SUM(count(*)) OVER (PARTITION BY lang_declared) AS DOUBLE)*1e4 + 0.5)/1e4 AS share
         |FROM p GROUP BY lang_declared, lang_pred
         |ORDER BY lang_declared, lang_pred""".stripMargin)),
    // Gopher heuristic rule flags: every band compared in exact
    // cross-multiplied integers, per-doc attributable drops (r8)
    Query("text_gopher_flags", (s, d) => TextAnalysis.gopherFlags(Tables.documents(s, d)),
      /* text_gopher_flags: every band is an exact integer cross-multiply
         on both engines; mean_wlen is display-only. */
      Sql("""WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS tok FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(tok) AS BIGINT) AS n_words,
        |  CAST(COALESCE(list_sum(list_transform(tok, w -> CAST(length(w) AS BIGINT))), 0) AS BIGINT) AS sum_len,
        |  CAST(len(list_filter(tok, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
        |  CAST(len(list_intersect(list_distinct(tok),
        |    ['the','a','of','is'])) AS BIGINT) AS n_stop
        | FROM t)
        |SELECT doc_id, n_words,
        | floor(CAST(sum_len AS DOUBLE)/CAST(n_words AS DOUBLE)*1e4 + 0.5)/1e4 AS mean_wlen,
        | CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS ok_count,
        | CAST(sum_len >= n_words*3 AND sum_len <= n_words*10 AS INT) AS ok_wlen,
        | CAST(n_alpha*5 >= n_words*4 AS INT) AS ok_alpha,
        | CAST(n_stop >= 2 AS INT) AS ok_stop,
        | CAST(n_words >= 50 AND n_words <= 100000 AND sum_len >= n_words*3
        |   AND sum_len <= n_words*10 AND n_alpha*5 >= n_words*4 AND n_stop >= 2 AS INT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin)),
    // rules-as-data audit (the Deequ shape): rule table broadcast onto
    // one unpivoted scan, |rules|-group exchange (r8)
    Query("dq_rules_audit", (s, d) => DataQuality.rulesAudit(Tables.lineitem(s, d)),
      /* dq_rules_audit: UNION-ALL unpivot + VALUES rule table. */
      Sql("""WITH a AS (
        | SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        | UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
        | UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
        | UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem),
        |r AS (SELECT col_name, op, CAST(bound AS DOUBLE) AS bound FROM (VALUES
        | ('l_quantity','min',5.0), ('l_quantity','max',50.0),
        | ('l_discount','max',0.08), ('l_tax','min',0.0),
        | ('l_extendedprice','min',1000.0)) t(col_name, op, bound))
        |SELECT a.col_name, op, bound,
        | CAST(count(*) AS BIGINT) AS n_checked,
        | CAST(SUM(CASE WHEN (op = 'min' AND v < bound) OR (op = 'max' AND v > bound)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        | CAST(SUM(CASE WHEN (op = 'min' AND v < bound) OR (op = 'max' AND v > bound)
        |   THEN 1 ELSE 0 END) = 0 AS INT) AS pass
        |FROM a JOIN r USING (col_name)
        |GROUP BY 1, 2, 3 ORDER BY col_name, op""".stripMargin)),
    Query("agg_retention_cohort", (s, d) => ops.Behavior.retentionCohort(Tables.events(s, d)),
      Sql("""WITH c AS (
        | SELECT user_id,
        |  CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS DATE) AS cohort_week,
        |  CAST(date_trunc('week', ts) AS DATE) AS week
        | FROM events),
        |m AS (
        | SELECT cohort_week,
        |  CAST(floor(date_diff('day', cohort_week, week) / 7) AS BIGINT) AS weeks_since,
        |  count(DISTINCT user_id) AS active_users
        | FROM c GROUP BY 1, 2),
        |b AS (SELECT cohort_week AS b_week, active_users AS cohort_size
        | FROM m WHERE weeks_since = 0)
        |SELECT cohort_week, weeks_since, active_users, cohort_size,
        | floor(CAST(active_users AS DOUBLE) / CAST(cohort_size AS DOUBLE) * 1e4 + 0.5)/1e4 + 0.0 AS retention
        |FROM m JOIN b ON cohort_week = b_week
        |ORDER BY cohort_week ASC, weeks_since ASC NULLS FIRST""".stripMargin)),
    Query("scan_csv_malformed", (s, d) => Scans.scanCsvMalformed(s, Tables.nation(s, d), d),
      // the corrupt-record TAXONOMY is engine-specific (DuckDB has no
      // PERMISSIVE _corrupt_record), but the per-class COUNTS are not:
      // Spark quarantines all 3 injected garbage lines (unparsable key,
      // too-few columns, too-many columns) as corrupt and parses every
      // nation line good — frozen here as a literal so a classification
      // regression (e.g. short rows silently null-padding) turns a
      // formerly rows-only check red
      Sql("""SELECT class, n FROM (
        | SELECT 'corrupt' AS class, CAST(3 AS BIGINT) AS n
        | UNION ALL
        | SELECT 'good', (SELECT count(*) FROM nation)) t
        |ORDER BY class""".stripMargin)),
    // PERMISSIVE JSONL triage: truncated / type-mismatch → corrupt,
    // missing field → null_padded (NOT corrupt) (r8)
    Query("scan_jsonl_malformed", (s, d) => Scans.scanJsonlMalformed(s, Tables.nation(s, d), d),
      /* scan_jsonl_malformed: the fixture law — 2 corrupt (truncated,
         type-mismatch), 1 null_padded (missing field parses clean),
         every nation row good. */
      Sql("""SELECT class, n FROM (
        | SELECT 'corrupt' AS class, CAST(2 AS BIGINT) AS n
        | UNION ALL
        | SELECT 'good', (SELECT count(*) FROM nation)
        | UNION ALL
        | SELECT 'null_padded', CAST(1 AS BIGINT)) t
        |ORDER BY class""".stripMargin)),
    // error-safe arithmetic: try_divide/try_cast/try_add turn the
    // row-level ANSI error into NULL instead of killing the job (r8)
    Query("fn_try_arith", (s, d) => ScalarFns.tryArith(Tables.events(s, d)),
      /* fn_try_arith: DuckDB has TRY_CAST but no try_divide/try_add —
         the mirror encodes the SEMANTICS (NULLIF guard, overflow CASE
         with the addition only on the non-overflowing branch). */
      Sql(s"""SELECT event_id,
         | value / NULLIF(CAST(event_id % 5 AS DOUBLE), 0.0) AS td,
         | TRY_CAST(CAST(event_id % 100 AS VARCHAR)
         |   || (CASE WHEN event_id % 2 = 1 THEN 'x' ELSE '' END) AS BIGINT) AS tc,
         | CASE WHEN event_id % 2000 > 1000 THEN CAST(NULL AS BIGINT)
         |      ELSE CAST(${Long.MaxValue - 1000L} AS BIGINT) + (event_id % 2000) END AS ta
         |FROM events ORDER BY event_id""".stripMargin)),
    // Pareto audit: customers carrying 80% of revenue per segment,
    // exact 5·cum ≥ 4·total integer threshold (r8)
    Query("win_cumulative_share", (s, d) => Windows.cumulativeShare(
      Tables.orders(s, d), Tables.customer(s, d)),
      /* win_cumulative_share: integer-cents revenue, the 80% boundary as
         exact cross-multiplication, decile share one rounded division. */
      Sql("""WITH spend AS (SELECT o_custkey,
        |  CAST(SUM(CAST(CAST(o_totalprice*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |j AS (SELECT s.o_custkey, s.cents, c.c_mktsegment
        | FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
        |r AS (SELECT *,
        |  CAST(row_number() OVER w AS INT) AS rk,
        |  CAST(SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(SUM(cents) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS total,
        |  CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n
        | FROM j WINDOW w AS (PARTITION BY c_mktsegment ORDER BY cents DESC, o_custkey))
        |SELECT c_mktsegment, MIN(n) AS n_cust, MIN(total) AS total_cents,
        | CAST(MIN(CASE WHEN cum*5 >= total*4 THEN rk END) AS INT) AS n80,
        | floor(CAST(MAX(CASE WHEN rk = (n + 9) // 10 THEN cum END) AS DOUBLE)
        |   / CAST(MIN(total) AS DOUBLE) * 1e4 + 0.5)/1e4 AS share_top_decile
        |FROM r GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),
    // per-host link reciprocity: mutual-link spam signal, one
    // self-semi-join against the transposed edge list (r8)
    Query("graph_reciprocity", (s, d) => graft.ops.Graph.reciprocity(Tables.documents(s, d)),
      /* graph_reciprocity: edge list semi-joined against its transpose;
         deg-0 hosts keep a row with null recip/ratio. */
      Sql("""WITH e0 AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
        |e AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0) u),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY 1),
        |rc AS (SELECT a.src AS node, CAST(count(*) AS BIGINT) AS n_recip
        | FROM e a WHERE EXISTS (SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)
        | GROUP BY 1)
        |SELECT n.node, COALESCE(d.out_deg, 0) AS out_deg,
        | CASE WHEN d.out_deg IS NOT NULL THEN COALESCE(rc.n_recip, 0) END AS n_recip,
        | CASE WHEN d.out_deg IS NOT NULL THEN
        |   floor(CAST(COALESCE(rc.n_recip, 0) AS DOUBLE)/CAST(d.out_deg AS DOUBLE)*1e4 + 0.5)/1e4 END AS ratio
        |FROM nodes n LEFT JOIN deg d ON d.node = n.node LEFT JOIN rc ON rc.node = n.node
        |ORDER BY n.node""".stripMargin)),
    Query("dq_profile", (s, d) => DataQuality.profile(Tables.lineitem(s, d)),
      Sql("""WITH p AS (SELECT
        | count(l_quantity) AS qty_n, count(DISTINCT l_quantity) AS qty_d,
        |  CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS qty_min,
        |  CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS qty_max,
        | count(l_extendedprice) AS price_n, count(DISTINCT l_extendedprice) AS price_d,
        |  CAST(CAST(min(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS price_min,
        |  CAST(CAST(max(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS price_max,
        | count(l_returnflag) AS flag_n, count(DISTINCT l_returnflag) AS flag_d,
        |  min(l_returnflag) AS flag_min, max(l_returnflag) AS flag_max,
        | count(l_shipdate) AS ship_n, count(DISTINCT l_shipdate) AS ship_d,
        |  CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR) AS ship_min,
        |  CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR) AS ship_max
        | FROM lineitem)
        |SELECT 'l_extendedprice' AS "column", price_n AS n_nonnull, price_d AS n_distinct,
        | price_min AS min_s, price_max AS max_s FROM p
        |UNION ALL SELECT 'l_quantity', qty_n, qty_d, qty_min, qty_max FROM p
        |UNION ALL SELECT 'l_returnflag', flag_n, flag_d, flag_min, flag_max FROM p
        |UNION ALL SELECT 'l_shipdate', ship_n, ship_d, ship_min, ship_max FROM p
        |ORDER BY "column"""".stripMargin)),
    // Benford first-digit screen on the monetary column (integer-only
    // digit extraction — portable across engines)
    Query("dq_benford", (s, d) => DataQuality.benford(Tables.lineitem(s, d)),
      /* dq_benford: integer-only digit extraction (string length of the
       * floored value), shares and expectations 4dp-rounded; DuckDB
       * integer / integer is float division, matching Spark. */
      Sql("""WITH base AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v
        |  FROM lineitem WHERE l_extendedprice >= 1.0),
        |dd AS (SELECT v, v // CAST(pow(10, length(CAST(v AS VARCHAR)) - 1) AS BIGINT) AS d FROM base),
        |tot AS (SELECT COUNT(*) AS n_tot FROM dd),
        |g AS (SELECT d, COUNT(*) AS n FROM dd GROUP BY d)
        |SELECT d AS digit, n,
        |  round(n / n_tot, 4) + 0.0 AS share,
        |  round(log10(1.0 + 1.0 / d), 4) + 0.0 AS benford,
        |  round((round(n / n_tot, 4) + 0.0) - (round(log10(1.0 + 1.0 / d), 4) + 0.0), 4) + 0.0 AS dev
        |FROM g CROSS JOIN tot ORDER BY digit""".stripMargin)),
    Query("diff_scd2", (s, d) => {
      val c = Tables.customer(s, d)
      SnapshotDiff.scd2(Snapshots.oldSnapshot(c), Snapshots.newSnapshot(c))
    },
      Sql(s"""WITH oldt AS (${Snapshots.oldSql}), newt AS (${Snapshots.newSql}),
         |j AS (SELECT o.slno AS k, n.slno AS nk,
         |  o.name AS o_name, o.acctbal AS o_acctbal, o.segment AS o_segment,
         |  n.name AS n_name, n.acctbal AS n_acctbal, n.segment AS n_segment
         | FROM oldt o FULL OUTER JOIN newt n ON o.slno = n.slno),
         |v1 AS (SELECT k AS slno, CAST(1 AS BIGINT) AS version,
         |  o_name AS name, o_acctbal AS acctbal, o_segment AS segment,
         |  CAST(CASE WHEN nk IS NOT NULL
         |    AND o_name IS NOT DISTINCT FROM n_name
         |    AND o_acctbal IS NOT DISTINCT FROM n_acctbal
         |    AND o_segment IS NOT DISTINCT FROM n_segment THEN 1 ELSE 0 END AS INT) AS is_current
         | FROM j WHERE k IS NOT NULL),
         |v2 AS (SELECT nk AS slno,
         |  CAST(CASE WHEN k IS NULL THEN 1 ELSE 2 END AS BIGINT) AS version,
         |  n_name AS name, n_acctbal AS acctbal, n_segment AS segment,
         |  CAST(1 AS INT) AS is_current
         | FROM j WHERE nk IS NOT NULL AND NOT (k IS NOT NULL
         |    AND o_name IS NOT DISTINCT FROM n_name
         |    AND o_acctbal IS NOT DISTINCT FROM n_acctbal
         |    AND o_segment IS NOT DISTINCT FROM n_segment))
         |SELECT * FROM v1 UNION ALL SELECT * FROM v2 ORDER BY slno, version""".stripMargin)),
    // out-of-order changelog compaction: one max_by hash aggregate, no
    // window/sort — the immutable-store re-expression of the reference's
    // per-row DML replay (syncquill.py:78-107)
    Query("diff_cdc_apply", (s, d) => graft.sync.Cdc.cdcApply(Tables.orders(s, d)),
      /* diff_cdc_apply: the synthesized changelog (Cdc.changelog) and the
       * max_by compaction mirrored; NULL-price delete rows never surface
       * (surviving keys' arg-max row is always a non-delete). Price is
       * INTEGER CENTS on both sides — one double→decimal(18,0) rounding at
       * the source (the ts_* pattern, proven engine-stable), then pure
       * BIGINT arithmetic; no double→DECIMAL(18,2) boundary anywhere. */
      Sql("""WITH base AS (SELECT o_orderkey AS key,
        |  CAST(CAST(o_totalprice*100 AS DECIMAL(18,0)) AS BIGINT) AS cents,
        |  o_orderstatus AS status FROM orders),
        |log AS (
        | SELECT key, CAST(1 AS BIGINT) AS seq, 'I' AS op, cents AS price_cents, status FROM base
        | UNION ALL SELECT key, 2, 'U', cents + 10000, 'U' FROM base WHERE key % 5 = 0
        | UNION ALL SELECT key, 3, 'D', NULL, NULL FROM base WHERE key % 13 = 0
        | UNION ALL SELECT key, 4, 'U', cents + 750, 'L' FROM base WHERE key % 17 = 3),
        |c AS (SELECT key, max_by(op, seq) AS last_op,
        |   CAST(max_by(price_cents, seq) AS BIGINT) AS price_cents,
        |   max_by(status, seq) AS status, max(seq) AS last_seq, count(*) AS n_changes
        | FROM log GROUP BY key)
        |SELECT key, price_cents, status, last_seq, n_changes FROM c
        |WHERE last_op <> 'D' ORDER BY key""".stripMargin)),
    Query("dedup_cluster_stars", (s, d) => Dedup.nearDupClustersBanded(Corpus.docCorpus(Tables.documents(s, d))),
      // connected components over the banded MinHash candidates, checked
      // against the recursive-CTE transitive closure of the same pairs
      Sql(s"""WITH RECURSIVE $minhashCtes,
         |edges AS (SELECT a_id AS src, b_id AS dst FROM cand
         |          UNION ALL SELECT b_id, a_id FROM cand),
         |nodes AS (SELECT DISTINCT doc_id FROM corpus),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)),
    // index = original docs (<100000), delta = the injected copies — the
    // incoming batch is exactly the documents that SHOULD be rejected,
    // except near-dups the LSH bands miss
    // PERSISTED path: the band index is a bucketed warehouse table
    // (built on first call per epoch, resolved thereafter) — the daily-
    // delta probe joins it exchange-free on the index side (PlanAuditSpec)
    // nightly-batch verdict frame: exact/near/quality screens composed
    // over the SAME stored band index dedup_delta_index serves (r8)
    Query("pipeline_delta_intake", (s, d) => TrainingPrep.deltaIntake(s, Tables.documents(s, d)),
      /* pipeline_delta_intake: the composed verdict mirrored from the
         shared minhash CTEs (near screen), a digest self-join (exact
         screen) and the text_quality formula — first-match CASE order
         is the contract: exact beats near beats quality. */
      Sql(s"""WITH $minhashCtes,
         |exact_d AS (SELECT DISTINCT d.doc_id FROM corpus d
         |  JOIN corpus b ON b.doc_id < 100000 AND md5(d.text) = md5(b.text)
         |  WHERE d.doc_id >= 100000),
         |near_hit AS (SELECT DISTINCT b_id AS doc_id FROM cand
         |             WHERE a_id < 100000 AND b_id >= 100000),
         |qv AS (SELECT doc_id,
         |  floor((CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)/len(string_split(text,' '))*0.5
         |    + least(CAST(len(string_split(text,' ')) AS DOUBLE)/100.0, 1.0)*0.3
         |    + (1.0 - CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(string_split(text,' ')))*0.2)*1e4 + 0.5)/1e4 AS quality
         | FROM corpus WHERE doc_id >= 100000)
         |SELECT q.doc_id, q.quality,
         | CASE WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
         |      WHEN n.doc_id IS NOT NULL THEN 'dup_near'
         |      WHEN q.quality < 0.59 THEN 'low_quality'
         |      ELSE 'keep' END AS verdict
         |FROM qv q LEFT JOIN exact_d e ON e.doc_id = q.doc_id
         |LEFT JOIN near_hit n ON n.doc_id = q.doc_id
         |ORDER BY q.doc_id""".stripMargin)),
    // packing-planner histogram: 16-token buckets, exact naive-padding
    // waste at seq 512, running token share on the tiny frame (r8)
    Query("pipeline_length_histogram", (s, d) => TrainingPrep.lengthHistogram(Tables.documents(s, d)),
      // delta-vs-index incremental dedup: the shared hash-family CTEs
      // compute bands for ALL corpus docs; index×delta candidates are the
      // cand rows crossing the 100000 id split (index ids < 100000 ≤ delta
      // ids, so a_id<b_id already orients them)
      /* pipeline_length_histogram: integer bucket/waste arithmetic, one
         rounded division for the running share; the single-partition
         window runs on the ≤ maxlen/16-row bucket frame. */
      Sql("""WITH d AS (SELECT CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT) AS len FROM documents),
        |p AS (SELECT len, len // 16 AS bucket,
        |  ((len + 511) // 512) * 512 - len AS waste FROM d),
        |b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len) AS BIGINT) AS n_tokens, CAST(SUM(waste) AS BIGINT) AS pad_waste
        | FROM p GROUP BY 1),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY bucket
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(SUM(n_tokens) OVER () AS BIGINT) AS total FROM b)
        |SELECT bucket, n_docs, n_tokens, pad_waste,
        | floor(CAST(cum AS DOUBLE)/CAST(total AS DOUBLE)*1e4 + 0.5)/1e4 AS cum_share
        |FROM c ORDER BY bucket""".stripMargin)),
    Query("dedup_delta_index", (s, d) => {
      val corpus = Corpus.docCorpus(Tables.documents(s, d))
      Dedup.incrementalDedupPersisted(s,
        corpus.filter(col("doc_id") < 100000),
        corpus.filter(col("doc_id") >= 100000))
    },
      Sql(s"""WITH $minhashCtes,
         |dropped AS (SELECT DISTINCT b_id AS doc_id FROM cand
         |            WHERE a_id < 100000 AND b_id >= 100000),
         |delta AS (SELECT doc_id, n_chars FROM corpus WHERE doc_id >= 100000)
         |SELECT d.doc_id, d.n_chars FROM delta d
         |LEFT JOIN dropped x ON d.doc_id = x.doc_id
         |WHERE x.doc_id IS NULL ORDER BY d.doc_id""".stripMargin)),
    Query("join_incremental", (s, d) => {
      val c = Tables.customer(s, d)
      val old = Snapshots.oldSnapshot(c)
      val neu = Snapshots.newSnapshot(c)
      val dim = graft.sync.IncrementalJoin.segmentDim(c)
      graft.sync.IncrementalJoin.applyToJoin(
        graft.sync.IncrementalJoin.joinView(old, dim),
        SnapshotDiff.diffKeyed(old, neu, "slno"), old, dim).orderBy("slno")
    },
      Sql(s"""WITH newt AS (${Snapshots.newSql}),
         |dim AS (SELECT DISTINCT c_mktsegment AS segment,
         |  CAST(length(c_mktsegment) AS BIGINT) AS seg_len FROM customer)
         |SELECT slno, name, acctbal, n.segment, seg_len
         |FROM newt n JOIN dim d ON n.segment = d.segment
         |ORDER BY slno""".stripMargin)),
    // index/batch split mirrors dedup_delta_index: this is the EXACT
    // incremental twin (Bloom prefilter) of that NEAR-dup (LSH) form
    // PERSISTED path: the Bloom bytes are an epoch file artifact under
    // the warehouse dir — built once, reloaded by every later batch
    Query("dedup_bloom_prefilter", (s, d) => {
      val corpus = Corpus.docCorpus(Tables.documents(s, d))
      Dedup.bloomPrefilterDedupPersisted(s,
        corpus.filter(col("doc_id") < 100000),
        corpus.filter(col("doc_id") >= 100000))
    },
      // the Bloom prefilter is EXACT whatever the filter size (no false
      // negatives; hits are anti-join-confirmed), so the oracle is the
      // plain digest anti-join the operator must equal
      Sql(s"""WITH corpus AS (${Corpus.docCorpusSql}),
         |idx AS (SELECT md5(text) AS d FROM corpus WHERE doc_id < 100000),
         |b AS (SELECT doc_id, n_chars, md5(text) AS d FROM corpus WHERE doc_id >= 100000)
         |SELECT doc_id, n_chars FROM b
         |WHERE d NOT IN (SELECT d FROM idx) ORDER BY doc_id""".stripMargin)),
    Query("pipeline_domain_cap", (s, d) => TrainingPrep.domainCap(Tables.documents(s, d)),
      Sql("""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS tok FROM documents),
        |q AS (SELECT doc_id, source,
        | floor((CAST(len(list_distinct(tok)) AS DOUBLE)/len(tok)*0.5
        |  + least(CAST(len(tok) AS DOUBLE)/100.0, 1.0)*0.3
        |  + (1.0 - CAST(len(list_filter(tok, x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(tok))*0.2)*1e4 + 0.5)/1e4 AS quality
        | FROM t),
        |r AS (SELECT doc_id, source, quality,
        | row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rk FROM q)
        |SELECT doc_id, source, quality, rk FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin)),
    // mT5-style temperature sampling weights per language (alpha = 0.3)
    Query("pipeline_lang_temperature", (s, d) => TrainingPrep.langTemperature(Tables.documents(s, d)),
      /* pipeline_lang_temperature: p^alpha rounds ONCE into integer 1e-8
       * units (pow is libm-wobbly); the normalization divides exact
       * integers, outputs 4dp-floored. */
      Sql("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT c.*, (SELECT CAST(sum(n) AS BIGINT) FROM c) AS nn FROM c),
        |a AS (SELECT *, CAST(floor(pow(n * 1.0 / nn, 0.3) * 1e8 + 0.5) AS BIGINT) AS a_units FROM t),
        |s AS (SELECT a.*, (SELECT CAST(sum(a_units) AS BIGINT) FROM a) AS a_tot FROM a)
        |SELECT lang, n AS n_docs,
        | floor(n * 10000.0 / nn + 0.5) / 10000.0 + 0.0 AS share,
        | floor(a_units * 10000.0 / a_tot + 0.5) / 10000.0 + 0.0 AS weight,
        | floor(a_units * 1.0 / a_tot * nn / n * 10000.0 + 0.5) / 10000.0 + 0.0 AS boost
        |FROM s ORDER BY lang""".stripMargin)),
    // stride-scheduled mixture reading order: any prefix holds each lang
    // to its weight within one stride; all-integer virtual time (r9)
    Query("pipeline_interleave_mixture", (s, d) => TrainingPrep.interleaveMixture(Tables.documents(s, d)),
      /* pipeline_interleave_mixture: virtual time = rn · (2520 // weight),
       * all integers; the order is a sort key, never a global rank. */
      Sql("""WITH r AS (SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, rn,
        |  rn * (CASE lang WHEN 'en' THEN 504 WHEN 'zh' THEN 1260
        |        WHEN 'de' THEN 2520 WHEN 'es' THEN 2520 WHEN 'fr' THEN 2520
        |        ELSE 2520 END) AS vt
        |FROM r ORDER BY vt, lang ASC NULLS LAST, doc_id""".stripMargin)),
    // shard balance audit over the SAME md5 assignment shuffle_shard
    // writes — fidelity (manifest) vs balance (this) (r9)
    Query("pipeline_shard_skew", (s, d) => TrainingPrep.shardSkew(Tables.documents(s, d)),
      /* pipeline_shard_skew: the shuffle_shard md5 assignment verbatim;
       * shares through the rfloor mirror (division first, then ·1e4). */
      Sql("""WITH s AS (SELECT substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  len(string_split(text,' ')) AS toks FROM documents),
        |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens FROM s GROUP BY shard),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tt FROM g)
        |SELECT shard, n_docs, n_tokens,
        |  floor(n_docs*1.0/td*10000.0+0.5)/10000.0 + 0.0 AS doc_share,
        |  floor(n_tokens*1.0/tt*10000.0+0.5)/10000.0 + 0.0 AS token_share
        |FROM g CROSS JOIN t ORDER BY shard""".stripMargin)),
    Query("pipeline_split_hash", (s, d) => TrainingPrep.splitAssign(Tables.documents(s, d)),
      Sql("""SELECT doc_id,
        | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'c' THEN 'train'
        |      WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'e' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // leakage-safe split at the GROUP grain: md5(source) so same-site
    // near-dup siblings can never straddle train/eval; doc-level
    // column rides along for the straddle audit (r8)
    Query("pipeline_split_group", (s, d) => TrainingPrep.splitAssignGrouped(Tables.documents(s, d)),
      /* pipeline_split_group: the same md5 first-hex-digit law applied to
         the group key; doc_split rides along for the straddle audit. */
      Sql("""SELECT doc_id, source,
        | CASE WHEN substr(md5(source),1,1) < 'c' THEN 'train'
        |      WHEN substr(md5(source),1,1) < 'e' THEN 'val'
        |      ELSE 'test' END AS split,
        | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'c' THEN 'train'
        |      WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'e' THEN 'val'
        |      ELSE 'test' END AS doc_split
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_boilerplate", (s, d) => TextAnalysis.boilerplateScrub(Tables.documents(s, d)),
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |chunks AS (
        | SELECT doc_id, j AS cpos, array_to_string(w[j*8+1 : j*8+8], ' ') AS chunk
        | FROM toks, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS u(j)),
        |nz AS (SELECT * FROM chunks WHERE length(chunk) > 0),
        |inst AS (SELECT doc_id, cpos, chunk, md5(chunk) AS dg FROM nz),
        |boiler AS (SELECT dg FROM (
        |  SELECT dg, count(DISTINCT doc_id) AS df FROM inst GROUP BY dg) WHERE df >= 3),
        |kept AS (SELECT i.* FROM inst i LEFT JOIN boiler b ON i.dg = b.dg WHERE b.dg IS NULL),
        |cl AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(chunk, ' ' ORDER BY cpos) AS text_clean FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_total FROM inst GROUP BY doc_id)
        |SELECT t.doc_id, t.n_total, COALESCE(c.n_kept, 0) AS n_kept,
        | COALESCE(c.text_clean, '') AS text_clean
        |FROM tot t LEFT JOIN cl c ON t.doc_id = c.doc_id
        |ORDER BY t.doc_id""".stripMargin)),
    Query("pipeline_curation", (s, d) => TrainingPrep.curate(Tables.documents(s, d)),
      // curation capstone: the boilerplate CTE chain feeding the quality
      // gate (over CLEANED text), the per-domain cap, and the split CASE
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |chunks AS (
        | SELECT doc_id, j AS cpos, array_to_string(w[j*8+1 : j*8+8], ' ') AS chunk
        | FROM toks, UNNEST(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS u(j)),
        |nz AS (SELECT * FROM chunks WHERE length(chunk) > 0),
        |inst AS (SELECT doc_id, cpos, chunk, md5(chunk) AS dg FROM nz),
        |boiler AS (SELECT dg FROM (
        |  SELECT dg, count(DISTINCT doc_id) AS df FROM inst GROUP BY dg) WHERE df >= 3),
        |kept AS (SELECT i.* FROM inst i LEFT JOIN boiler b ON i.dg = b.dg WHERE b.dg IS NULL),
        |cl AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cpos) AS text_clean,
        |  count(*) AS n_kept FROM kept GROUP BY doc_id),
        |sc AS (SELECT d.doc_id, d.source, CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept,
        |  string_split(COALESCE(c.text_clean, ''), ' ') AS tok
        | FROM documents d LEFT JOIN cl c ON d.doc_id = c.doc_id),
        |q AS (SELECT doc_id, source, n_kept,
        | floor((CAST(len(list_distinct(tok)) AS DOUBLE)/len(tok)*0.5
        |  + least(CAST(len(tok) AS DOUBLE)/100.0, 1.0)*0.3
        |  + (1.0 - CAST(len(list_filter(tok, x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(tok))*0.2)*1e4 + 0.5)/1e4 AS quality
        | FROM sc),
        |r AS (SELECT doc_id, source, quality, n_kept,
        | row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rk
        | FROM q WHERE quality >= 0.59)
        |SELECT doc_id, source, quality, rk, n_kept,
        | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'c' THEN 'train'
        |      WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'e' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM r WHERE rk <= 10 ORDER BY source, rk""".stripMargin)),
    // per-source corpus nutrition label: docs / token mass / dup rate /
    // dominant lang / mean quality in one pass + digest-distinct rollup
    Query("pipeline_dataset_card", (s, d) => TrainingPrep.datasetCard(Tables.documents(s, d)),
      /* pipeline_dataset_card: per-source nutrition label. Quality is
       * accumulated in exact integer 1e-4 units (the text_quality formula
       * times 1e4, floored once per doc) and divided ONCE — mean_quality =
       * floor(q_sum/n_docs + 0.5)/1e4 on BOTH sides, so no double
       * re-rounding chain diverges; every integer aggregate CAST BIGINT
       * (the round-6 HUGEINT lesson); dominant-lang tie-break is
       * (n DESC, lang ASC NULLS LAST), the engine-pinned null order.
       * NULL-text parity (found in r7): digest and word count run
       * over COALESCE(text, '') — a null doc and an empty doc are the
       * same zero-content document, mirroring the Spark side — while the
       * quality units use RAW text (qualityMilliCol(col("text")) yields
       * NULL on null text; SUM skips it identically on both engines). */
      Sql("""WITH t AS (SELECT source, lang,
        |  md5(COALESCE(text, '')) AS digest,
        |  string_split(COALESCE(text, ''), ' ') AS tokc,
        |  string_split(text, ' ') AS tok
        | FROM documents),
        |p AS (SELECT source, digest,
        |  CAST(len(tokc) AS BIGINT) AS n_words,
        |  CAST(floor((CAST(len(list_distinct(tok)) AS DOUBLE)/len(tok)*0.5
        |    + least(CAST(len(tok) AS DOUBLE)/100.0, 1.0)*0.3
        |    + (1.0 - CAST(len(list_filter(tok, x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(tok))*0.2)*1e4 + 0.5) AS BIGINT) AS q_units
        | FROM t),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct,
        |  CAST(SUM(q_units) AS BIGINT) AS q_sum
        | FROM p GROUP BY source),
        |l AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source, lang),
        |tl AS (SELECT source, lang AS top_lang, n AS top_n,
        |  row_number() OVER (PARTITION BY source ORDER BY n DESC, lang ASC NULLS LAST) AS rk FROM l)
        |SELECT a.source AS source, n_docs, total_words,
        | floor(CAST(n_docs - n_distinct AS DOUBLE)/n_docs*1e4 + 0.5)/1e4 AS dup_rate,
        | top_lang,
        | floor(CAST(top_n AS DOUBLE)/n_docs*1e4 + 0.5)/1e4 AS top_lang_share,
        | floor(CAST(q_sum AS DOUBLE)/n_docs + 0.5)/1e4 AS mean_quality
        |FROM a JOIN tl ON a.source = tl.source AND tl.rk = 1
        |ORDER BY a.source""".stripMargin)),
    // the production ORDERING shipped as one operator: exact dedup, then
    // prefix-containment over the survivors (ARCHITECTURE "Cross-tier rules")
    Query("pipeline_dedup_ordered", (s, d) => Dedup.orderedDedup(Corpus.docCorpus(Tables.documents(s, d))),
      Sql(orderedDedupOracleSql)),
    // seeded deterministic global shuffle + 16-way sharding (the
    // trainer-ingestion ordering pass)
    Query("pipeline_shuffle_shard", (s, d) => TrainingPrep.shuffleShard(Tables.documents(s, d)),
      Sql("""SELECT doc_id,
        |  md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin)),
    // write the shard files for real, read them back, manifest with an
    // order-free content fingerprint — the delivery-fidelity gate (r8)
    Query("pipeline_shard_manifest", (s, d) => TrainingPrep.shardManifest(s, Tables.documents(s, d), tag = d),
      /* pipeline_shard_manifest: the manifest recomputed from the SOURCE
         rows — matching the Spark side's read-back-from-written-files
         manifest proves delivery fidelity end to end. content_fp is the
         per-doc fp summed exactly (DuckDB HUGEINT promotion), reduced
         mod 2^62 and emitted as plain BIGINT on both sides (r11 — no
         decimal reaches the compared schema). */
      Sql("""WITH d AS (SELECT substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  COALESCE(text, '') AS text FROM documents),
        |t AS (SELECT shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a*31+b) % 1000000007) AS BIGINT) AS fp
        | FROM d)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        | CAST(SUM(fp) % CAST(4611686018427387904 AS HUGEINT) AS BIGINT) AS content_fp
        |FROM t GROUP BY 1 ORDER BY shard""".stripMargin)),
    // link-graph centrality in fixed-point integer arithmetic — the
    // iterative-algorithm tier's oracle-checkable representative
    Query("graph_pagerank", (s, d) => graft.ops.Graph.pagerank(Tables.documents(s, d)),
      Sql(pagerankOracleSql)),
    // deterministic LPA communities: 3 synchronous rounds, mode-of-
    // neighbor labels, ties to the smallest label (oracle: unrolled CTEs)
    Query("graph_label_propagation", (s, d) => graft.ops.Graph.labelPropagation(Tables.documents(s, d)),
      Sql(lpaOracleSql)),
    // single-source BFS hop counts over the link graph: broadcast
    // frontier rounds, node-bounded state, min-level by anti-join (r8)
    Query("graph_bfs_levels", (s, d) => graft.ops.Graph.bfsLevels(Tables.documents(s, d)),
      /* graph_bfs_levels: recursive-CTE BFS with UNION dedup and a depth
       * cap; MIN(level) per node IS the hop count — the declarative twin
       * of the engine's frontier/anti-join rounds. */
      Sql("""WITH RECURSIVE edges AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
        |bfs(node, level) AS (
        | SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS level
        | UNION
        | SELECT e.dst, b.level + 1 FROM bfs b JOIN edges e ON e.src = b.node WHERE b.level < 4)
        |SELECT node, CAST(MIN(level) AS BIGINT) AS level FROM bfs GROUP BY node ORDER BY node""".stripMargin)),
    // k-core by iterative peeling: link-farm density screen; edges never
    // shuffle, membership broadcasts and only shrinks (r8)
    Query("graph_kcore", (s, d) => graft.ops.Graph.kcore(Tables.documents(s, d)),
      /* graph_kcore: six unrolled peeling rounds over the HALF-corpus
         link graph — recompute within-survivor degree, drop nodes under
         k=2, repeat; the spec pins that one more round changes nothing
         at this graph, so the bounded unroll IS the k-core. m0 = und
         endpoints (a self-loop-only node has no und rows and cannot
         affect any degree). */
      Sql("""WITH e0 AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents WHERE doc_id % 2 = 0),
        |und AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e0 WHERE src <> dst
        |  UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
        |m0 AS (SELECT DISTINCT src AS node FROM und),
        |d1 AS (SELECT u.src AS node, count(*) AS dg FROM und u
        |  JOIN m0 a ON u.src = a.node JOIN m0 b ON u.dst = b.node GROUP BY 1),
        |m1 AS (SELECT node FROM d1 WHERE dg >= 2),
        |d2 AS (SELECT u.src AS node, count(*) AS dg FROM und u
        |  JOIN m1 a ON u.src = a.node JOIN m1 b ON u.dst = b.node GROUP BY 1),
        |m2 AS (SELECT node FROM d2 WHERE dg >= 2),
        |d3 AS (SELECT u.src AS node, count(*) AS dg FROM und u
        |  JOIN m2 a ON u.src = a.node JOIN m2 b ON u.dst = b.node GROUP BY 1),
        |m3 AS (SELECT node FROM d3 WHERE dg >= 2),
        |d4 AS (SELECT u.src AS node, count(*) AS dg FROM und u
        |  JOIN m3 a ON u.src = a.node JOIN m3 b ON u.dst = b.node GROUP BY 1),
        |m4 AS (SELECT node FROM d4 WHERE dg >= 2),
        |d5 AS (SELECT u.src AS node, count(*) AS dg FROM und u
        |  JOIN m4 a ON u.src = a.node JOIN m4 b ON u.dst = b.node GROUP BY 1),
        |m5 AS (SELECT node FROM d5 WHERE dg >= 2),
        |d6 AS (SELECT u.src AS node, count(*) AS dg FROM und u
        |  JOIN m5 a ON u.src = a.node JOIN m5 b ON u.dst = b.node GROUP BY 1),
        |m6 AS (SELECT node FROM d6 WHERE dg >= 2)
        |SELECT u.src AS node, CAST(count(*) AS BIGINT) AS core_deg FROM und u
        |  JOIN m6 a ON u.src = a.node JOIN m6 b ON u.dst = b.node
        |GROUP BY 1 ORDER BY node""".stripMargin)),
    // pagerank with dangling-mass redistribution over a graph that HAS
    // dangling hosts (dst residues escape the src set) — mass conserved
    // up to floor loss, GraphSpec pins the no-op law on clean graphs
    Query("graph_pagerank_dangling", (s, d) => graft.ops.Graph.pagerankDangling(Tables.documents(s, d)),
      Sql(pagerankDanglingOracleSql)),
    // personalized pagerank: teleport mass restricted to a seed set —
    // the TrustRank / crawl-frontier proximity ranking (r8)
    Query("graph_ppr", (s, d) => graft.ops.Graph.personalizedPagerank(Tables.documents(s, d)),
      Sql(pprOracleSql)),
    // Newman modularity of the LPA partition: per-community Q
    // contribution from an exact integer numerator (r8)
    Query("graph_modularity", (s, d) => graft.ops.Graph.modularity(Tables.documents(s, d)),
      Sql(modularityOracleSql)),
    // HITS hubs/authorities: same fixed-point integer discipline
    Query("graph_hits", (s, d) => graft.ops.Graph.hits(Tables.documents(s, d)),
      Sql(hitsOracleSql)),
    // the SoCC'14 star clustering over a second edge source — host-graph
    // components instead of near-dup pairs
    Query("graph_components", (s, d) => graft.ops.Graph.components(Tables.documents(s, d)),
      /* graph_components: min-label transitive closure as a recursive CTE
       * (the dedup_cluster oracle pattern over the host subgraph). The
       * label-strictly-decreases-per-hop guard terminates the recursion;
       * the component min always survives it, so MIN(label) per node is
       * the component id. Self-loops stay in `edges` (their endpoints
       * must enter the node universe) but `und` drops them — they
       * propagate nothing, matching the Spark side's a_id < b_id pairs. */
      Sql("""WITH RECURSIVE edges AS (
        |  SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst
        |  FROM documents WHERE doc_id % 7 = 0),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u),
        |und AS (SELECT src AS a, dst AS b FROM edges WHERE src <> dst
        |  UNION SELECT dst, src FROM edges WHERE src <> dst),
        |lbl AS (SELECT node, node AS label FROM nodes
        |  UNION SELECT u.a, l.label FROM und u JOIN lbl l ON l.node = u.b
        |  WHERE l.label < u.a)
        |SELECT node, MIN(label) AS component FROM lbl GROUP BY node ORDER BY node""".stripMargin)),
    // in/out-degree histogram over the full node set (degree-0 rows via
    // the node-set left join) — the crawl audit's first look
    Query("graph_degree_stats", (s, d) => graft.ops.Graph.degreeStats(Tables.documents(s, d)),
      /* graph_degree_stats: same edge-synthesis CTE as pagerank/hits; the
       * node-set left join puts degree-0 nodes in the histogram (none
       * exist on this graph — out-degrees are 2–3, in 1–4 — but the
       * shape is part of the contract). */
      Sql("""WITH edges AS (SELECT DISTINCT doc_id % 200 AS src,
        |  (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |outd AS (SELECT node, coalesce(d.deg, 0) AS deg FROM nodes
        |  LEFT JOIN (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src) d USING (node)),
        |ind AS (SELECT node, coalesce(d.deg, 0) AS deg FROM nodes
        |  LEFT JOIN (SELECT dst AS node, count(*) AS deg FROM edges GROUP BY dst) d USING (node))
        |SELECT 'out' AS direction, deg AS degree, count(*) AS n_nodes FROM outd GROUP BY deg
        |UNION ALL
        |SELECT 'in', deg, count(*) FROM ind GROUP BY deg
        |ORDER BY direction, degree""".stripMargin)),
    // --- time-series tier: day-grain spine / repair / scores ---
    // linear gap interpolation over a dense daily spine (deterministic
    // dropout fixture; integer-cents carrier, edge rows stay null)
    Query("ts_interpolate_linear", (s, d) => TimeSeries.interpolateLinear(Tables.events(s, d)),
      /* ts_* tier: shared daily CTE = exact integer cents per (type, day)
       * (the win_range_frame cents idiom). */
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n,
        |    SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |obs AS (SELECT * FROM daily WHERE day(day) % 4 = 0 OR day(day) % 4 = 3),
        |b AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
        |spine AS (SELECT event_type, CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN b),
        |j AS (SELECT s.event_type, s.day, o.cents FROM spine s
        |  LEFT JOIN obs o ON s.event_type = o.event_type AND s.day = o.day),
        |w AS (SELECT event_type, day, cents,
        |  last_value(cents IGNORE NULLS) OVER wp AS prev_cents,
        |  last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS prev_day,
        |  first_value(cents IGNORE NULLS) OVER wn AS next_cents,
        |  first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS next_day
        | FROM j WINDOW
        |  wp AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day,
        | CASE WHEN cents IS NOT NULL THEN 'obs'
        |   WHEN prev_cents IS NOT NULL AND next_cents IS NOT NULL THEN 'interp'
        |   ELSE 'edge' END AS src,
        | floor((CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
        |   WHEN prev_cents IS NOT NULL AND next_cents IS NOT NULL THEN
        |     CAST(prev_cents AS DOUBLE) + (CAST(next_cents AS DOUBLE) - CAST(prev_cents AS DOUBLE))
        |       * CAST(day - prev_day AS DOUBLE) / CAST(next_day - prev_day AS DOUBLE)
        |   END)/100*1e4 + 0.5)/1e4 AS value_filled
        |FROM w ORDER BY event_type, day""".stripMargin)),
    // trailing 7-day rolling z-score on exact integer window sums
    Query("ts_rolling_anomaly", (s, d) => TimeSeries.rollingAnomaly(Tables.events(s, d)),
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, cents,
        |  count(*) OVER ww AS n_win,
        |  CAST(SUM(cents) OVER ww AS DOUBLE) AS sx,
        |  CAST(SUM(cents*cents) OVER ww AS DOUBLE) AS sxx
        | FROM daily WINDOW ww AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |z AS (SELECT event_type, day, cents, n_win,
        |  sx / CAST(n_win AS DOUBLE) AS mean_c,
        |  CASE WHEN n_win > 1 THEN sqrt((sxx - sx*sx/CAST(n_win AS DOUBLE)) / (CAST(n_win AS DOUBLE) - 1.0)) END AS std_c
        | FROM w),
        |zz AS (SELECT event_type, day, cents, n_win, mean_c,
        |  CASE WHEN std_c > 0 THEN (CAST(cents AS DOUBLE) - mean_c)/std_c END AS zv
        | FROM z)
        |SELECT event_type, day, cents, n_win,
        | floor(mean_c/100*1e4 + 0.5)/1e4 AS mean_value,
        | floor(zv*1e4 + 0.5)/1e4 AS z,
        | CAST(zv IS NOT NULL AND abs(zv) > 2 AS BIGINT) AS is_anomaly
        |FROM zz ORDER BY event_type, day""".stripMargin)),
    // α=1/2 depth-8 truncated EMA: power-of-two weights → exact integers
    Query("ts_ema", (s, d) => TimeSeries.ema8(Tables.events(s, d)),
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, cents,
        |  lag(cents,1) OVER w AS c1, lag(cents,2) OVER w AS c2, lag(cents,3) OVER w AS c3,
        |  lag(cents,4) OVER w AS c4, lag(cents,5) OVER w AS c5, lag(cents,6) OVER w AS c6,
        |  lag(cents,7) OVER w AS c7
        | FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, day, cents,
        | floor(CAST(cents*128 + coalesce(c1,0)*64 + coalesce(c2,0)*32 + coalesce(c3,0)*16
        |   + coalesce(c4,0)*8 + coalesce(c5,0)*4 + coalesce(c6,0)*2 + coalesce(c7,0)*1 AS DOUBLE)
        |  / CAST(128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
        |   + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
        |   + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
        |   + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END AS DOUBLE) / 100 * 1e4 + 0.5)/1e4 AS ema
        |FROM l ORDER BY event_type, day""".stripMargin)),
    // SMA crossover (golden/death): sign via exact integer
    // cross-multiplication, never a float comparison (r9)
    Query("ts_sma_cross", (s, d) => TimeSeries.smaCross(Tables.events(s, d)),
      /* ts_sma_cross: the above/below state is sum_s·cnt_l vs sum_l·cnt_s
       * — exact integer cross-multiplication, no float predicate. */
      Sql("""WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |  CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day,
        |  CAST(SUM(cents) OVER ws AS BIGINT) AS sum_s, CAST(COUNT(*) OVER ws AS BIGINT) AS cnt_s,
        |  CAST(SUM(cents) OVER wl AS BIGINT) AS sum_l, CAST(COUNT(*) OVER wl AS BIGINT) AS cnt_l
        | FROM daily WINDOW
        |  ws AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |  wl AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)),
        |s AS (SELECT *, CASE WHEN sum_s * cnt_l > sum_l * cnt_s THEN 1 ELSE 0 END AS above,
        |  lag(CASE WHEN sum_s * cnt_l > sum_l * cnt_s THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY event_type ORDER BY day) AS prev_above FROM r)
        |SELECT event_type, day,
        |  CASE WHEN above = 1 THEN 'golden' ELSE 'death' END AS direction,
        |  sum_s * cnt_l - sum_l * cnt_s AS margin
        |FROM s WHERE prev_above IS NOT NULL AND above <> prev_above
        |ORDER BY event_type, day""".stripMargin)),
    // OHLC candles per (user, 30-min bucket): arg-min/arg-max open and
    // close via the min-struct draw, raw doubles pass through (r8)
    Query("ts_resample_ohlc", (s, d) => TimeSeries.resampleOhlc(Tables.events(s, d)),
      /* ts_resample_ohlc: open/close via row_number arg-min/arg-max over
       * the (ts, event_id) total order; high/low/open/close pass RAW
       * doubles — no accumulation, no rounding site. */
      Sql("""WITH e AS (SELECT user_id, ts, event_id, value,
        |  CAST(to_timestamp(CAST(floor(epoch(ts)/1800)*1800 AS BIGINT)) AS TIMESTAMP) AS bucket FROM events),
        |r AS (SELECT user_id, bucket, ts, event_id, value,
        |  row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts ASC, event_id ASC) AS ra,
        |  row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts DESC, event_id DESC) AS rz FROM e)
        |SELECT user_id, bucket,
        | max(CASE WHEN ra = 1 THEN value END) AS "open",
        | max(value) AS high, min(value) AS low,
        | max(CASE WHEN rz = 1 THEN value END) AS "close",
        | CAST(count(*) AS BIGINT) AS n
        |FROM r GROUP BY user_id, bucket ORDER BY user_id, bucket""".stripMargin)),
    // CUSUM level-shift changepoint: D_t = n·S_t − t·T exact integers,
    // argmax is a rank-1 filter (r8: registered — written in r6)
    Query("ts_cusum_changepoint", (s, d) => TimeSeries.cusumChangepoint(Tables.events(s, d)),
      /* ts_cusum_changepoint: the scaled CUSUM statistic D_t = n·S_t − t·T
         is an exact integer (both factors BIGINT-safe at this grain, the
         product in DECIMAL(38,0)), so the argmax needs no float compare;
         means/shift are one double division each on exact sums, rounded
         once. */
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, day, cents,
        |  row_number() OVER wo AS t,
        |  CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
        |  count(*) OVER wa AS nd,
        |  CAST(SUM(cents) OVER wa AS BIGINT) AS tot
        | FROM daily WINDOW wo AS (PARTITION BY event_type ORDER BY day),
        |  wa AS (PARTITION BY event_type)),
        |d AS (SELECT *,
        |  CAST(nd AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))
        |    - CAST(t AS DECIMAL(19,0)) * CAST(tot AS DECIMAL(19,0)) AS dd
        | FROM s WHERE t < nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY abs(dd) DESC, day ASC) AS rk FROM d)
        |SELECT event_type, day AS cp_day, CAST(t AS BIGINT) AS t_cp,
        | CAST(nd AS BIGINT) AS n_days,
        | floor(CAST(s AS DOUBLE)/CAST(t AS DOUBLE)/100*1e4 + 0.5)/1e4 AS mean_before,
        | floor(CAST(tot - s AS DOUBLE)/CAST(nd - t AS DOUBLE)/100*1e4 + 0.5)/1e4 AS mean_after,
        | floor((CAST(tot - s AS DOUBLE)/CAST(nd - t AS DOUBLE)
        |   - CAST(s AS DOUBLE)/CAST(t AS DOUBLE))/100*1e4 + 0.5)/1e4 AS shift
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin)),
    // lag-1..7 ACF from n-scaled exact integer centered moments (r8)
    Query("ts_autocorr", (s, d) => TimeSeries.autocorr(Tables.events(s, d)),
      /* ts_autocorr: centered terms scaled by n (c_t = n·x_t − T) keep
         every sum an exact integer; the n² factor cancels in the ratio.
         Products go through DECIMAL(19,0) casts — BIGINT·BIGINT would
         overflow-error in DuckDB at c² ~ 1e19+, and DECIMAL(38,0)
         operands would silently promote the product to DOUBLE. */
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, day, cents,
        |  count(*) OVER wa AS nd, CAST(SUM(cents) OVER wa AS BIGINT) AS tot,
        |  lag(cents,1) OVER w AS l1, lag(cents,2) OVER w AS l2,
        |  lag(cents,3) OVER w AS l3, lag(cents,4) OVER w AS l4,
        |  lag(cents,5) OVER w AS l5, lag(cents,6) OVER w AS l6,
        |  lag(cents,7) OVER w AS l7
        | FROM daily WINDOW wa AS (PARTITION BY event_type),
        |  w AS (PARTITION BY event_type ORDER BY day)),
        |c AS (SELECT event_type,
        |  CAST(nd*cents - tot AS DECIMAL(19,0)) AS c0,
        |  CAST(nd*l1 - tot AS DECIMAL(19,0)) AS c1,
        |  CAST(nd*l2 - tot AS DECIMAL(19,0)) AS c2,
        |  CAST(nd*l3 - tot AS DECIMAL(19,0)) AS c3,
        |  CAST(nd*l4 - tot AS DECIMAL(19,0)) AS c4,
        |  CAST(nd*l5 - tot AS DECIMAL(19,0)) AS c5,
        |  CAST(nd*l6 - tot AS DECIMAL(19,0)) AS c6,
        |  CAST(nd*l7 - tot AS DECIMAL(19,0)) AS c7
        | FROM b),
        |g AS (SELECT event_type, SUM(c0*c0) AS den,
        |  SUM(c0*c1) AS n1, count(c1) AS p1, SUM(c0*c2) AS n2, count(c2) AS p2,
        |  SUM(c0*c3) AS n3, count(c3) AS p3, SUM(c0*c4) AS n4, count(c4) AS p4,
        |  SUM(c0*c5) AS n5, count(c5) AS p5, SUM(c0*c6) AS n6, count(c6) AS p6,
        |  SUM(c0*c7) AS n7, count(c7) AS p7
        | FROM c GROUP BY 1),
        |u AS (
        |  SELECT event_type, 1 AS lg, n1 AS num, p1 AS np, den FROM g UNION ALL
        |  SELECT event_type, 2, n2, p2, den FROM g UNION ALL
        |  SELECT event_type, 3, n3, p3, den FROM g UNION ALL
        |  SELECT event_type, 4, n4, p4, den FROM g UNION ALL
        |  SELECT event_type, 5, n5, p5, den FROM g UNION ALL
        |  SELECT event_type, 6, n6, p6, den FROM g UNION ALL
        |  SELECT event_type, 7, n7, p7, den FROM g)
        |SELECT event_type, CAST(lg AS BIGINT) AS lag, CAST(np AS BIGINT) AS n_pairs,
        | floor(CAST(num AS DOUBLE)/CAST(den AS DOUBLE)*1e6 + 0.5)/1e6 AS acf
        |FROM u ORDER BY event_type, lag""".stripMargin)),
    // day-of-week seasonal profile, locale-free epoch-day mod 7 (r8)
    Query("ts_seasonal_dow", (s, d) => TimeSeries.seasonalDow(Tables.events(s, d)),
      /* ts_seasonal_dow: weekday = epoch-day mod 7 (0 = Thursday) —
         locale-free where named-weekday functions disagree on week
         start; seasonal index = c·n/(n_dow·T) on exact integer sums. */
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT event_type, cents,
        |  CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS BIGINT) AS dow
        | FROM daily),
        |g AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(SUM(cents) AS BIGINT) AS c
        | FROM base GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |  CAST(SUM(cents) AS BIGINT) AS tot
        | FROM base GROUP BY 1)
        |SELECT g.event_type, g.dow, g.n_days,
        | floor(CAST(c AS DOUBLE)/CAST(n_days AS DOUBLE)/100*1e4 + 0.5)/1e4 AS mean_value,
        | floor(CAST(c AS DOUBLE)*CAST(nd AS DOUBLE)
        |   /(CAST(n_days AS DOUBLE)*CAST(tot AS DOUBLE))*1e4 + 0.5)/1e4 AS seasonal_idx
        |FROM g JOIN t ON g.event_type = t.event_type
        |ORDER BY g.event_type, g.dow""".stripMargin)),
    // trailing 7-day rolling MEDIAN + integer spike flag — the robust
    // twin of ts_rolling_anomaly (r8)
    Query("ts_rolling_median", (s, d) => TimeSeries.rollingMedian(Tables.events(s, d)),
      /* ts_rolling_median: DuckDB's windowed median is quantile_cont —
         identical to the explicit sorted-array middle (even windows
         average the two middles; exact halves on integer cents). The
         spike flag compares doubles built from exact integers on both
         engines. */
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, cents,
        |  CAST(count(*) OVER ww AS BIGINT) AS n_win,
        |  CAST(median(cents) OVER ww AS DOUBLE) AS med_c
        | FROM daily WINDOW ww AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, cents, n_win,
        | floor(med_c/100*1e4 + 0.5)/1e4 AS median_value,
        | CAST(CAST(cents AS DOUBLE) > med_c*2.0 AS BIGINT) AS is_spike
        |FROM w ORDER BY event_type, day""".stripMargin)),
    // LTTB downsampling, parallel-anchor variant: per-bucket triangle
    // argmax on exact scaled integer cross-products (r8)
    Query("ts_downsample_lttb", (s, d) => TimeSeries.downsampleLttb(Tables.events(s, d)),
      /* ts_downsample_lttb: parallel-anchor LTTB — anchors are the
         neighboring buckets' mean points (rationals sum/cnt), so the
         triangle-area argmax runs on the dA²·dC-scaled integer cross
         product; DECIMAL(19,0) factor casts keep the products exact. */
      Sql("""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |b0 AS (SELECT event_type, day, cents,
        |  CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS x,
        |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM daily),
        |i AS (SELECT *, ((t - 2) * 10) // (n - 2) AS b FROM b0 WHERE t > 1 AND t < n),
        |ba AS (SELECT event_type, b, CAST(SUM(x) AS BIGINT) AS sx,
        |  CAST(SUM(cents) AS BIGINT) AS sy, CAST(count(*) AS BIGINT) AS cnt
        | FROM i GROUP BY 1, 2),
        |f AS (SELECT event_type, x AS fx, cents AS fy, day AS fday FROM b0 WHERE t = 1),
        |l AS (SELECT event_type, x AS lx, cents AS ly, day AS lday FROM b0 WHERE t = n AND n > 1),
        |an AS (SELECT ba.event_type, b,
        |  coalesce(lag(sx) OVER wb, fx) AS axn, coalesce(lag(sy) OVER wb, fy) AS ayn,
        |  coalesce(lag(cnt) OVER wb, 1) AS da,
        |  coalesce(lead(sx) OVER wb, lx) AS cxn, coalesce(lead(sy) OVER wb, ly) AS cyn,
        |  coalesce(lead(cnt) OVER wb, 1) AS dc
        | FROM ba JOIN f USING (event_type) JOIN l USING (event_type)
        | WINDOW wb AS (PARTITION BY ba.event_type ORDER BY b)),
        |s AS (SELECT i.event_type, i.day, i.cents, i.b,
        |  abs(CAST(cxn*da - axn*dc AS DECIMAL(19,0)) * CAST(i.cents*da - ayn AS DECIMAL(19,0))
        |    - CAST(cyn*da - ayn*dc AS DECIMAL(19,0)) * CAST(i.x*da - axn AS DECIMAL(19,0))) AS a2
        | FROM i JOIN an ON i.event_type = an.event_type AND i.b = an.b),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type, b
        |  ORDER BY a2 DESC, day ASC) AS rk FROM s)
        |SELECT event_type, fday AS day, fy AS cents, 'first' AS role FROM f
        |UNION ALL
        |SELECT event_type, day, cents, 'bucket' FROM r WHERE rk = 1
        |UNION ALL
        |SELECT event_type, lday, ly, 'last' FROM l
        |ORDER BY event_type, day""".stripMargin)),
    // trend/seasonal/residual split via centered 7-day MA + dow means of
    // the 7·x−Σ exact-integer detrended carrier (r8)
    Query("ts_stl_decompose", (s, d) => TimeSeries.stlDecompose(Tables.events(s, d)),
      /* ts_stl_decompose: detrended carrier = 7·x − Σwindow (exact
         integer, no division until the end); each component is one
         double formula on exact sums, rounded once; edges (partial MA
         windows) stay null through to the residual. */
      Sql(s"""WITH $stlCtes
         |SELECT event_type, day, value, trend, seasonal, resid FROM stl
         |ORDER BY event_type, day""".stripMargin)),
    // robust residual anomaly: median/MAD score of the STL resid —
    // flags only what trend + weekly structure can't explain (r8)
    Query("ts_anomaly_stl", (s, d) => TimeSeries.anomalyStl(Tables.events(s, d)),
      /* ts_anomaly_stl: robust score on the STL residual — median/MAD
         per series via quantile_cont, each rfloor'd to 4dp BEFORE
         feeding arithmetic (the dq_outlier_mad parity discipline);
         edge-day null resid stays null through score and flag. */
      Sql(s"""WITH $stlCtes,
         |med AS (SELECT event_type,
         |  floor(quantile_cont(resid, 0.5)*1e4 + 0.5)/1e4 AS med
         | FROM stl GROUP BY 1),
         |dev AS (SELECT s.event_type, s.day, s.value, s.resid, m.med,
         |  abs(s.resid - m.med) AS adev
         | FROM stl s JOIN med m USING (event_type)),
         |mad AS (SELECT event_type,
         |  floor(quantile_cont(adev, 0.5)*1e4 + 0.5)/1e4 AS mad
         | FROM dev GROUP BY 1)
         |SELECT d.event_type, d.day, d.value, d.resid,
         | CASE WHEN m.mad > 0 THEN
         |   floor((d.resid - d.med)/m.mad*1e4 + 0.5)/1e4 END AS score,
         | CAST(d.adev > 3.0*m.mad AS INT) AS is_anomaly
         |FROM dev d JOIN mad m USING (event_type)
         |ORDER BY d.event_type, d.day""".stripMargin)),
    // interval coalesce: merge overlapping per-user validity windows
    // into maximal spans — two windows on one user exchange (r8)
    Query("win_interval_merge", (s, d) => Windows.intervalMerge(Tables.events(s, d)),
      /* win_interval_merge: the running-max-end island law in exact µs;
         strict > so touching spans merge, (s, event_id) the unique
         total order on both engines. */
      Sql("""WITH iv AS (SELECT user_id, event_id,
        |  epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e FROM events),
        |m AS (SELECT *, MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
        | FROM iv),
        |f AS (SELECT *, CASE WHEN run_max IS NULL OR s > run_max THEN 1 ELSE 0 END AS new_island FROM m),
        |g AS (SELECT *, CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM f)
        |SELECT user_id, island, MIN(s) AS start_us, MAX(e) AS end_us,
        | MAX(e) - MIN(s) AS duration_us, CAST(count(*) AS BIGINT) AS n_intervals
        |FROM g GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin)),
    // LSH-candidate feature table for a learned dedup classifier:
    // jaccard/hamming/len-ratio/same-lang, all portable-hash (r8)
    Query("pipeline_dedup_features", (s, d) => Dedup.dedupFeatures(Tables.documents(s, d)),
      /* pipeline_dedup_features: the classifier feature frame — LSH
         candidates (the shared minhash CTEs) joined to per-doc portable
         features: shingle-fingerprint-set Jaccard (collision behavior
         identical by construction), two-fold 48-bit SimHash Hamming,
         length ratio, same-lang. */
      Sql(s"""WITH $minhashCtes,
         |fl AS (SELECT doc_id, list_distinct(list_transform(shs,
         |  sh -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(sh,''), c -> CAST(unicode(c) AS BIGINT))),
         |    (a,b) -> (a*31+b)%${graft.llm.Dedup.MinhashP}))) AS fps FROM sh),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus),
         |tf AS (SELECT doc_id,
         |  ((list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(t,''), c -> CAST(unicode(c) AS BIGINT))),
         |    (a,b) -> (a*31+b)%1000000007) % 16777216) << 24)
         |  + (list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(t,''), c -> CAST(unicode(c) AS BIGINT))),
         |    (a,b) -> (a*131+b)%999999937) % 16777216) AS f FROM tok),
         |votes2 AS (SELECT doc_id, b.b AS b,
         |  CAST(SUM(CASE WHEN (f >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
         | FROM tf CROSS JOIN (SELECT unnest(range(48)) AS b) b GROUP BY doc_id, b.b),
         |fpt AS (SELECT doc_id,
         |  CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS fp
         | FROM votes2 GROUP BY doc_id),
         |meta AS (SELECT doc_id, lang, n_chars FROM corpus)
         |SELECT c.a_id, c.b_id,
         | floor(CAST(len(list_intersect(fa.fps, fb.fps)) AS DOUBLE)
         |   / CAST(len(list_distinct(fa.fps || fb.fps)) AS DOUBLE)*1e4 + 0.5)/1e4 AS jaccard,
         | CAST(bit_count(xor(pa.fp, pb.fp)) AS BIGINT) AS hamming,
         | floor(CAST(least(ma.n_chars, mb.n_chars) AS DOUBLE)
         |   / CAST(greatest(ma.n_chars, mb.n_chars) AS DOUBLE)*1e4 + 0.5)/1e4 AS len_ratio,
         | CAST(ma.lang = mb.lang AS BIGINT) AS same_lang
         |FROM cand c
         | JOIN fl fa ON c.a_id = fa.doc_id JOIN fl fb ON c.b_id = fb.doc_id
         | JOIN fpt pa ON c.a_id = pa.doc_id JOIN fpt pb ON c.b_id = pb.doc_id
         | JOIN meta ma ON c.a_id = ma.doc_id JOIN meta mb ON c.b_id = mb.doc_id
         |ORDER BY c.a_id, c.b_id""".stripMargin)),
    // A-Priori frequent co-purchase pairs over order baskets (r8)
    Query("agg_copurchase_pairs", (s, d) => Aggregates.copurchasePairs(Tables.lineitem(s, d)),
      /* agg_copurchase_pairs: A-Priori downward closure makes the item
         prefilter lossless (an item of a support-3 pair has item-support
         >= 3); the oracle mirrors the prune so plans stay comparable. */
      Sql("""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |f AS (SELECT pk FROM (SELECT pk, count(*) AS c FROM b GROUP BY 1) WHERE c >= 3),
        |fb AS (SELECT ok, pk FROM b WHERE pk IN (SELECT pk FROM f)),
        |p AS (SELECT a.pk AS p1, c.pk AS p2, CAST(count(*) AS BIGINT) AS support
        |  FROM fb a JOIN fb c ON a.ok = c.ok AND a.pk < c.pk GROUP BY 1, 2)
        |SELECT p1, p2, support FROM p WHERE support >= 3
        |ORDER BY support DESC, p1, p2""".stripMargin)),
    // confidence/lift scoring of the frequent pairs, both directions;
    // item supports and the basket count ride broadcasts (r8)
    Query("agg_assoc_rules", (s, d) => Aggregates.assocRules(Tables.lineitem(s, d)),
      /* agg_assoc_rules: confidence and lift are single double formulas
         over exact BIGINT counts (products < 2^53), rounded once via the
         rfloor idiom — identical ASTs on both engines. */
      Sql("""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
        |f AS (SELECT pk, c FROM ic WHERE c >= 3),
        |fb AS (SELECT ok, pk FROM b WHERE pk IN (SELECT pk FROM f)),
        |p AS (SELECT a.pk AS p1, c2.pk AS p2, CAST(count(*) AS BIGINT) AS support
        |  FROM fb a JOIN fb c2 ON a.ok = c2.ok AND a.pk < c2.pk GROUP BY 1, 2
        |  HAVING CAST(count(*) AS BIGINT) >= 3),
        |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM b),
        |d AS (SELECT p1 AS ante, p2 AS cons, support FROM p
        |  UNION ALL SELECT p2, p1, support FROM p)
        |SELECT d.ante, d.cons, d.support, fa.c AS n_ante, fc.c AS n_cons, nb.n_baskets,
        | floor(CAST(d.support AS DOUBLE) / CAST(fa.c AS DOUBLE) * 1e6 + 0.5)/1e6 AS confidence,
        | floor(CAST(d.support AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
        |   / (CAST(fa.c AS DOUBLE) * CAST(fc.c AS DOUBLE)) * 1e6 + 0.5)/1e6 AS lift
        |FROM d JOIN f fa ON fa.pk = d.ante JOIN f fc ON fc.pk = d.cons CROSS JOIN nb
        |ORDER BY d.ante, d.cons""".stripMargin)),
    // count-min sketch in relational form: depth×width cell table from
    // one two-phase agg, point query = min over rows; probe slice
    // carries exact counts so est ≥ exact is data (r8)
    Query("agg_countmin", (s, d) => Aggregates.countMinTokens(Tables.documents(s, d)),
      /* agg_countmin: the four hash rows are the portable rolling-
         fingerprint fold under distinct (mult, modulus) pairs — every
         sketch cell, estimate and overcount is exact integer arithmetic
         both engines reproduce bit-for-bit. */
      Sql {
        def fold(m: Long, mod: Long): String =
          s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
            s"list_transform(string_split(token, ''), c -> CAST(unicode(c) AS BIGINT))), " +
            s"(a, b) -> (a*$m+b) % $mod) % 512"
        val cs = Seq((31L, 1000000007L), (131L, 999999937L),
          (137L, 999999893L), (257L, 998244353L)).map { case (m, mod) => fold(m, mod) }
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS token FROM documents),
           |f AS (SELECT token, ${cs(0)} AS c0, ${cs(1)} AS c1, ${cs(2)} AS c2, ${cs(3)} AS c3 FROM tok),
           |cells AS (SELECT unnest([0,1,2,3]) AS i, unnest([c0,c1,c2,c3]) AS cell FROM f),
           |sketch AS (SELECT i, cell, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
           |probe AS (SELECT DISTINCT token FROM tok WHERE doc_id % 101 = 0),
           |pf AS (SELECT token, ${cs(0)} AS c0, ${cs(1)} AS c1, ${cs(2)} AS c2, ${cs(3)} AS c3 FROM probe),
           |pc AS (SELECT token, unnest([0,1,2,3]) AS i, unnest([c0,c1,c2,c3]) AS cell FROM pf),
           |est AS (SELECT token, MIN(cnt) AS n_est FROM pc JOIN sketch USING (i, cell) GROUP BY 1),
           |exact AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM tok
           |  WHERE token IN (SELECT token FROM probe) GROUP BY 1)
           |SELECT est.token, n_exact, n_est, n_est - n_exact AS overcount
           |FROM est JOIN exact ON est.token = exact.token
           |ORDER BY est.token""".stripMargin
      }),
    // incremental count-min: stored sketch epoch + delta cells, merged
    // cellwise (sketch linearity); base corpus never rescanned (r8)
    Query("agg_countmin_delta", (s, d) => {
      val docs = Tables.documents(s, d)
      Aggregates.countMinDelta(s, docs,
        docs.filter(col("doc_id") % 4 === 2)
          .withColumn("doc_id", col("doc_id") + 500000L)
          .withColumn("text", concat(col("text"), lit(" cm delta probe"))))
    },
      /* agg_countmin_delta: full recompute over base ∪ synthesized delta
         — matching means the Spark side's stored-epoch + cellwise-merge
         path is exactly equal to recomputation (sketch linearity). */
      Sql {
        def fold(m: Long, mod: Long): String =
          s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
            s"list_transform(string_split(token, ''), c -> CAST(unicode(c) AS BIGINT))), " +
            s"(a, b) -> (a*$m+b) % $mod) % 512"
        val cs = Seq((31L, 1000000007L), (131L, 999999937L),
          (137L, 999999893L), (257L, 998244353L)).map { case (m, mod) => fold(m, mod) }
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 500000, text || ' cm delta probe' FROM documents WHERE doc_id % 4 = 2),
           |tok AS (SELECT doc_id, unnest(string_split(COALESCE(text, ''), ' ')) AS token FROM corpus),
           |f AS (SELECT token, ${cs(0)} AS c0, ${cs(1)} AS c1, ${cs(2)} AS c2, ${cs(3)} AS c3 FROM tok),
           |cells AS (SELECT unnest([0,1,2,3]) AS i, unnest([c0,c1,c2,c3]) AS cell FROM f),
           |sketch AS (SELECT i, cell, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2),
           |probe AS (SELECT DISTINCT token FROM tok WHERE doc_id >= 500000 AND doc_id % 3 = 0),
           |pf AS (SELECT token, ${cs(0)} AS c0, ${cs(1)} AS c1, ${cs(2)} AS c2, ${cs(3)} AS c3 FROM probe),
           |pc AS (SELECT token, unnest([0,1,2,3]) AS i, unnest([c0,c1,c2,c3]) AS cell FROM pf)
           |SELECT token, MIN(cnt) AS n_est FROM pc JOIN sketch USING (i, cell)
           |GROUP BY 1 ORDER BY token""".stripMargin
      }),
    // Holt's double exponential smoothing (α=β=1/2): the FULL recursion
    // in floor-halved integer cents, replayed by a recursive CTE (r8)
    Query("ts_holt", (s, d) => TimeSeries.holtLinear(Tables.events(s, d)),
      /* ts_holt: the full Holt recursion replayed by a recursive CTE —
         every step is one floor-halving of integer cents (exact in IEEE
         double), so the sequential recurrence is bit-exact on both
         engines; forecast = prior level + prior trend, null on day 1. */
      Sql(holtCtes +
        """
          |SELECT event_type, day, cents,
          | floor(CAST(l AS DOUBLE)/100*1e4 + 0.5)/1e4 AS level,
          | floor(CAST(b AS DOUBLE)/100*1e4 + 0.5)/1e4 AS trend,
          | floor(CAST(f AS DOUBLE)/100*1e4 + 0.5)/1e4 AS forecast
          |FROM holt ORDER BY event_type, day""".stripMargin)),
    // rolling-origin forecast audit over the same recursion's state (r9)
    Query("ts_holt_backtest", (s, d) => TimeSeries.holtBacktest(Tables.events(s, d)),
      /* ts_holt_backtest: the same recursion's UN-rounded state scored
         h steps ahead (h = 1..3) against the actual — exact integer
         cents until the final per-group means; the lead is the rn + h
         self-join of the recursion frame. */
      Sql(holtCtes +
        """,
          |led AS (SELECT event_type, rn, l, b, unnest([1, 2, 3]) AS h FROM holt),
          |errs AS (SELECT e.event_type, CAST(e.h AS BIGINT) AS horizon,
          |   a.cents - (e.l + e.h * e.b) AS err
          |  FROM led e JOIN num a ON a.event_type = e.event_type AND a.rn = e.rn + e.h)
          |SELECT event_type, horizon, CAST(count(*) AS BIGINT) AS n,
          | floor(CAST(CAST(SUM(ABS(err)) AS BIGINT) AS DOUBLE)/count(*)/100*1e4 + 0.5)/1e4 AS mae,
          | floor(CAST(CAST(SUM(err) AS BIGINT) AS DOUBLE)/count(*)/100*1e4 + 0.5)/1e4 AS bias
          |FROM errs GROUP BY 1, 2 ORDER BY event_type, horizon""".stripMargin)),
    // strongly connected components of the node²-bounded residue graph:
    // one data-sized edge scan, then driver-side Tarjan (r8, r14)
    Query("graph_scc", (s, d) => graft.ops.Graph.scc(Tables.documents(s, d)),
      /* graph_scc: mutual reachability from the recursive-CTE transitive
         closure of the half-corpus mod-250 link graph; scc_id = least
         member id, all integer arithmetic. */
      Sql(sccSql)),
    // the SCC quotient DAG: cross-component citation structure (r9)
    Query("graph_condensation", (s, d) => graft.ops.Graph.condensation(Tables.documents(s, d)),
      /* graph_condensation: the SCC quotient DAG over the shared CTEs —
         distinct cross-component edges with crossing-edge counts. */
      Sql(sccCtes +
        """
          |SELECT i1.scc_id AS scc_src, i2.scc_id AS scc_dst,
          |  CAST(count(*) AS BIGINT) AS n_links
          |FROM e2 e JOIN ids i1 ON i1.node = e.src JOIN ids i2 ON i2.node = e.dst
          |WHERE i1.scc_id <> i2.scc_id
          |GROUP BY 1, 2
          |ORDER BY scc_src, scc_dst""".stripMargin)),
    // three-way keyed merge (base/ours/theirs): per-cell take-one-side
    // rule, convergent edits, conflict classes — multi-writer sync (r8)
    Query("diff_merge_3way", (s, d) => {
      val c = Tables.customer(s, d)
      SnapshotDiff.merge3Way(Snapshots.oldSnapshot(c),
        Snapshots.oursSnapshot(c), Snapshots.theirsSnapshot(c), "slno")
    },
      /* diff_merge_3way: generated from the column list — see merge3Sql. */
      Sql(merge3Sql)),
    // hop-limited closeness + harmonic centrality: all-sources BFS with
    // broadcast (root, node) frontiers — edges never shuffle (r8)
    Query("graph_closeness", (s, d) => graft.ops.Graph.closeness(Tables.documents(s, d)),
      /* graph_closeness: recursive-CTE all-sources BFS, min level per
         (root, node), level counts pivoted so every formula is one fixed
         AST over exact BIGINTs. */
      Sql("""WITH RECURSIVE edges AS (
        |  SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst
        |  FROM documents),
        |e AS (SELECT src, dst FROM edges WHERE src <> dst),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u),
        |bfs(root, node, level) AS (
        |  SELECT node, node, 0 FROM nodes
        |  UNION SELECT b.root, e.dst, b.level + 1
        |   FROM bfs b JOIN e ON e.src = b.node WHERE b.level < 4),
        |lv AS (SELECT root, node, MIN(level) AS level FROM bfs GROUP BY 1, 2),
        |c AS (SELECT root,
        |  CAST(SUM(CASE WHEN level = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(SUM(CASE WHEN level = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |  CAST(SUM(CASE WHEN level = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
        |  CAST(SUM(CASE WHEN level = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
        | FROM lv WHERE level > 0 GROUP BY root),
        |p AS (SELECT n.node, COALESCE(c.c1, 0) AS c1, COALESCE(c.c2, 0) AS c2,
        |  COALESCE(c.c3, 0) AS c3, COALESCE(c.c4, 0) AS c4
        | FROM nodes n LEFT JOIN c ON c.root = n.node)
        |SELECT node,
        | c1 * 1 + c2 * 1 + c3 * 1 + c4 * 1 AS n_reached,
        | c1 * 1 + c2 * 2 + c3 * 3 + c4 * 4 AS sum_dist,
        | CASE WHEN c1 * 1 + c2 * 2 + c3 * 3 + c4 * 4 > 0 THEN
        |   floor(CAST(c1 * 1 + c2 * 1 + c3 * 1 + c4 * 1 AS DOUBLE)
        |     / CAST(c1 * 1 + c2 * 2 + c3 * 3 + c4 * 4 AS DOUBLE) * 1e6 + 0.5)/1e6
        | END AS closeness,
        | floor((CAST(c1 AS DOUBLE)/1.0 + CAST(c2 AS DOUBLE)/2.0
        |   + CAST(c3 AS DOUBLE)/3.0 + CAST(c4 AS DOUBLE)/4.0) * 1e6 + 0.5)/1e6 AS harmonic
        |FROM p ORDER BY node""".stripMargin)),
    // key-continuity audit by fixed-width bucket: edge spans from each
    // bucket's own domain — no neighbor lookup, no global order. The
    // driver's orderkeys are DENSE, so the extract-defect fixture drops
    // a contiguous range (spans buckets) plus every 53rd key ≡ 3 —
    // the interpolate-dropout synthesis discipline (r8)
    Query("dq_sequential_gaps", (s, d) => DataQuality.sequentialGaps(
      Tables.orders(s, d).filter(!col("o_orderkey").between(400, 440) &&
        col("o_orderkey") % 53 =!= 3)),
      /* dq_sequential_gaps: global naive lead-window gaps and the bucketed
         form agree by construction; the oracle runs the bucketed law
         verbatim (the equivalence to the naive form is a spec law). */
      Sql("""WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE NOT (o_orderkey BETWEEN 400 AND 440) AND o_orderkey % 53 <> 3),
        |kb AS (SELECT k, k // 32 AS b FROM keys),
        |r AS (SELECT k, b, CASE WHEN lag(k) OVER (PARTITION BY b ORDER BY k) IS NULL
        |   OR lag(k) OVER (PARTITION BY b ORDER BY k) < k - 1 THEN 1 ELSE 0 END AS rs FROM kb)
        |SELECT b AS bucket, MIN(k) AS first_key, MAX(k) AS last_key,
        | CAST(count(*) AS BIGINT) AS n_keys,
        | MAX(k) - MIN(k) + 1 - CAST(count(*) AS BIGINT) AS missing_internal,
        | CAST(SUM(rs) AS BIGINT) - 1 AS gap_runs,
        | MIN(k) - b * 32 AS lead_missing,
        | (b + 1) * 32 - 1 - MAX(k) AS trail_missing
        |FROM r GROUP BY b ORDER BY bucket""".stripMargin)),
    // per-(type, ingest-shard) staleness vs the corpus max event time —
    // the stuck-shard audit behind every watermark advance (r9)
    Query("dq_freshness", (s, d) => DataQuality.freshness(Tables.events(s, d)),
      /* dq_freshness: staleness vs the corpus max event time — all-integer
         epoch-µs arithmetic (// floor division on non-negative lags), the
         same 6h/24h CASE buckets. */
      Sql("""WITH s AS (SELECT event_type, user_id % 20 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_events, MAX(epoch_us(ts)) AS max_us
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT MAX(max_us) AS g_us FROM s)
        |SELECT event_type, shard, n_events,
        |  max_us // 1000000 AS last_seen_s,
        |  (g_us - max_us) // 60000000 AS lag_min,
        |  CASE WHEN (g_us - max_us) // 60000000 < 360 THEN 'fresh'
        |       WHEN (g_us - max_us) // 60000000 < 1440 THEN 'lagging'
        |       ELSE 'stale' END AS staleness
        |FROM s CROSS JOIN g ORDER BY event_type, shard""".stripMargin)),
    // per-doc eval-overlap stats; the 1/20 flag compares 20·hits ≥ grams
    // in exact integers (r8)
    Query("pipeline_contamination_report", (s, d) =>
      TrainingPrep.contaminationReport(Tables.documents(s, d)),
      /* pipeline_contamination_report: decontaminate's gram CTEs with
         counts; the 1/20 flag is the exact-integer compare. */
      Sql {
        val k = 13
        val terms = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
        s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t,
           |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'c' THEN 'train'
           |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'e' THEN 'val'
           |       ELSE 'test' END AS split FROM documents),
           |sh AS (SELECT doc_id, split, list_distinct(list_transform(range(len(t)-${k - 1}),
           |  i -> $terms)) AS shs FROM base),
           |ev AS (SELECT DISTINCT unnest(shs) AS g FROM sh WHERE split = 'test'),
           |tg AS (SELECT doc_id, unnest(shs) AS g FROM sh WHERE split = 'train'),
           |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tg GROUP BY 1),
           |hit AS (SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_hits
           |  FROM tg JOIN ev ON ev.g = tg.g GROUP BY 1)
           |SELECT b.doc_id, COALESCE(tot.n_grams, 0) AS n_grams,
           | COALESCE(hit.n_hits, 0) AS n_hits,
           | CASE WHEN COALESCE(tot.n_grams, 0) > 0 THEN
           |   floor(CAST(COALESCE(hit.n_hits, 0) AS DOUBLE)
           |     / CAST(tot.n_grams AS DOUBLE) * 1e6 + 0.5)/1e6 END AS overlap_frac,
           | CAST(COALESCE(tot.n_grams, 0) > 0
           |   AND COALESCE(hit.n_hits, 0) * 20 >= COALESCE(tot.n_grams, 0) AS INT) AS flagged
           |FROM base b LEFT JOIN tot ON tot.doc_id = b.doc_id
           | LEFT JOIN hit ON hit.doc_id = b.doc_id
           |WHERE b.split = 'train' ORDER BY b.doc_id""".stripMargin
      }),
    // fasttext-shaped linear quality scorer apply: hashed token weights,
    // exact integer dot product, keep = sign — one map-side pass (r8)
    Query("pipeline_quality_classifier", (s, d) =>
      TrainingPrep.qualityClassifier(Tables.documents(s, d)),
      /* pipeline_quality_classifier: the portable rolling-fingerprint
         fold per token (the proven list_reduce mirror), weight =
         (fp mod 2001) − 1000, exact integer sum; score is one rounded
         division, keep the exact sign — no transcendental anywhere. */
      Sql("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(list_sum(list_transform(t, s ->
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |       list_transform(string_split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
        |      (a, b) -> (a*31+b) % 1000000007) % 2001) - 1000)), 0) AS BIGINT) AS score_units
        | FROM tok)
        |SELECT doc_id, n_tokens, score_units,
        | CASE WHEN n_tokens > 0 THEN
        |   floor(CAST(score_units AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000.0) * 1e6 + 0.5)/1e6
        | END AS score,
        | CAST(score_units > 0 AS INT) AS keep
        |FROM w ORDER BY doc_id""".stripMargin)),
    // FK-edge orphan audit (late-arriving-dimension fixture, one
    // outer-join aggregate pass per edge)
    Query("dq_referential_integrity", (s, d) => DataQuality.referentialIntegrity(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.part(s, d),
      Tables.supplier(s, d), Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
      Sql("""WITH
        |e1 AS (SELECT 'lineitem.orderkey->orders' AS edge, count(*) AS child_rows,
        |  count(CASE WHEN p.k IS NULL THEN 1 END) AS orphan_rows,
        |  count(DISTINCT CASE WHEN p.k IS NULL THEN c.l_orderkey END) AS orphan_keys
        | FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 97 <> 0) p
        | ON c.l_orderkey = p.k),
        |e2 AS (SELECT 'lineitem.partkey->part', count(*),
        |  count(CASE WHEN p.k IS NULL THEN 1 END),
        |  count(DISTINCT CASE WHEN p.k IS NULL THEN c.l_partkey END)
        | FROM lineitem c LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part WHERE p_partkey % 97 <> 0) p
        | ON c.l_partkey = p.k),
        |e3 AS (SELECT 'lineitem.suppkey->supplier', count(*),
        |  count(CASE WHEN p.k IS NULL THEN 1 END),
        |  count(DISTINCT CASE WHEN p.k IS NULL THEN c.l_suppkey END)
        | FROM lineitem c LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier WHERE s_suppkey % 13 <> 0) p
        | ON c.l_suppkey = p.k),
        |e4 AS (SELECT 'orders.custkey->customer', count(*),
        |  count(CASE WHEN p.k IS NULL THEN 1 END),
        |  count(DISTINCT CASE WHEN p.k IS NULL THEN c.o_custkey END)
        | FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 97 <> 0) p
        | ON c.o_custkey = p.k),
        |e5 AS (SELECT 'nation.regionkey->region', count(*),
        |  count(CASE WHEN p.k IS NULL THEN 1 END),
        |  count(DISTINCT CASE WHEN p.k IS NULL THEN c.n_regionkey END)
        | FROM nation c LEFT JOIN (SELECT DISTINCT r_regionkey AS k FROM region) p
        | ON c.n_regionkey = p.k)
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
        |UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5 ORDER BY edge""".stripMargin)),
    // exact skewness/kurtosis from integer power sums (Spark's builtin
    // double accumulators are shuffle-order-dependent — these are not)
    Query("agg_skew_kurtosis", (s, d) => Aggregates.skewKurtosis(Tables.lineitem(s, d)),
      /* agg_skew_kurtosis: raw→central moment formulas in double over
       * exact DECIMAL(38,0) power sums of integer cents; m2^1.5 written
       * m2·sqrt(m2) (sqrt is correctly-rounded IEEE; pow is not). */
      Sql("""WITH s AS (
        | SELECT l_returnflag, count(*) AS n,
        |  SUM(CAST(qc AS DECIMAL(38,0))) AS s1, SUM(CAST(qc*qc AS DECIMAL(38,0))) AS s2,
        |  SUM(CAST(qc*qc*qc AS DECIMAL(38,0))) AS s3, SUM(CAST(qc*qc*qc*qc AS DECIMAL(38,0))) AS s4
        | FROM (SELECT l_returnflag, CAST(CAST(l_quantity*100 AS DECIMAL(18,0)) AS BIGINT) AS qc FROM lineitem) t
        | GROUP BY l_returnflag),
        |m AS (SELECT l_returnflag, n,
        |  CAST(s1 AS DOUBLE)/n AS m1, CAST(s2 AS DOUBLE)/n AS r2,
        |  CAST(s3 AS DOUBLE)/n AS r3, CAST(s4 AS DOUBLE)/n AS r4 FROM s),
        |c AS (SELECT l_returnflag, n, m1, r2, r3, r4,
        |  r2 - m1*m1 AS m2,
        |  r3 - 3.0*m1*r2 + 2.0*m1*m1*m1 AS m3,
        |  r4 - 4.0*m1*r3 + 6.0*m1*m1*r2 - 3.0*m1*m1*m1*m1 AS m4 FROM m)
        |SELECT l_returnflag, n,
        | floor(m1/100*1e4 + 0.5)/1e4 AS mean_qty,
        | floor(sqrt(m2)/100*1e4 + 0.5)/1e4 AS std_qty,
        | floor(m3/(m2*sqrt(m2))*1e6 + 0.5)/1e6 AS skewness,
        | floor((m4/(m2*m2) - 3.0)*1e6 + 0.5)/1e6 AS kurtosis
        |FROM c ORDER BY l_returnflag""".stripMargin)),
    // Gini of per-customer spend within nation, rank-weighted exact form
    // decile lift/gains table over the distributed global-ntile core —
    // the propensity-scorer eval readout (r9)
    Query("agg_decile_lift", (s, d) => Aggregates.decileLift(Tables.events(s, d)),
      /* agg_decile_lift: plain ntile implements the identical exact
       * first-n%k-buckets-get-ceil arithmetic as the distributed
       * globalNtile core; rates/lift through the rfloor mirror. */
      Sql("""WITH u AS (SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type <> 'purchase'
        |    THEN CAST(floor(value*100+0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS score_cents,
        |  CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
        |    THEN 1 ELSE 0 END AS label
        |  FROM events GROUP BY user_id),
        |b AS (SELECT *, CAST(ntile(10) OVER (ORDER BY score_cents DESC, user_id) AS BIGINT) AS decile FROM u),
        |p AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(label) AS BIGINT) AS n_pos FROM b GROUP BY decile),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tot_n,
        |  CAST(sum(n_pos) AS BIGINT) AS tot_pos FROM p)
        |SELECT decile, n_users, n_pos,
        | floor(n_pos*1.0/n_users*10000+0.5)/10000+0.0 AS pos_rate,
        | floor((n_pos*1.0/n_users)/(tot_pos*1.0/tot_n)*10000+0.5)/10000+0.0 AS lift
        |FROM p CROSS JOIN t ORDER BY decile""".stripMargin)),
    // cohort LTV curve: cumulative spend per customer by (first-order
    // month, months since) — exact integer month/cents arithmetic (r9)
    Query("agg_cohort_ltv", (s, d) => Aggregates.cohortLtv(Tables.orders(s, d)),
      /* agg_cohort_ltv: integer month index (year·12+month), exact cents,
       * cohort-partitioned running sum; the one double is the rfloor'd
       * per-customer LTV. */
      Sql("""WITH o AS (SELECT o_custkey AS cust,
        |  year(o_orderdate)*12 + month(o_orderdate) AS ym,
        |  CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS cents
        | FROM orders WHERE o_orderdate IS NOT NULL),
        |f AS (SELECT cust, MIN(ym) AS cohort_ym FROM o GROUP BY cust),
        |cs AS (SELECT cohort_ym, CAST(count(*) AS BIGINT) AS n_customers FROM f GROUP BY cohort_ym),
        |per AS (SELECT f.cohort_ym, o.ym - f.cohort_ym AS m,
        |  CAST(SUM(cents) AS BIGINT) AS cents_m
        | FROM o JOIN f ON f.cust = o.cust GROUP BY 1, 2),
        |cum AS (SELECT *, CAST(SUM(cents_m) OVER (PARTITION BY cohort_ym ORDER BY m
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents FROM per)
        |SELECT cohort_ym, m, n_customers, cents_m, cum_cents,
        |  floor(cum_cents*1.0/n_customers/100*100+0.5)/100 + 0.0 AS ltv
        |FROM cum JOIN cs USING (cohort_ym) ORDER BY cohort_ym, m""".stripMargin)),
    Query("agg_gini", (s, d) => Aggregates.giniSpend(
      Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d)),
      Sql("""WITH spend AS (
        |  SELECT o_custkey, SUM(CAST(CAST(o_totalprice*100 AS DECIMAL(18,0)) AS BIGINT)) AS cents
        |  FROM orders GROUP BY o_custkey),
        |j AS (SELECT n_name, o_custkey, cents FROM spend
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |r AS (SELECT n_name, cents,
        |  row_number() OVER (PARTITION BY n_name ORDER BY cents, o_custkey) AS i FROM j),
        |g AS (SELECT n_name, count(*) AS n_cust,
        |  SUM(CAST(cents AS DECIMAL(38,0))) AS sw, SUM(CAST(i*cents AS DECIMAL(38,0))) AS siw
        | FROM r GROUP BY n_name)
        |SELECT n_name, n_cust,
        | floor((2.0*CAST(siw AS DOUBLE) - (CAST(n_cust AS DOUBLE)+1)*CAST(sw AS DOUBLE))
        |   / (CAST(n_cust AS DOUBLE)*CAST(sw AS DOUBLE))*1e6 + 0.5)/1e6 AS gini
        |FROM g ORDER BY n_name""".stripMargin)),
    // global token-budget cut via the two-phase histogram (bounded-bucket
    // collect), oracle-checked against the naive global cumsum
    Query("pipeline_token_budget", (s, d) => TrainingPrep.tokenBudget(Tables.documents(s, d)),
      /* pipeline_token_budget: the NAIVE global-cumsum form — the Spark
       * side runs the two-phase histogram cut; the hash match proves the
       * equivalence of the two selection rules on every run. */
      Sql("""WITH t AS (SELECT doc_id,
        |  CAST(floor((CAST(len(list_distinct(tok)) AS DOUBLE)/len(tok)*0.5
        |   + least(CAST(len(tok) AS DOUBLE)/100.0, 1.0)*0.3
        |   + (1.0 - CAST(len(list_filter(tok, x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(tok))*0.2)*1e4 + 0.5) AS BIGINT) AS q,
        |  CAST(len(tok) AS BIGINT) AS tok
        | FROM (SELECT doc_id, string_split(text,' ') AS tok FROM documents) d),
        |c AS (SELECT doc_id, q, tok, SUM(tok) OVER (ORDER BY q DESC, doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT doc_id, q, tok FROM c WHERE cum <= 12000 ORDER BY q DESC, doc_id""".stripMargin)),
    // quality-tier epoch replication with md5 shuffle keys, map-side
    Query("pipeline_epoch_upsample", (s, d) => TrainingPrep.epochUpsample(Tables.documents(s, d)),
      Sql("""WITH t AS (SELECT doc_id,
        |  CAST(floor((CAST(len(list_distinct(tok)) AS DOUBLE)/len(tok)*0.5
        |   + least(CAST(len(tok) AS DOUBLE)/100.0, 1.0)*0.3
        |   + (1.0 - CAST(len(list_filter(tok, x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(tok))*0.2)*1e4 + 0.5) AS BIGINT) AS q
        | FROM (SELECT doc_id, string_split(text,' ') AS tok FROM documents) d),
        |w AS (SELECT doc_id, q, CASE WHEN q >= 6150 THEN 3 WHEN q >= 6000 THEN 2 ELSE 1 END AS copies FROM t),
        |x AS (SELECT doc_id, q, CAST(copies AS BIGINT) AS copies,
        |  CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch_copy FROM w)
        |SELECT doc_id, q, copies, epoch_copy,
        | substring(md5(doc_id || ':' || epoch_copy), 1, 8) AS shuffle_key
        |FROM x ORDER BY shuffle_key, doc_id, epoch_copy""".stripMargin)),
    // corpus-level Flesch per source from integer regexp counts
    Query("text_readability", (s, d) => TextAnalysis.readability(Tables.documents(s, d)),
      Sql("""WITH t AS (SELECT source,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS w,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s,
        |  CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS y
        | FROM documents),
        |g AS (SELECT source, count(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS words,
        |  CAST(SUM(s) AS BIGINT) AS sentences, CAST(SUM(y) AS BIGINT) AS syllables
        | FROM t GROUP BY source)
        |SELECT source, n_docs, words, sentences, syllables,
        | floor((206.835 - 1.015*(CAST(words AS DOUBLE)/CAST(sentences AS DOUBLE))
        |   - 84.6*(CAST(syllables AS DOUBLE)/CAST(words AS DOUBLE)))*1e4 + 0.5)/1e4 AS flesch
        |FROM g ORDER BY source""".stripMargin)),
    // per-host triangle counts — the local-clustering (link-farm) signal
    Query("graph_triangles", (s, d) => graft.ops.Graph.triangles(Tables.documents(s, d)),
      /* graph_triangles: id-ordered triple enumeration — each triangle
       * x<y<z appears once from the wedge join (e1.b=e2.a over a<b
       * edges) plus the closing-edge join; COUNT(*) is BIGINT in both
       * engines. */
      Sql("""WITH e0 AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0) u),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT node, COUNT(*) AS n FROM
        |  (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |   UNION ALL SELECT z FROM tri) t GROUP BY node)
        |SELECT nodes.node, COALESCE(pn.n, 0) AS n_triangles
        |FROM nodes LEFT JOIN pn ON pn.node = nodes.node ORDER BY nodes.node""".stripMargin)),
    // per-node clustering coefficient: 2T/deg(deg-1) over the shared
    // undirected graph — the clique-density refinement of triangles (r9)
    Query("graph_clustering_coeff", (s, d) => graft.ops.Graph.clusteringCoeff(Tables.documents(s, d)),
      /* graph_clustering_coeff: the triangles CTEs plus an undirected
       * degree CTE; cc = 2T/deg(deg-1) through the rfloor mirror
       * (floor(v*1e4+0.5)/1e4), deg<2 pinned to 0.0 on both sides. */
      Sql("""WITH e0 AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0) u),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
        |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) d GROUP BY node),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT node, COUNT(*) AS n FROM
        |  (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |   UNION ALL SELECT z FROM tri) t GROUP BY node)
        |SELECT nodes.node, COALESCE(deg.deg, 0) AS deg,
        |  COALESCE(pn.n, 0) AS n_triangles,
        |  CASE WHEN COALESCE(deg.deg, 0) >= 2
        |    THEN floor((2.0 * COALESCE(pn.n, 0)) / (deg.deg * (deg.deg - 1)) * 10000.0 + 0.5) / 10000.0 + 0.0
        |    ELSE 0.0 END AS coeff
        |FROM nodes LEFT JOIN deg ON deg.node = nodes.node
        |LEFT JOIN pn ON pn.node = nodes.node ORDER BY nodes.node""".stripMargin)),
    // DeepWalk sampling: hash-driven (retry-safe) 4-hop walks from every
    // node, dead ends absorb; steps are unrolled broadcast joins (r9)
    Query("graph_random_walk", (s, d) => graft.ops.Graph.randomWalk(Tables.documents(s, d)),
      /* graph_random_walk: the hop out of u at step t is adjacency index
       * (u·31 + 17t) mod outdeg(u) + 1 over the dst-sorted ranking — all
       * non-negative integers, so % agrees across engines; dead ends
       * COALESCE to stay put. Four unrolled hop CTEs. */
      Sql("""WITH e0 AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0) u),
        |adj AS (SELECT src, dst,
        |  CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS idx FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY src),
        |w0 AS (SELECT node AS start, node AS cur FROM nodes),
        |w1 AS (SELECT w.start, COALESCE(a.dst, w.cur) AS cur FROM w0 w
        |  LEFT JOIN deg ON deg.src = w.cur
        |  LEFT JOIN adj a ON a.src = w.cur AND a.idx = (w.cur * 31 + 17) % deg.d + 1),
        |w2 AS (SELECT w.start, COALESCE(a.dst, w.cur) AS cur FROM w1 w
        |  LEFT JOIN deg ON deg.src = w.cur
        |  LEFT JOIN adj a ON a.src = w.cur AND a.idx = (w.cur * 31 + 34) % deg.d + 1),
        |w3 AS (SELECT w.start, COALESCE(a.dst, w.cur) AS cur FROM w2 w
        |  LEFT JOIN deg ON deg.src = w.cur
        |  LEFT JOIN adj a ON a.src = w.cur AND a.idx = (w.cur * 31 + 51) % deg.d + 1),
        |w4 AS (SELECT w.start, COALESCE(a.dst, w.cur) AS cur FROM w3 w
        |  LEFT JOIN deg ON deg.src = w.cur
        |  LEFT JOIN adj a ON a.src = w.cur AND a.idx = (w.cur * 31 + 68) % deg.d + 1)
        |SELECT start, CAST(0 AS BIGINT) AS step, cur AS node FROM w0
        |UNION ALL SELECT start, CAST(1 AS BIGINT), cur FROM w1
        |UNION ALL SELECT start, CAST(2 AS BIGINT), cur FROM w2
        |UNION ALL SELECT start, CAST(3 AS BIGINT), cur FROM w3
        |UNION ALL SELECT start, CAST(4 AS BIGINT), cur FROM w4
        |ORDER BY start, step""".stripMargin)),
    // SemDeDup: cluster-then-prune semantic dedup over the vector corpus
    Query("dedup_semantic", (s, d) => Dedup.semanticDedup(Corpus.vecCorpus(Tables.embeddings(s, d))),
      /* dedup_semantic: one k-means E-step against 8 HASH-SPREAD seed
       * vectors (Knuth multiplicative hash of vec_id — the lowest-k pick
       * is one ingest batch's corner of the space, the worst k-means
       * init; d² via the dot-product expansion, 6dp-rounded before the
       * argmin), then the SemDeDup prune — drop a member iff a
       * cluster-mate with 4dp-cosine ≥ 0.99 is farther from the centroid
       * (tie → lower id survives). */
      Sql(s"""WITH vc AS (${Corpus.vecCorpusSql}),
         |seeds AS (SELECT vec_id AS seed_id, v AS c FROM vc
         |  ORDER BY ((vec_id % 2147483648) * 2654435761) % 2147483648, vec_id LIMIT 8),
         |asg0 AS (SELECT vc.vec_id, seeds.seed_id, vc.v,
         |  round(list_dot_product(vc.v, vc.v) - 2.0*list_dot_product(vc.v, seeds.c)
         |        + list_dot_product(seeds.c, seeds.c), 6) + 0.0 AS d2
         |  FROM vc CROSS JOIN seeds),
         |asg AS (SELECT vec_id, seed_id AS cluster, v, d2 FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, seed_id ASC) AS rn
         |   FROM asg0) r WHERE rn = 1),
         |dropped AS (SELECT DISTINCT a.vec_id FROM asg a JOIN asg b
         |  ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |  AND round(list_dot_product(a.v, b.v) / nullif(
         |    sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0), 4) + 0.0 >= 0.99
         |  AND (b.d2 > a.d2 OR (b.d2 = a.d2 AND b.vec_id < a.vec_id)))
         |SELECT asg.vec_id, asg.cluster FROM asg
         |LEFT JOIN dropped ON dropped.vec_id = asg.vec_id
         |WHERE dropped.vec_id IS NULL ORDER BY asg.vec_id""".stripMargin)),
    // DSIR importance weights: hashed-feature log-ratio scoring in
    // integer micro-nats (target = the en slice)
    Query("pipeline_dsir_weights", (s, d) => TrainingPrep.dsirWeights(Tables.documents(s, d)),
      /* pipeline_dsir_weights: bucket = first 2 hex chars of md5(token)
       * (no hex parse — the string IS the key); per-bucket smoothed
       * log-ratio rounded once to integer micro-nats; doc weight = the
       * order-free INTEGER sum, CAST back to BIGINT (DuckDB promotes
       * SUM(BIGINT) to HUGEINT and the driver comparator is
       * type-strict — the round-6 red class). */
      Sql("""WITH tb AS (SELECT doc_id, lang, substr(md5(word), 1, 2) AS bucket FROM
        |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents) t),
        |counts AS (SELECT bucket, COUNT(*) AS cnt_s,
        |  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_t FROM tb GROUP BY bucket),
        |tot AS (SELECT SUM(cnt_s) AS ns, SUM(cnt_t) AS nt FROM counts),
        |ratios AS (SELECT bucket,
        |  CAST(round((ln((cnt_t + 1.0) / (nt + 256.0)) - ln((cnt_s + 1.0) / (ns + 256.0)))
        |       * 1000000.0, 0) AS BIGINT) AS r_units
        |  FROM counts CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(r_units) AS BIGINT) AS weight_units
        |FROM tb JOIN ratios ON ratios.bucket = tb.bucket
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // BPE tokenizer: merges trained on the distributed word-count dict
    // (driver loop = model params, the IVF discipline), compiled encode
    Query("text_bpe_train", (s, d) => graft.llm.Bpe.bpeTrain(Tables.documents(s, d)),
      Exempt("iterative merge loop not SQL-expressible, gated in BpeSpec")),
    Query("text_bpe_encode", (s, d) => graft.llm.Bpe.bpeEncode(Tables.documents(s, d)),
      Exempt("iterative merge loop not SQL-expressible, gated in BpeSpec")),
    // tokenizer served from the PERSISTED merge-model epoch: zero
    // training work on the encode path (BpeSpec pins equality + reuse)
    Query("text_bpe_encode_persisted", (s, d) => graft.llm.Bpe.bpeEncodePersisted(s, Tables.documents(s, d)),
      Exempt("epoch artifact; equality, reuse and plan gated in BpeSpec")),
    // per-lang tokenizer fertility (BPE tokens/word) from the persisted
    // model — exempt (BPE-derived); BpeSpec pins an in-memory recompute
    Query("text_bpe_fertility", (s, d) => graft.llm.Bpe.bpeFertility(s, Tables.documents(s, d)),
      Exempt("BPE-derived; in-memory recompute gated in BpeSpec")),
    // co-citation host similarity with the in-degree cap (the df-cap
    // rule applied to the link graph)
    Query("graph_neighbor_jaccard", (s, d) => graft.ops.Graph.neighborJaccard(Tables.documents(s, d)),
      /* graph_neighbor_jaccard: co-citation pairs from the capped
       * target-keyed self-join; full out-degrees in the denominator.
       * DuckDB `/` on integers is float division, matching Spark. */
      Sql("""WITH e AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |keepdst AS (SELECT dst FROM e GROUP BY dst HAVING COUNT(*) <= 50),
        |c AS (SELECT e.src, e.dst FROM e JOIN keepdst ON keepdst.dst = e.dst),
        |i AS (SELECT e1.src AS a, e2.src AS b, COUNT(*) AS inter
        |  FROM c e1 JOIN c e2 ON e1.dst = e2.dst AND e1.src < e2.src
        |  GROUP BY e1.src, e2.src HAVING COUNT(*) >= 1)
        |SELECT a, b, inter,
        |  round(inter / (da.deg + db.deg - inter), 4) + 0.0 AS jac
        |FROM i JOIN deg da ON da.src = a JOIN deg db ON db.src = b
        |ORDER BY a, b""".stripMargin)),
    // GPT-3-protocol eval decontamination: train docs flagged on any
    // shared word-13-gram with the test split (broadcast eval grams)
    Query("pipeline_decontaminate", (s, d) => TrainingPrep.decontaminate(Tables.documents(s, d)),
      /* pipeline_decontaminate: split CASE = the splitCol md5 law;
       * 13-gram terms generated from the same k the Spark op uses. */
      Sql {
        val k = 13
        val terms = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
        s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t,
           |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'c' THEN 'train'
           |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'e' THEN 'val'
           |       ELSE 'test' END AS split FROM documents),
           |sh AS (SELECT doc_id, split, list_distinct(list_transform(range(len(t)-${k - 1}),
           |  i -> $terms)) AS shs FROM base),
           |ev AS (SELECT DISTINCT unnest(shs) AS g FROM sh WHERE split = 'test'),
           |hits AS (SELECT DISTINCT x.doc_id FROM
           |  (SELECT doc_id, unnest(shs) AS g FROM sh WHERE split = 'train') x
           |  JOIN ev ON ev.g = x.g)
           |SELECT base.doc_id, CAST(hits.doc_id IS NOT NULL AS INT) AS contaminated
           |FROM base LEFT JOIN hits ON hits.doc_id = base.doc_id
           |WHERE base.split = 'train' ORDER BY base.doc_id""".stripMargin
      }),
    // SemDeDup with Lloyd-TRAINED centroids — the balance-robust
    // production path (seed E-step balance is data-dependent)
    Query("dedup_semantic_trained", (s, d) => Dedup.semanticDedupTrained(Corpus.vecCorpus(Tables.embeddings(s, d))),
      Exempt("Lloyd float training, gated in LlmOpsSpec")),
    // MATCH_RECOGNIZE-lite: strictly-consecutive view→click→purchase
    // per user, one user_id exchange
    Query("win_sequence_detect", (s, d) => graft.ops.Behavior.sequenceDetect(Tables.events(s, d)),
      /* win_sequence_detect: LEAD adjacency over (ts, event_id) total
       * order — overlapping matches count, mirroring the Spark LEADs. */
      Sql("""WITH o AS (SELECT user_id, event_id, event_type,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id) AS t1,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id) AS t2
        | FROM events)
        |SELECT user_id, COUNT(*) AS n_matches, MIN(event_id) AS first_event
        |FROM o WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // daily cumulative distinct users per event type (r7): first-day
    // reduction + running sum — NOT collect_set window state
    Query("win_cumulative_distinct", (s, d) => Windows.cumulativeDistinct(Tables.events(s, d)),
      /* win_cumulative_distinct: first-day reduction + running sum (the
       * scalable cumulative-distinct identity); window SUM cast to BIGINT
       * (DuckDB HUGEINT promotion, the r6 lesson). */
      Sql("""WITH fd AS (SELECT event_type, user_id,
        |  MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day
        | FROM events GROUP BY event_type, user_id),
        |nu AS (SELECT event_type, first_day AS day, COUNT(*) AS new_users
        | FROM fd GROUP BY event_type, first_day)
        |SELECT event_type, day, new_users,
        | CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM nu ORDER BY event_type, day""".stripMargin)),
    // fourth capstone: decontaminated + target-like (DSIR weight > 0)
    // train docs, sharded for ingestion — the round-6 tier composed
    Query("pipeline_target_curation", (s, d) => TrainingPrep.targetCuration(Tables.documents(s, d)),
      /* pipeline_target_curation: the decontamination CTEs and the DSIR
       * CTEs composed — uncontaminated train docs with positive weight,
       * sharded by the seeded md5 law. */
      Sql {
        val k = 13
        val terms = (1 to k).map(j => s"t[i+$j]").mkString(" || ' ' || ")
        s"""WITH base AS (SELECT doc_id, text, lang, string_split(text, ' ') AS t,
           |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'c' THEN 'train'
           |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < 'e' THEN 'val'
           |       ELSE 'test' END AS split FROM documents),
           |sh AS (SELECT doc_id, split, list_distinct(list_transform(range(len(t)-${k - 1}),
           |  i -> $terms)) AS shs FROM base),
           |ev AS (SELECT DISTINCT unnest(shs) AS g FROM sh WHERE split = 'test'),
           |hits AS (SELECT DISTINCT x.doc_id FROM
           |  (SELECT doc_id, unnest(shs) AS g FROM sh WHERE split = 'train') x
           |  JOIN ev ON ev.g = x.g),
           |tb AS (SELECT doc_id, lang, substr(md5(word), 1, 2) AS bucket FROM
           |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents) t),
           |counts AS (SELECT bucket, COUNT(*) AS cnt_s,
           |  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_t FROM tb GROUP BY bucket),
           |tot AS (SELECT SUM(cnt_s) AS ns, SUM(cnt_t) AS nt FROM counts),
           |ratios AS (SELECT bucket,
           |  CAST(round((ln((cnt_t + 1.0) / (nt + 256.0)) - ln((cnt_s + 1.0) / (ns + 256.0)))
           |       * 1000000.0, 0) AS BIGINT) AS r_units FROM counts CROSS JOIN tot),
           |w AS (SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(r_units) AS BIGINT) AS weight_units
           |  FROM tb JOIN ratios ON ratios.bucket = tb.bucket GROUP BY doc_id)
           |SELECT base.doc_id, w.n_tokens, w.weight_units,
           |  substr(md5('42:' || CAST(base.doc_id AS VARCHAR)), 1, 1) AS shard
           |FROM base JOIN w ON w.doc_id = base.doc_id
           |LEFT JOIN hits ON hits.doc_id = base.doc_id
           |WHERE base.split = 'train' AND hits.doc_id IS NULL AND w.weight_units > 0
           |ORDER BY base.doc_id""".stripMargin
      }),
    // DSIR delta scoring: a derived "new batch" scored against the BASE
    // corpus's bucket model (the persisted-epoch shape, oracle-checked
    // through the recompute path)
    Query("pipeline_dsir_delta", (s, d) => {
      val docs = Tables.documents(s, d)
      TrainingPrep.dsirWeightsDelta(docs, docs.filter(col("doc_id") % 4 === 1)
        .withColumn("doc_id", col("doc_id") + 400000)
        .withColumn("text", concat(col("text"), lit(" dsir delta probe"))))
    },
      /* pipeline_dsir_delta: base bucket model scores the derived delta
       * batch; unseen buckets coalesce to the zero-count smoothed ratio. */
      Sql("""WITH tb AS (SELECT doc_id, lang, substr(md5(word), 1, 2) AS bucket FROM
        |  (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents) t),
        |counts AS (SELECT bucket, COUNT(*) AS cnt_s,
        |  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_t FROM tb GROUP BY bucket),
        |tot AS (SELECT SUM(cnt_s) AS ns, SUM(cnt_t) AS nt FROM counts),
        |ratios AS (SELECT bucket,
        |  CAST(round((ln((cnt_t + 1.0) / (nt + 256.0)) - ln((cnt_s + 1.0) / (ns + 256.0)))
        |       * 1000000.0, 0) AS BIGINT) AS r_units
        |  FROM counts CROSS JOIN tot),
        |zr AS (SELECT CAST(round((ln((0 + 1.0) / (nt + 256.0)) - ln((0 + 1.0) / (ns + 256.0)))
        |       * 1000000.0, 0) AS BIGINT) AS zero_r FROM tot),
        |delta AS (SELECT doc_id + 400000 AS doc_id, text || ' dsir delta probe' AS text
        |  FROM documents WHERE doc_id % 4 = 1),
        |dt AS (SELECT doc_id, substr(md5(word), 1, 2) AS bucket FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM delta) t)
        |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(COALESCE(r_units, zero_r)) AS BIGINT) AS weight_units
        |FROM dt LEFT JOIN ratios ON ratios.bucket = dt.bucket CROSS JOIN zr
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )

  // ---------------------------------------------------------------- oracle

  /** Shared DuckDB CTE chain: dup-injected corpus -> word-3-gram shingles
    * -> Jaccard pairs >= 0.5 (used by dedup_ngram_jaccard and the
    * recursive-closure dedup_cluster oracle). */
  private val jaccardCtes =
    s"""corpus AS (${Corpus.docCorpusSql}),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(string_split(text,' '))-2),
       |  i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) AS shs
       | FROM corpus),
       |ex AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM sh),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS a_n, b.n_sh AS b_n, count(*) AS inter
       | FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2,3,4),
       |jpairs AS (SELECT a_id, b_id, floor(CAST(inter AS DOUBLE)/(a_n + b_n - inter)*1e4 + 0.5)/1e4 AS jaccard
       | FROM p WHERE floor(CAST(inter AS DOUBLE)/(a_n + b_n - inter)*1e4 + 0.5)/1e4 >= 0.5)""".stripMargin

  /** Shared by dedup_containment AND dedup_containment_prefix: the twins'
    * contract is a bit-identical answer, so they must share ONE literal. */
  private val containmentOracleSql =
    s"""WITH $jaccardCtes
       |SELECT contained_id, container_id, containment FROM (
       | SELECT a_id AS contained_id, b_id AS container_id,
       |        floor(CAST(inter AS DOUBLE)/a_n*1e4 + 0.5)/1e4 AS containment FROM p
       | UNION ALL
       | SELECT b_id, a_id, floor(CAST(inter AS DOUBLE)/b_n*1e4 + 0.5)/1e4 FROM p) d
       |WHERE containment >= 0.8 ORDER BY contained_id, container_id""".stripMargin

  /** pipeline_dedup_ordered: stage 1 = exact-survivor CTE (min doc_id
    * per md5(text) — same rule as dedup_exact), stage 2 = the SAME
    * directed-containment chain as containmentOracleSql but over the
    * survivors, plus the mutual-pair resolution: a doc drops iff some
    * container holds it one-way, or — mutual pair — iff it has the
    * larger doc_id. */
  private val orderedDedupOracleSql =
    s"""WITH corpus AS (${Corpus.docCorpusSql}),
       |surv AS (SELECT doc_id, text, n_chars FROM (
       |  SELECT doc_id, text, n_chars,
       |   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM corpus) t
       | WHERE rn = 1),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(string_split(text,' '))-2),
       |  i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) AS shs
       | FROM surv),
       |ex AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM sh),
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS a_n, b.n_sh AS b_n, count(*) AS inter
       | FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2,3,4),
       |q AS (SELECT contained_id, container_id FROM (
       |  SELECT a_id AS contained_id, b_id AS container_id,
       |         floor(CAST(inter AS DOUBLE)/a_n*1e4 + 0.5)/1e4 AS containment FROM p
       |  UNION ALL
       |  SELECT b_id, a_id, floor(CAST(inter AS DOUBLE)/b_n*1e4 + 0.5)/1e4 FROM p) d
       | WHERE containment >= 0.8),
       |dropped AS (SELECT DISTINCT x.contained_id AS doc_id
       | FROM q x LEFT JOIN q y
       |   ON x.contained_id = y.container_id AND x.container_id = y.contained_id
       | WHERE y.contained_id IS NULL OR x.container_id < x.contained_id)
       |SELECT s.doc_id, s.n_chars FROM surv s
       |LEFT JOIN dropped dr ON s.doc_id = dr.doc_id
       |WHERE dr.doc_id IS NULL ORDER BY s.doc_id""".stripMargin

  /** graph_pagerank: the 3 Lloyd-style iterations UNROLLED as CTE
    * triples (contrib → incoming → update). All arithmetic is BIGINT
    * fixed-point (units of 1e-12, floor division) — the property that
    * makes an iterative algorithm hash-comparable across engines at
    * all; DuckDB's `//` and Spark's `div` agree on non-negative
    * operands. Every SUM (and the rank expression it feeds) is CAST
    * back to BIGINT: DuckDB promotes SUM(BIGINT) to HUGEINT, and the
    * driver's comparator is type-strict even when the stringified
    * values agree (round-6 verdict, the 7-key HUGEINT class). */
  /** graph_hits: 3 unrolled HITS iterations in exact fixed-point integer
    * arithmetic (the pagerank oracle discipline); sums CAST to BIGINT
    * (DuckDB SUM(BIGINT) is HUGEINT). */
  private val hitsOracleSql: String = {
    val S = 10000000L
    def iter(i: Int): String =
      s"""ar$i AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS ar
         | FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
         |at$i AS (SELECT CAST(SUM(ar) AS BIGINT) AS at FROM ar$i),
         |a$i AS (SELECT nodes.node, CAST((COALESCE(ar, 0) * $S) // at AS BIGINT) AS a
         | FROM nodes CROSS JOIN at$i LEFT JOIN ar$i ON ar$i.node = nodes.node),
         |hr$i AS (SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS hr
         | FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
         |ht$i AS (SELECT CAST(SUM(hr) AS BIGINT) AS ht FROM hr$i),
         |h$i AS (SELECT nodes.node, CAST((COALESCE(hr, 0) * $S) // ht AS BIGINT) AS h
         | FROM nodes CROSS JOIN ht$i LEFT JOIN hr$i ON hr$i.node = nodes.node)"""
    s"""WITH edges AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
       |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges) u),
       |h0 AS (SELECT node, CAST($S AS BIGINT) AS h FROM nodes),
       |${(1 to 3).map(iter).mkString(",\n")}
       |SELECT nodes.node, a3.a AS auth_units, h3.h AS hub_units
       |FROM nodes JOIN a3 ON a3.node = nodes.node JOIN h3 ON h3.node = nodes.node
       |ORDER BY nodes.node""".stripMargin
  }

  /** graph_label_propagation: the deterministic-LPA rounds unrolled —
    * same undirected self-loop-free edge CTE as the Spark side, per
    * round a (node, label) vote count and a (cnt DESC, label ASC)
    * row_number top-1, isolated nodes coalescing to their own id. */
  /** The LPA label CTEs (through l3), shared by the LPA oracle and the
    * modularity oracle so the two cannot diverge onto different
    * partitions. */
  private val lpaCtes: String = {
    def round(i: Int): String = {
      val prev = s"l${i - 1}"
      s"""v$i AS (SELECT e.dst AS node, l.label AS label, count(*) AS cnt
         | FROM e JOIN $prev l ON l.node = e.src GROUP BY 1, 2),
         |a$i AS (SELECT node, label,
         |  row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rk FROM v$i),
         |l$i AS (SELECT n.node, COALESCE(a.label, n.node) AS label
         | FROM nodes n LEFT JOIN (SELECT node, label FROM a$i WHERE rk = 1) a ON a.node = n.node)""".stripMargin
    }
    s"""e0 AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
       |e AS (SELECT src, dst FROM e0 WHERE src <> dst
       | UNION SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst),
       |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e0 UNION ALL SELECT dst AS node FROM e0) u),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |${(1 to 3).map(round).mkString(",\n")}""".stripMargin
  }

  private val lpaOracleSql: String =
    s"""WITH $lpaCtes
       |SELECT node, CAST(label AS BIGINT) AS label FROM l3 ORDER BY node""".stripMargin

  /** graph_modularity: Newman's Q per LPA community — integer
    * numerator (4·m·e_c − d_c²), one double division, floor-rounded
    * at 9dp on both engines. */
  private val modularityOracleSql: String =
    s"""WITH $lpaCtes,
       |mu AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e0 WHERE src <> dst),
       |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM mu),
       |degu AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
       | FROM (SELECT a AS node FROM mu UNION ALL SELECT b AS node FROM mu) t GROUP BY 1),
       |dc AS (SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(COALESCE(d.deg, 0)) AS BIGINT) AS deg_sum
       | FROM l3 l LEFT JOIN degu d ON d.node = l.node GROUP BY 1),
       |ec AS (SELECT la.label AS label, CAST(COUNT(*) AS BIGINT) AS intra
       | FROM mu JOIN l3 la ON la.node = mu.a JOIN l3 lb ON lb.node = mu.b
       | WHERE la.label = lb.label GROUP BY 1)
       |SELECT CAST(dc.label AS BIGINT) AS label, n_nodes, deg_sum,
       | CAST(COALESCE(intra, 0) AS BIGINT) AS intra_edges,
       | floor(CAST(4 * m * COALESCE(intra, 0) - deg_sum * deg_sum AS DOUBLE)
       |   / (4.0 * m * m) * 1e9 + 0.5) / 1e9 AS contrib
       |FROM dc LEFT JOIN ec ON ec.label = dc.label CROSS JOIN mm
       |ORDER BY label""".stripMargin

  private val pagerankOracleSql: String = {
    def iter(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS node, (r.rank // d.deg) AS c
         | FROM edges e JOIN deg d ON e.src = d.src JOIN $prev r ON r.node = e.src),
         |i$i AS (SELECT node, CAST(SUM(c) AS BIGINT) AS inc FROM c$i GROUP BY node),
         |r$i AS (SELECT nodes.node,
         |  CAST((150000000000 // n) + ((85 * COALESCE(inc, 0)) // 100) AS BIGINT) AS rank
         | FROM nodes CROSS JOIN nt LEFT JOIN i$i ON i$i.node = nodes.node)""".stripMargin
    }
    s"""WITH edges AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges) u),
       |nt AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1000000000000 // n AS rank FROM nodes CROSS JOIN nt),
       |${(1 to 3).map(iter).mkString(",\n")}
       |SELECT node, rank AS rank_units FROM r3 ORDER BY node""".stripMargin
  }

  /** graph_pagerank_dangling: the pagerank CTEs over a dst-mod-211 graph
    * (dst-only hosts have no out-edges — dangling), plus the dangling
    * term: d$i = exact BIGINT sum of the previous ranks over nodes with
    * no out-edge, redistributed as `dm // n` inside the damped sum —
    * mirroring Graph.step(redistribute = true) exactly. */
  private val pagerankDanglingOracleSql: String = {
    def iter(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS node, (r.rank // d.deg) AS c
         | FROM edges e JOIN deg d ON e.src = d.src JOIN $prev r ON r.node = e.src),
         |i$i AS (SELECT node, CAST(SUM(c) AS BIGINT) AS inc FROM c$i GROUP BY node),
         |d$i AS (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dm
         | FROM $prev r LEFT JOIN deg ON deg.src = r.node WHERE deg.src IS NULL),
         |r$i AS (SELECT nodes.node,
         |  CAST((150000000000 // n) + ((85 * (COALESCE(inc, 0) + (dm // n))) // 100) AS BIGINT) AS rank
         | FROM nodes CROSS JOIN nt CROSS JOIN d$i LEFT JOIN i$i ON i$i.node = nodes.node)""".stripMargin
    }
    s"""WITH edges AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 211 AS dst FROM documents),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges) u),
       |nt AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1000000000000 // n AS rank FROM nodes CROSS JOIN nt),
       |${(1 to 3).map(iter).mkString(",\n")}
       |SELECT node, rank AS rank_units FROM r3 ORDER BY node""".stripMargin
  }

  /** graph_ppr: the pagerank CTEs with the teleport CASE-gated to the
    * seed residue (node % 17 = 0) and divided by |S| (the 1-row st
    * CTE) instead of n — mirroring Graph.personalizedPagerank's
    * fixed-point arithmetic exactly. */
  private val pprOracleSql: String = {
    def iter(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS node, (r.rank // d.deg) AS c
         | FROM edges e JOIN deg d ON e.src = d.src JOIN $prev r ON r.node = e.src),
         |i$i AS (SELECT node, CAST(SUM(c) AS BIGINT) AS inc FROM c$i GROUP BY node),
         |r$i AS (SELECT nodes.node,
         |  CAST((CASE WHEN nodes.node % 17 = 0 THEN 150000000000 // ns ELSE 0 END)
         |    + ((85 * COALESCE(inc, 0)) // 100) AS BIGINT) AS rank
         | FROM nodes CROSS JOIN st LEFT JOIN i$i ON i$i.node = nodes.node)""".stripMargin
    }
    s"""WITH edges AS (SELECT DISTINCT doc_id % 200 AS src, (doc_id * 31 + doc_id // 7) % 200 AS dst FROM documents),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges) u),
       |st AS (SELECT COUNT(*) AS ns FROM nodes WHERE node % 17 = 0),
       |r0 AS (SELECT node, CAST(CASE WHEN node % 17 = 0 THEN 1000000000000 // ns ELSE 0 END AS BIGINT) AS rank
       | FROM nodes CROSS JOIN st),
       |${(1 to 3).map(iter).mkString(",\n")}
       |SELECT node, rank AS rank_units FROM r3 ORDER BY node""".stripMargin
  }

  /** The langid score/prediction CTEs (through `p`), shared by the
    * per-doc langid oracle and the confusion-matrix rollup so the two
    * cannot diverge onto different predictions. */
  private val langidCtes: String =
    """s AS (SELECT doc_id, lang AS lang_declared,
      | floor(CAST(len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und'))) AS DOUBLE)/len(string_split(text,' '))*1e4 + 0.5)/1e4 AS score_de,
      | floor(CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','is'))) AS DOUBLE)/len(string_split(text,' '))*1e4 + 0.5)/1e4 AS score_en,
      | floor(CAST(len(list_filter(string_split(text,' '), x -> x IN ('el','los','y','que'))) AS DOUBLE)/len(string_split(text,' '))*1e4 + 0.5)/1e4 AS score_es,
      | floor(CAST(len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','les'))) AS DOUBLE)/len(string_split(text,' '))*1e4 + 0.5)/1e4 AS score_fr
      | FROM documents),
      |p AS (SELECT *,
      | CASE WHEN score_en IS NULL THEN 'und'
      |  WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
      |  WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
      |  WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
      |  WHEN score_fr >= score_es THEN 'fr'
      |  ELSE 'es' END AS lang_pred
      |FROM s)""".stripMargin

  /** The STL decomposition CTEs (through `stl`), shared by the
    * decomposition oracle and the residual-anomaly oracle so the two
    * cannot diverge onto different residuals. */
  private val stlCtes: String =
    """daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, day, cents,
      |  count(*) OVER w7 AS tw, CAST(SUM(cents) OVER w7 AS BIGINT) AS tsum
      | FROM daily WINDOW w7 AS (PARTITION BY event_type ORDER BY day
      |   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |b AS (SELECT event_type, day, cents,
      |  CASE WHEN tw = 7 THEN tsum END AS t7,
      |  CASE WHEN tw = 7 THEN cents*7 - tsum END AS d7,
      |  CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS BIGINT) AS dow
      | FROM w),
      |seas AS (SELECT event_type, dow, CAST(SUM(d7) AS BIGINT) AS sd7,
      |  CAST(count(*) AS BIGINT) AS nd
      | FROM b WHERE d7 IS NOT NULL GROUP BY 1, 2),
      |stl AS (SELECT b.event_type, b.day,
      | floor(CAST(cents AS DOUBLE)/100*1e4 + 0.5)/1e4 AS value,
      | floor(CAST(t7 AS DOUBLE)/7/100*1e4 + 0.5)/1e4 AS trend,
      | floor(CAST(sd7 AS DOUBLE)/CAST(nd*7 AS DOUBLE)/100*1e4 + 0.5)/1e4 AS seasonal,
      | floor((CAST(cents AS DOUBLE) - CAST(t7 AS DOUBLE)/7
      |   - CAST(sd7 AS DOUBLE)/CAST(nd*7 AS DOUBLE))/100*1e4 + 0.5)/1e4 AS resid
      | FROM b LEFT JOIN seas s ON b.event_type = s.event_type AND b.dow = s.dow)""".stripMargin

  /** dedup_minhash_oracle SQL, GENERATED from the same constants the
    * Spark operator uses (Dedup.MinhashParams) so the two sides cannot
    * drift: per-shingle rolling code-point fingerprint (the
    * text_fingerprint fold), 16 affine min-hashes mod 1e9+7, 4 banded
    * fold signatures, candidate pairs by band-bucket equality. */
  private val minhashCtes: String = {
    val P = graft.llm.Dedup.MinhashP
    val rpb = graft.llm.Dedup.MinhashRowsPerBand
    val sigCols = graft.llm.Dedup.MinhashParams.zipWithIndex
      .map { case ((a, b), i) => s"  min(($a*f+$b)%$P) AS s$i" }
      .mkString(",\n")
    val bands = (0 until graft.llm.Dedup.MinhashParams.size / rpb).map { bnd =>
      val fold = (bnd * rpb until (bnd + 1) * rpb)
        .foldLeft("CAST(0 AS BIGINT)") { (acc, i) => s"($acc*31+s$i)%$P" }
      s" SELECT doc_id, $bnd AS band, $fold AS bs FROM sig"
    }.mkString("\n UNION ALL\n")
    s"""corpus AS (${Corpus.docCorpusSql}),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(string_split(text,' '))-2),
       |  i -> string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])) AS shs
       | FROM corpus),
       |ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
       |f AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split(sh,''), c -> CAST(unicode(c) AS BIGINT))),
       |  (a,b) -> (a*31+b)%$P) AS f FROM ex),
       |sig AS (SELECT doc_id,
       |$sigCols
       | FROM f GROUP BY doc_id),
       |bnd AS (
       |$bands),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       | FROM bnd x JOIN bnd y ON x.band = y.band AND x.bs = y.bs AND x.doc_id < y.doc_id)""".stripMargin
  }

  private val minhashOracleSql: String =
    s"""WITH $minhashCtes
       |SELECT a_id, b_id FROM cand ORDER BY a_id, b_id""".stripMargin

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * 10000 AS DECIMAL(26,0))) AS DOUBLE) / 10000.0 AS sum_disc_price,
      | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2))) * 1000000 AS DECIMAL(26,0))) AS DOUBLE) / 1000000.0 AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** The Holt recursion as a recursive CTE (shared by ts_holt and
    * ts_holt_backtest — the backtest scores exactly the state the
    * smoother fitted). */
  private val holtCtes =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(CAST(value*100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |num AS (SELECT event_type, day, cents,
      |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn FROM daily),
      |holt(event_type, rn, day, cents, l, b, f) AS (
      |  SELECT event_type, rn, day, cents, cents, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
      |   FROM num WHERE rn = 1
      |  UNION ALL
      |  SELECT d.event_type, d.rn, d.day, d.cents,
      |    CAST(floor(CAST(d.cents + h.l + h.b AS DOUBLE) / 2) AS BIGINT),
      |    CAST(floor(CAST(CAST(floor(CAST(d.cents + h.l + h.b AS DOUBLE) / 2) AS BIGINT)
      |      - h.l + h.b AS DOUBLE) / 2) AS BIGINT),
      |    h.l + h.b
      |  FROM holt h JOIN num d ON d.event_type = h.event_type AND d.rn = h.rn + 1)""".stripMargin

  /** The SCC CTE chain (shared by graph_scc and the condensation DAG,
    * which quotients the same ids). */
  private val sccCtes =
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT doc_id % 250 AS src, (doc_id * 31 + doc_id // 7) % 250 AS dst
      |  FROM documents WHERE doc_id % 2 = 0),
      |e2 AS (SELECT src, dst FROM edges WHERE src <> dst),
      |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |reach(src, dst) AS (SELECT src, dst FROM e2
      |  UNION SELECT r.src, e.dst FROM reach r JOIN e2 e ON e.src = r.dst),
      |mutual AS (SELECT r1.src AS node, r1.dst AS m
      |  FROM reach r1 JOIN reach r2 ON r2.src = r1.dst AND r2.dst = r1.src),
      |ids AS (SELECT n.node, LEAST(n.node, COALESCE(MIN(m.m), n.node)) AS scc_id
      |  FROM nodes n LEFT JOIN mutual m ON m.node = n.node GROUP BY n.node)""".stripMargin

  private val sccSql = sccCtes +
    """,
      |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size FROM ids GROUP BY 1)
      |SELECT i.node, i.scc_id, s.scc_size FROM ids i JOIN sz s USING (scc_id)
      |ORDER BY i.node""".stripMargin

  /** Body of the keyed-diff changeset as a DuckDB SELECT (shared by
    * diff_keyed and agg_changeset_summary). */
  private val diffKeyedBody =
    s"""WITH oldt AS (${Snapshots.oldSql}), newt AS (${Snapshots.newSql}),
       |j AS (SELECT o.slno AS o_slno, n.slno AS n_slno,
       |  o.name AS o_name, n.name AS n_name, o.acctbal AS o_acctbal, n.acctbal AS n_acctbal,
       |  o.segment AS o_segment, n.segment AS n_segment
       | FROM oldt o FULL OUTER JOIN newt n ON o.slno = n.slno)
       |SELECT 'insert' AS op, n_slno AS slno, '' AS col, CAST(NULL AS VARCHAR) AS old_val,
       |  CAST(to_json(struct_pack(name := n_name, acctbal := n_acctbal, segment := n_segment)) AS VARCHAR) AS new_val
       | FROM j WHERE o_slno IS NULL
       |UNION ALL
       |SELECT 'delete', o_slno, '',
       |  CAST(to_json(struct_pack(name := o_name, acctbal := o_acctbal, segment := o_segment)) AS VARCHAR),
       |  CAST(NULL AS VARCHAR)
       | FROM j WHERE n_slno IS NULL
       |UNION ALL
       |SELECT 'update', o_slno, 'name', o_name, n_name
       | FROM j WHERE o_slno IS NOT NULL AND n_slno IS NOT NULL AND o_name IS DISTINCT FROM n_name
       |UNION ALL
       |SELECT 'update', o_slno, 'acctbal', o_acctbal, n_acctbal
       | FROM j WHERE o_slno IS NOT NULL AND n_slno IS NOT NULL AND o_acctbal IS DISTINCT FROM n_acctbal
       |UNION ALL
       |SELECT 'update', o_slno, 'segment', o_segment, n_segment
       | FROM j WHERE o_slno IS NOT NULL AND n_slno IS NOT NULL AND o_segment IS DISTINCT FROM n_segment""".stripMargin

  /** Three-way merge oracle, generated from the column list so the
    * per-cell rule is written once — the SQL mirror of
    * SnapshotDiff.merge3Way's per-column when-chains. */
  private val merge3Sql: String = {
    val cols = Seq("name", "acctbal", "segment")
    def oNe(c: String) = s"(o_$c IS DISTINCT FROM b_$c)"
    def tNe(c: String) = s"(t_$c IS DISTINCT FROM b_$c)"
    def sNe(c: String) = s"(o_$c IS DISTINCT FROM t_$c)"
    def conf(c: String) =
      s"((in_b AND in_o AND in_t AND ${oNe(c)} AND ${tNe(c)} AND ${sNe(c)})" +
        s" OR (NOT in_b AND in_o AND in_t AND ${sNe(c)}))"
    val changedO = cols.map(oNe).mkString("(", " OR ", ")")
    val changedT = cols.map(tNe).mkString("(", " OR ", ")")
    val sidesEq = cols.map(c => s"(NOT ${sNe(c)})").mkString("(", " AND ", ")")
    val anyConf = cols.map(conf).mkString("(", " OR ", ")")
    val surviving = "((in_o AND in_t) OR (NOT in_b AND (in_o OR in_t)))"
    def mergedC(c: String) =
      s"CASE WHEN NOT $surviving OR ${conf(c)} THEN NULL\n" +
        s"  WHEN in_b AND in_o AND in_t THEN (CASE WHEN ${oNe(c)} THEN o_$c" +
        s" WHEN ${tNe(c)} THEN t_$c ELSE b_$c END)\n" +
        s"  WHEN NOT in_b AND in_o THEN o_$c ELSE t_$c END AS $c"
    val action =
      s"CASE WHEN in_b AND in_o AND in_t THEN (\n" +
        s"  CASE WHEN $anyConf THEN 'conflict'\n" +
        s"   WHEN NOT $changedO AND NOT $changedT THEN 'keep'\n" +
        s"   WHEN $changedO AND NOT $changedT THEN 'ours'\n" +
        s"   WHEN NOT $changedO AND $changedT THEN 'theirs'\n" +
        s"   WHEN $sidesEq THEN 'both' ELSE 'merged' END)\n" +
        s" WHEN in_b AND in_o THEN (CASE WHEN $changedO THEN 'delete_conflict' ELSE 'delete_theirs' END)\n" +
        s" WHEN in_b AND in_t THEN (CASE WHEN $changedT THEN 'delete_conflict' ELSE 'delete_ours' END)\n" +
        s" WHEN in_b THEN 'delete_both'\n" +
        s" WHEN in_o AND in_t THEN (CASE WHEN $sidesEq THEN 'insert_both' ELSE 'insert_conflict' END)\n" +
        s" WHEN in_o THEN 'insert_ours' ELSE 'insert_theirs' END AS action"
    val confCols = "concat_ws(','," +
      cols.map(c => s" CASE WHEN ${conf(c)} THEN '$c' END").mkString(",") +
      ") AS conflict_cols"
    s"WITH bt AS (${Snapshots.oldSql}),\n" +
      s"ot AS (${Snapshots.oursSql}),\n" +
      s"tt AS (${Snapshots.theirsSql}),\n" +
      "j AS (SELECT b.slno AS bk, o.slno AS ok, t.slno AS tk,\n  " +
      cols.map(c => s"b.$c AS b_$c, o.$c AS o_$c, t.$c AS t_$c").mkString(",\n  ") +
      "\n FROM bt b FULL OUTER JOIN ot o ON b.slno = o.slno\n" +
      " FULL OUTER JOIN tt t ON COALESCE(b.slno, o.slno) = t.slno),\n" +
      "f AS (SELECT *, bk IS NOT NULL AS in_b, ok IS NOT NULL AS in_o, tk IS NOT NULL AS in_t FROM j)\n" +
      s"SELECT CAST(COALESCE(bk, ok, tk) AS BIGINT) AS slno,\n $action,\n $confCols,\n " +
      cols.map(mergedC).mkString(",\n ") +
      "\nFROM f ORDER BY slno"
  }

  private val diffPositionalSql =
    s"""WITH bq AS (${Snapshots.bqSql}), sheet AS (${Snapshots.sheetSql}),
       |l1 AS (SELECT slno, name, acctbal, segment, row_number() OVER (ORDER BY slno) AS pos FROM bq),
       |l2 AS (SELECT slno, name, acctbal, segment, row_number() OVER (ORDER BY slno) AS pos FROM sheet),
       |j AS (SELECT l1.pos AS a_pos, l2.pos AS b_pos,
       |  l1.slno AS a_slno, l2.slno AS b_slno, l1.name AS a_name, l2.name AS b_name,
       |  l1.acctbal AS a_acctbal, l2.acctbal AS b_acctbal, l1.segment AS a_segment, l2.segment AS b_segment
       | FROM l1 FULL OUTER JOIN l2 ON l1.pos = l2.pos)
       |SELECT * FROM (
       |SELECT CAST(a_pos AS BIGINT) AS pos, 'del_row' AS op, a_slno AS slno, '' AS col,
       |  CAST(to_json(struct_pack(slno := CAST(a_slno AS VARCHAR), name := a_name, acctbal := a_acctbal, segment := a_segment)) AS VARCHAR) AS old_val,
       |  CAST(NULL AS VARCHAR) AS new_val FROM j WHERE b_pos IS NULL
       |UNION ALL
       |SELECT CAST(b_pos AS BIGINT), 'extra_row', b_slno, '', CAST(NULL AS VARCHAR),
       |  CAST(to_json(struct_pack(slno := CAST(b_slno AS VARCHAR), name := b_name, acctbal := b_acctbal, segment := b_segment)) AS VARCHAR)
       | FROM j WHERE a_pos IS NULL
       |UNION ALL
       |SELECT CAST(a_pos AS BIGINT), 'diff', a_slno, 'slno', CAST(a_slno AS VARCHAR), CAST(b_slno AS VARCHAR)
       | FROM j WHERE a_pos IS NOT NULL AND b_pos IS NOT NULL AND CAST(a_slno AS VARCHAR) IS DISTINCT FROM CAST(b_slno AS VARCHAR)
       |UNION ALL
       |SELECT CAST(a_pos AS BIGINT), 'diff', a_slno, 'name', a_name, b_name
       | FROM j WHERE a_pos IS NOT NULL AND b_pos IS NOT NULL AND a_name IS DISTINCT FROM b_name
       |UNION ALL
       |SELECT CAST(a_pos AS BIGINT), 'diff', a_slno, 'acctbal', a_acctbal, b_acctbal
       | FROM j WHERE a_pos IS NOT NULL AND b_pos IS NOT NULL AND a_acctbal IS DISTINCT FROM b_acctbal
       |UNION ALL
       |SELECT CAST(a_pos AS BIGINT), 'diff', a_slno, 'segment', a_segment, b_segment
       | FROM j WHERE a_pos IS NOT NULL AND b_pos IS NOT NULL AND a_segment IS DISTINCT FROM b_segment
       |) t ORDER BY pos, col""".stripMargin

  /* dq_drift_ks (+ its persisted-epoch twin — bit-equal serve, one
   * oracle): same bucket CTEs as dq_drift_psi; D's numerator is exact
   * integer cross-multiplication (cum_old·n_new − cum_new·n_old in
   * DECIMAL(38,0) on the Spark side, HUGEINT arithmetic kept INTERNAL
   * here — only the once-divided rounded double and BIGINTs reach the
   * output), tie-break min bucket. */
  private val driftKsOracleSql: String =
    """WITH ob AS (SELECT CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) AS BIGINT) // 100000 AS bucket,
      |  CAST(count(*) AS BIGINT) AS c_old FROM orders GROUP BY 1),
      |newt AS (SELECT o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 500.0 ELSE 0.0 END AS o_totalprice
      | FROM orders WHERE o_orderkey % 43 <> 0),
      |nb AS (SELECT CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) AS BIGINT) // 100000 AS bucket,
      |  CAST(count(*) AS BIGINT) AS c_new FROM newt GROUP BY 1),
      |j AS (SELECT bucket, CAST(COALESCE(c_old, 0) AS BIGINT) AS c_old,
      |  CAST(COALESCE(c_new, 0) AS BIGINT) AS c_new
      | FROM ob FULL OUTER JOIN nb USING (bucket)),
      |t AS (SELECT CAST(SUM(c_old) AS BIGINT) AS n_old, CAST(SUM(c_new) AS BIGINT) AS n_new FROM j),
      |cum AS (SELECT a.bucket AS bucket, CAST(SUM(b.c_old) AS BIGINT) AS cum_old,
      |  CAST(SUM(b.c_new) AS BIGINT) AS cum_new
      | FROM j a JOIN j b ON b.bucket <= a.bucket GROUP BY a.bucket),
      |g AS (SELECT bucket, abs(CAST(cum_old AS DECIMAL(38,0)) * n_new
      |   - CAST(cum_new AS DECIMAL(38,0)) * n_old) AS gap, n_old, n_new
      | FROM cum CROSS JOIN t),
      |d AS (SELECT n_old, n_new, MAX(gap) AS d_num FROM g GROUP BY n_old, n_new)
      |SELECT floor(CAST(d_num AS DOUBLE) / (CAST(d.n_old AS DOUBLE) * CAST(d.n_new AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ks_d,
      | CAST(MIN(bucket) AS BIGINT) AS at_bucket, d.n_old AS n_old, d.n_new AS n_new
      |FROM d JOIN g ON g.gap = d.d_num
      |GROUP BY d.n_old, d.n_new, d_num""".stripMargin
}
