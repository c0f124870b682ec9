package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Flagship multi-join analytics in classic TPC-H shapes — the "does the
  * engine run a real reporting workload end to end" tier above the
  * single-operator queries. Everything is declarative: Catalyst picks
  * broadcast vs sort-merge per side (the filtered dims fall under the
  * broadcast threshold; the fact-fact join shuffles on the key), pushes
  * the date/segment predicates into the parquet scans, and AQE re-plans
  * at stage boundaries. Revenue aggregates run in exact decimal
  * (graft.ops.Det) so results are shuffle-order and cross-engine stable.
  */
object Analytics {

  /** Date-spine zero-fill: daily order counts/revenue over a calendar
    * scaffold so days with NO orders appear as explicit zeros — the gap a
    * bare groupBy silently leaves and every reporting/time-series
    * pipeline has to repair. The spine is a generated `sequence` (one row
    * per day — broadcast-sized for any sane range); the daily aggregate
    * shuffles once; the fill is a broadcast left join. Both engines cast
    * to DATE explicitly (DuckDB's date_trunc returns DATE, Spark's
    * TIMESTAMP — an implicit cast would hash-diverge). */
  def dateSpineFill(spark: org.apache.spark.sql.SparkSession, orders: DataFrame,
                    from: String = "1997-01-01", until: String = "1997-04-01"): DataFrame = {
    val lastDay = date_sub(to_date(lit(until)), 1)
    val spine = spark.range(1)
      .select(explode(sequence(to_date(lit(from)), lastDay)).as("day"))
    val daily = orders
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice"), 2).as("sum_price"))
    // broadcast the RIGHT side: the preserved (left) side of a left
    // outer join cannot be the broadcast build side, so a hint there is
    // silently ignored — `daily` (one row per active day) is the
    // genuinely tiny side anyway
    spine.join(broadcast(daily), Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_price"), lit(0.0)).as("sum_price"))
      .orderBy("day")
  }

  /** Q3 shape — shipping priority: top-10 unshipped-revenue orders for
    * one market segment. Selective dim (filtered customer) broadcast into
    * the orders⋈lineitem fact join; sort+limit collapses to
    * TakeOrderedAndProject (O(k) per partition, no global sort). */
  def q3Shipping(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                 segment: String = "BUILDING", cutoff: String = "1998-01-01"): DataFrame =
    customer.filter(col("c_mktsegment") === segment)
      .join(orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)

  /** Q10 shape — returned-item reporting: top-20 customers by revenue
    * lost to returns in one quarter. Fact filter (returnflag) pushed to
    * the lineitem scan; nation broadcast; grouped on the customer key
    * then top-k via TakeOrderedAndProject. */
  def q10Returns(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                 nation: DataFrame, qStart: String = "1996-01-01",
                 qEnd: String = "1996-04-01"): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= lit(qStart).cast("timestamp") &&
        col("o_orderdate") < lit(qEnd).cast("timestamp"))
      .join(lineitem.filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  /** Q14 shape — promotion effect: per ship-month, the share of revenue
    * from PROMO-type parts. Conditional aggregation (CASE inside SUM —
    * the no-otherwise form sums to NULL when a month has no promo rows,
    * mirrored exactly by SQL CASE without ELSE); the ratio is formed
    * from the two exact decimal sums in pure double arithmetic. */
  def q14Promo(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val discPrice = Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))
    lineitem.join(part, col("l_partkey") === col("p_partkey"))
      // cast to DATE: DuckDB's date_trunc returns DATE at month/year
      // granularity while Spark keeps TIMESTAMP
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", discPrice)).as("promo_dec"),
        sum(discPrice).as("total_dec"))
      .select(col("ship_month"),
        (Det.rfloor(
          lit(100.0) * coalesce(col("promo_dec").cast("double"), lit(0.0)) /
            col("total_dec").cast("double"), 4) + lit(0.0)).as("promo_share"),
        col("total_dec").cast("double").as("total_revenue"))
      .orderBy("ship_month")
  }

  /** Q7 shape — volume shipping between two nations: revenue by
    * (supplier nation, customer nation, ship year) for the two nation
    * pairs, either direction. The classic two-dimension-table-aliases
    * query: nation joins twice under different roles (supplier side via
    * lineitem⋈supplier, customer side via orders⋈customer); both are
    * broadcast dims, the fact-fact lineitem⋈orders join is the one big
    * shuffle, and the pair predicate is a pushed-down disjunction over
    * the two broadcast outputs. */
  def q7VolumeShipping(lineitem: DataFrame, supplier: DataFrame, orders: DataFrame,
                       customer: DataFrame, nation: DataFrame,
                       nationA: String = "NATION_3", nationB: String = "NATION_7",
                       from: String = "1996-01-01", until: String = "1998-01-01"): DataFrame = {
    val suppNation = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val custNation = nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === nationA && col("cust_nation") === nationB) ||
          (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q8 shape — national market share: one nation's fraction of the
    * discounted revenue for a part type sold into one region, by order
    * year. The deepest join tree in the suite (lineitem⋈orders fact-fact
    * shuffle surrounded by five broadcast dims, nation twice under
    * different roles) feeding a conditional-share aggregate: the share
    * ratio is formed from two exact decimal sums per year, so the one
    * double division is the only floating-point op. */
  def q8MarketShare(lineitem: DataFrame, part: DataFrame, supplier: DataFrame,
                    orders: DataFrame, customer: DataFrame, nation: DataFrame,
                    region: DataFrame, targetNation: String = "NATION_5",
                    regionName: String = "ASIA", partType: String = "STANDARD",
                    from: String = "1996-01-01", until: String = "1998-01-01"): DataFrame = {
    val suppNation = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val custRegion = region.filter(col("r_name") === regionName)
      .join(nation, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val volume = Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))
    lineitem
      .join(part.filter(col("p_type") === partType), col("l_partkey") === col("p_partkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(until).cast("timestamp"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(custRegion), col("c_nationkey") === col("c_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === targetNation, volume)).as("nation_dec"),
        sum(volume).as("total_dec"))
      .select(col("o_year"),
        (Det.rfloor(coalesce(col("nation_dec").cast("double"), lit(0.0)) /
          col("total_dec").cast("double"), 6) + lit(0.0)).as("mkt_share"),
        col("total_dec").cast("double").as("total_volume"))
      .orderBy("o_year")
  }

  /** Q19 shape — discounted revenue under an OR-of-ANDs predicate
    * (brand × size-range × quantity-range disjuncts). The point is the
    * PUSHDOWN: the part-only conjuncts (brand, size) reach the part
    * scan, the lineitem-only quantity bounds reach the lineitem scan
    * (derived from the disjunction's hull), and the residual OR
    * evaluates post-join — Catalyst's CNF extraction at work. One
    * broadcast join (filtered part is tiny), one exact-decimal sum. */
  def q19Discount(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20, 30))
    lineitem.join(part, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(
        sum(Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Q5 shape — local supplier volume: revenue by nation for one region
    * and one order year, counting only lineitems where the supplier and
    * the customer share a nation. region→nation→supplier chain broadcasts
    * (tiny dims); lineitem⋈orders is the one large shuffle. */
  def q5LocalVolume(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                    supplier: DataFrame, nation: DataFrame, region: DataFrame,
                    regionName: String = "ASIA", yearStart: String = "1996-01-01",
                    yearEnd: String = "1997-01-01"): DataFrame =
    region.filter(col("r_name") === regionName)
      .join(nation, col("n_regionkey") === col("r_regionkey"))
      .join(supplier, col("s_nationkey") === col("n_nationkey"))
      .join(lineitem, col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") >= lit(yearStart).cast("timestamp") &&
        col("o_orderdate") < lit(yearEnd).cast("timestamp"))
      .join(customer, col("c_custkey") === col("o_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)

  /** Q4 shape — order-priority checking: orders in one quarter with at
    * least one line shipped more than `lateDays` after the order date
    * (the schema has no commit/receipt dates, so lateness is
    * ship-vs-order). The EXISTS becomes a LEFT SEMI join with a non-equi
    * residual: the build side streams lineitem rows keyed on orderkey,
    * each order is emitted at most once, and the aggregate groups 5
    * priorities — at 100 TB the semi join is the only shuffle and its
    * output is strictly smaller than orders. */
  def q4PriorityExists(orders: DataFrame, lineitem: DataFrame,
                       qStart: String = "1996-01-01", qEnd: String = "1996-04-01",
                       lateDays: Int = 60): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit(qStart).cast("timestamp") &&
        col("o_orderdate") < lit(qEnd).cast("timestamp"))
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** Q6 shape — forecasting revenue change: one tight scan-side filter
    * (ship year × discount band × quantity cap) and a single exact
    * decimal sum. The whole query is a scan with every conjunct pushed
    * to parquet row groups; no shuffle at all beyond the final 1-row
    * aggregate — the canonical "pushdown or bust" probe. */
  def q6Forecast(lineitem: DataFrame, from: String = "1996-01-01",
                 until: String = "1997-01-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(Det.price(col("l_extendedprice")) * col("l_discount").cast("decimal(3,2)"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** Q9 shape — product-type profit by nation and order year (adapted:
    * the schema has no partsupp, so profit is discounted revenue over
    * the parts whose name contains `nameFragment`). The substring
    * predicate prunes part before its broadcast; lineitem⋈orders is the
    * one fact-fact shuffle; nation broadcasts. */
  def q9Profit(lineitem: DataFrame, part: DataFrame, supplier: DataFrame,
               orders: DataFrame, nation: DataFrame,
               nameFragment: String = "red"): DataFrame =
    lineitem
      .join(part.filter(col("p_name").contains(nameFragment)),
        col("l_partkey") === col("p_partkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
        .cast("double").as("profit"))
      .orderBy(col("nation").asc, col("o_year").desc)

  /** Q13 shape — customer order-count distribution: LEFT OUTER join with
    * an extra join-side predicate (the filter belongs in the ON clause —
    * in WHERE it would silently turn the outer join inner and drop the
    * zero-order customers the query exists to count), then a two-level
    * aggregate: per-customer count, then a histogram of those counts.
    * Scale: first groupBy shuffles on c_custkey (pre-aggregated
    * map-side), second input is one row per customer, output one row
    * per distinct count — tiny. */
  def q13CustDist(customer: DataFrame, orders: DataFrame,
                  excludePriority: String = "1-URGENT"): DataFrame =
    customer
      .join(orders.filter(col("o_orderpriority") =!= excludePriority)
        .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Q15 shape — top supplier by quarterly revenue: the revenue
    * aggregate feeds BOTH the row set and a 1-row max, and the
    * "revenue = (SELECT max(...))" equality is compared in EXACT
    * DECIMAL — comparing doubles here would tie-break differently per
    * engine. The max broadcasts (1 row); ties all surface, ordered by
    * supplier key. */
  def q15TopSupplier(lineitem: DataFrame, supplier: DataFrame,
                     qStart: String = "1996-01-01", qEnd: String = "1996-04-01"): DataFrame = {
    val revenue = lineitem
      .filter(col("l_shipdate") >= lit(qStart).cast("timestamp") &&
        col("l_shipdate") < lit(qEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount")))
        .as("total_dec"))
      // supplier-cardinality frame feeding both the row set and the
      // 1-row max — same two-consumer recompute class as q2/q11/q20.
      // Checkpoint: both consumers share one materialization. It is not
      // lazy under AQE: building the DataFrame runs every shuffle stage
      // below it (the fact aggregate), so a plan-dump caller pays that
      // aggregate. Caveat (all q2/q11/q15/q20/retention sites): local
      // checkpoints truncate lineage, so on a real cluster an executor
      // loss after materialization fails the job instead of recomputing
      // — at 100 TB prefer a persisted-table boundary for this frame.
      .localCheckpoint(eager = false)
    val maxRev = revenue.agg(max(col("total_dec")).as("max_dec"))
    supplier.join(revenue, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(maxRev), col("total_dec") === col("max_dec"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_dec").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q16 shape — supplier-offer counts (adapted: the lineitem fact
    * stands in for the missing partsupp as the part↔supplier
    * relationship): distinct suppliers per (brand, type, size) over a
    * filtered part dim, excluding flagged suppliers via NOT IN
    * (null-free key ⇒ plain anti join; the null-aware variant is
    * covered by sub_not_in_nullaware). countDistinct shuffles
    * (group keys + suppkey) once with map-side partial dedup. */
  def q16OfferCounts(lineitem: DataFrame, part: DataFrame, supplier: DataFrame,
                     excludeBrand: String = "Brand#1",
                     excludeTypePrefix: String = "PROMO",
                     sizes: Seq[Int] = Seq(1, 4, 9, 14, 19, 23, 36, 45)): DataFrame =
    lineitem.select(col("l_partkey"), col("l_suppkey"))
      .join(part.filter(col("p_brand") =!= excludeBrand &&
        !col("p_type").startsWith(excludeTypePrefix) &&
        col("p_size").isin(sizes: _*)), col("l_partkey") === col("p_partkey"))
      .join(supplier.filter(col("s_acctbal") < 0).select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_type").asc,
        col("p_size").asc)

  /** Q17 shape — small-quantity order revenue: lines of one brand whose
    * quantity is below 20% of that part's corpus-wide average quantity.
    * The correlated scalar subquery decorrelates to a per-part aggregate
    * joined back on the correlation key — written here directly in that
    * decorrelated form (the plan Catalyst itself produces for the SQL).
    * Determinism: quantities are integral doubles, so sum/count is exact
    * and the 0.2× threshold reproduces bit-identically cross-engine.
    * Scale note: the per-part aggregate shuffles (partkey, 2 numbers) —
    * far smaller than the lineitem it summarizes; the brand filter
    * prunes the probe side before its broadcast. */
  def q17SmallQtyRevenue(lineitem: DataFrame, part: DataFrame,
                         brand: String = "Brand#23"): DataFrame = {
    val partAvg = lineitem.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    lineitem
      .join(part.filter(col("p_brand") === brand), col("l_partkey") === col("p_partkey"))
      .join(partAvg, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(Det.price(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** Q18 shape — large-volume customers: orders whose total line
    * quantity exceeds `minQty`, with their customer and the quantity
    * sum. The HAVING subquery becomes an aggregate→filter→semi-join
    * pipeline: the big-order key set is the only extra shuffle and it
    * shrinks to the rare qualifying keys before touching the
    * customer⋈orders join. Top-100 by order value collapses to
    * TakeOrderedAndProject. */
  def q18LargeVolume(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                     minQty: Int = 300): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey").as("big_okey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("okey_qty"))
      .filter(col("okey_qty") > minQty)
      .select(col("big_okey"))
    // r13: semi-join ORDERS against the rare big-order keys BEFORE the
    // customer join (inner ⋈ and left-semi on distinct keys commute) —
    // the qualifying tail is tiny, so the customer join and the final
    // lineitem probe both run broadcast-sized instead of exchanging the
    // full customer⋈orders product first.
    orders
      .join(big, col("o_orderkey") === col("big_okey"), "left_semi")
      .join(customer, col("c_custkey") === col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_quantity")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc, col("o_orderkey").asc)
      .limit(100)
  }

  /** Q21 shape — suppliers who kept orders waiting (adapted to
    * ship-date lateness: theirs is the strictly latest-shipped line of
    * a finished multi-supplier order). The EXISTS/NOT-EXISTS pair
    * becomes LEFT SEMI + LEFT ANTI self-joins on lineitem with
    * non-equi residuals — three passes over lineitem keyed on
    * orderkey, each output no larger than its probe side; nation and
    * the order-status existence check broadcast/semi respectively. */
  def q21WaitingSupplier(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
                         nation: DataFrame, nationName: String = "NATION_3"): DataFrame = {
    val l1 = lineitem.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val l2 = lineitem.select(col("l_orderkey").as("l2_okey"), col("l_suppkey").as("l2_skey"))
    val l3 = lineitem.select(col("l_orderkey").as("l3_okey"),
      col("l_suppkey").as("l3_skey"), col("l_shipdate").as("l3_ship"))
    supplier
      .join(broadcast(nation.filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .join(l1, col("s_suppkey") === col("l_suppkey"))
      .join(orders.filter(col("o_orderstatus") === "F").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(l2, col("l_orderkey") === col("l2_okey") &&
        col("l_suppkey") =!= col("l2_skey"), "left_semi")
      .join(l3, col("l_orderkey") === col("l3_okey") &&
        col("l_suppkey") =!= col("l3_skey") &&
        col("l3_ship") > col("l_shipdate"), "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  /** Q22 shape — wealthy inactive customers (adapted: country code =
    * nation key, "inactive" = no orders on/after `cutoff` — the schema
    * has no phone column). Three classic pieces: a 1-row broadcast
    * scalar average (over the POSITIVE-balance pool only), a
    * comparison against it, and a NOT EXISTS anti join against recent
    * orders. The average is an exact decimal sum over cents divided by
    * a count — bit-identical cross-engine, so the > comparison cannot
    * flap on boundary customers. */
  def q22InactiveBalance(customer: DataFrame, orders: DataFrame,
                         nations: Seq[Int] = Seq(3, 7, 11, 17, 19),
                         cutoff: String = "2000-01-01"): DataFrame = {
    val pool = customer.filter(col("c_nationkey").isin(nations: _*))
    val avgBal = pool.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_bal"))
    pool
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
        .select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** The part↔supplier relation the schema lacks (TPC-H partsupp),
    * derived from the lineitem fact: one row per (part, supplier) pair
    * that ever traded, with a unit cost (min observed price-per-unit,
    * rfloor'd to 4 places so the double is the same k/1e4 value both
    * engines produce) and a total traded quantity in exact decimal.
    * The aggregate shuffles (two keys + two numbers) with map-side
    * partials — at 100 TB this is the standard "derive the dim from
    * the fact" pattern, strictly smaller than its input. Q2/Q11/Q20
    * below all compose over it, mirroring how the real queries compose
    * over partsupp. */
  def derivedPartSupp(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min(Det.rfloor(col("l_extendedprice") / col("l_quantity"), 4)).as("ps_supplycost"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("ps_qty_dec"))

  /** Q2 shape — minimum-cost supplier: for each part of one size, the
    * region's supplier(s) offering it at the lowest derived unit cost.
    * The correlated scalar-min subquery decorrelates to a per-part min
    * WINDOW over the single regional frame — a grouped-min re-join
    * formulation was measured first and its two consumers did NOT share
    * the derived-partsupp exchange (each side's pushed null-filters
    * differ, defeating ReuseExchange), recomputing the fact-sized
    * aggregate and the whole broadcast chain twice; the window costs one
    * ps-pair-sized exchange instead of a second fact scan. The
    * supplier⋈nation⋈region chain broadcasts. Cost equality compares
    * the identical rfloor'd double on both sides, so it cannot flap. */
  def q2MinCostSupplier(lineitem: DataFrame, part: DataFrame, supplier: DataFrame,
                        nation: DataFrame, region: DataFrame,
                        regionName: String = "EUROPE", size: Int = 15): DataFrame = {
    val rsup = supplier
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region.filter(col("r_name") === regionName),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ps_partkey")
    // r13: the p_size probe is the query's most selective predicate (~2% of
    // parts) but it used to apply AFTER the fact-wide aggregate + window —
    // the derived-partsupp exchange and the window exchange carried every
    // part. A broadcast SEMI-join of the sized partkeys BELOW the aggregate
    // (guide §3.2: reduce the big side before shuffling it) is lossless:
    // restricting the grouping key's domain commutes with the per-(part,
    // supp) aggregate and with the per-part window min. Plan: both
    // exchanges now carry only the sized parts' rows.
    val sizedParts = part.filter(col("p_size") === size)
    val regionalMin = derivedPartSupp(
        lineitem.join(broadcast(sizedParts.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi"))
      .join(broadcast(rsup), col("ps_suppkey") === col("s_suppkey"))
      .withColumn("mc_cost", min(col("ps_supplycost")).over(w))
      .filter(col("ps_supplycost") === col("mc_cost"))
    sizedParts
      .join(regionalMin, col("p_partkey") === col("ps_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_brand"), col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }

  /** Q11 shape — important parts: the parts whose traded value through
    * one nation's suppliers exceeds `meanMult`× the nation's MEAN part
    * value. (The classic fixed-fraction-of-total threshold is
    * scale-dependent — at 10× the parts no part holds 1/500 of the
    * total and the query goes vacuous; the mean-multiple form is
    * self-normalizing and stays selective at every SF.) The
    * HAVING-vs-scalar-subquery shape is intact: per-part value sums in
    * EXACT decimal (cost lifted to DECIMAL(18,4) after the rfloor, so
    * the product cost×qty is exact and order-independent), the grand
    * total+count is a 1-row broadcast, and the threshold test is two
    * IEEE multiplies + a compare on doubles both engines form from the
    * same exact decimals. Scale: the fact aggregates once; everything
    * after is part-cardinality sized. */
  def q11ImportantParts(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
                        nationName: String = "NATION_3", meanMult: Double = 3.0): DataFrame = {
    val natSup = supplier
      .join(broadcast(nation.filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    // r13: the one-nation supplier semi-join (~1/25 of suppliers) pushed
    // BELOW the fact aggregate (guide §3.2) — the derived-partsupp exchange
    // now carries only the nation's rows; restriction on the ps_suppkey
    // grouping key commutes with the aggregate, so the result is identical.
    val perPart = derivedPartSupp(
        lineitem.join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"), "left_semi"))
      .select(col("ps_partkey"),
        (col("ps_supplycost").cast("decimal(18,4)") * col("ps_qty_dec")).as("val_dec"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("val_dec")).as("part_val_dec"))
      // part-cardinality frame feeding BOTH the row set and the 1-row
      // total: without this the total branch recomputes the fact
      // aggregate (consumers' pushed filters differ → no ReuseExchange).
      // Lazy — materializes at first action, shared thereafter (see q15)
      .localCheckpoint(eager = false)
    val tot = perPart.agg(sum(col("part_val_dec")).as("total_dec"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(tot))
      .filter(col("part_val_dec").cast("double") * col("n_parts") >
        lit(meanMult) * col("total_dec").cast("double"))
      .select(col("ps_partkey"), col("part_val_dec").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("ps_partkey").asc)
  }

  /** Q12 shape — shipping-delay priority analysis (adapted: the schema
    * has no shipmode/commit/receipt dates, so the grouping dimension is
    * the order→ship delay in 30-day buckets, clamped at +4 — the
    * synthetic dates run years in both directions). The classic Q12
    * CASE-counting core is intact: per bucket, how many lines belong to
    * critical-priority orders vs the rest. One fact-fact join keyed on
    * orderkey (the ship-year filter prunes the lineitem scan first),
    * one small aggregate; count(CASE WHEN) keeps both counts BIGINT in
    * both engines. */
  def q12ShipDelay(lineitem: DataFrame, orders: DataFrame,
                   from: String = "1997-01-01", until: String = "1998-01-01"): DataFrame = {
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(least(floor(
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) / 30.0)
        .cast("long"), lit(4L)).as("delay_bucket"),
        col("o_orderpriority"))
      .groupBy(col("delay_bucket"))
      .agg(count(when(critical, 1)).as("high_line_count"),
        count(when(!critical, 1)).as("low_line_count"))
      .orderBy("delay_bucket")
  }

  /** Q20 shape — dominant suppliers of watched parts (adapted: with no
    * availqty, "excess" becomes concentration — a supplier who shipped
    * MORE THAN HALF of a watched part's one-year volume). The nested
    * semi chain of the original is intact: supplier ← semi(dominant
    * pairs) ← semi(name-filtered part), with the correlated per-part
    * total as a grouped aggregate joined back on the correlation key.
    * The 2× comparison runs in exact decimal (qty sums never touch
    * doubles), so the strict inequality is engine-independent. Scale:
    * the year filter prunes the fact scan; both aggregates shuffle
    * (key, one decimal); the supplier probe is semi-joined, so output
    * ≤ supplier. */
  def q20DominantSupplier(lineitem: DataFrame, part: DataFrame, supplier: DataFrame,
                          nation: DataFrame, region: DataFrame,
                          regionName: String = "EUROPE", namePrefix: String = "large",
                          from: String = "1997-01-01", until: String = "1998-01-01"): DataFrame = {
    // r13: the watched-part semi-join pushed BELOW the fact aggregate
    // (guide §3.2) — it used to apply only to the dominance rows, so the
    // (part, supplier) exchange and the per-part total carried EVERY part.
    // Per-part totals are within-partkey, so restricting the partkey
    // domain before the aggregate leaves every surviving total identical.
    val shipped = lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .join(broadcast(part.filter(col("p_name").startsWith(namePrefix))
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty_sp"))
      // (part, supplier)-cardinality frame with two consumers (the
      // dominance rows and the per-part total) — materialized once; under
      // AQE its shuffle stages run while the DataFrame is built (see q15)
      .localCheckpoint(eager = false)
    val ptot = shipped.groupBy(col("l_partkey").as("tp_partkey"))
      .agg(sum(col("qty_sp")).as("qty_p"))
    val dominant = shipped
      .join(ptot, col("l_partkey") === col("tp_partkey"))
      .filter(col("qty_sp") * 2 > col("qty_p"))
      .select(col("l_suppkey"))
    val regionNations = nation
      .join(region.filter(col("r_name") === regionName),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    supplier
      .join(broadcast(regionNations), col("s_nationkey") === col("n_nationkey"), "left_semi")
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy("s_name")
  }

  /** MULTI-BAND SINGLE-SCAN (r8) — the TPC-DS Q88 pattern: eight
    * time-band metrics that a naive author writes as eight subqueries
    * cross-joined (eight fact scans, eight aggregates) fold into ONE
    * scan with conditional aggregates — `count(when(band, 1))` per
    * band inside a single two-phase hash aggregate. The plan claim IS
    * the operator: census pins filescan = 1, agg = partial+final,
    * zero joins, for 16 output metrics. Bands = 3-hour UTC slots;
    * value totals through the decimal(18,2) accumulation pattern. */
  def multibandScan(events: DataFrame): DataFrame = {
    val h = hour(col("ts"))
    val dec = col("value").cast("decimal(18,2)")
    val cols = (0 until 8).flatMap { b =>
      val in = h >= b * 3 && h < (b + 1) * 3
      Seq(count(when(in, 1)).as(s"n_band$b"),
        sum(when(in, dec)).cast("double").as(s"val_band$b"))
    }
    events.agg(cols.head, cols.tail: _*)
  }
}
