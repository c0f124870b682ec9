package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators. All run as two-phase HashAggregate (partial
  * map-side combine, final after shuffle) — free from Catalyst. Double
  * measures go through Det.dsum/davg (exact decimal accumulation) so
  * results are independent of shuffle/partial-agg order.
  */
object Aggregates {

  /** TPC-H Q1-shaped pricing summary — the flagship (`SparkEntry.entry`).
    * Scan → pushed filter → two-phase hash agg on 2 low-cardinality keys →
    * tiny sort. The shape that must hold at 100 TB: the only shuffle is
    * |groups| ≈ 6 rows of partial states per partition. */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    val discPrice = Det.price(col("l_extendedprice")) * Det.oneMinus(col("l_discount"))
    lineitem
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsum(col("l_quantity"), 2).as("sum_qty"),
        Det.dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        // scale-4/scale-6 product sums cross dsum's 2^53 unscaled bound
        // within 2x of the sf0.1 fixture (5.1e15 for charge) — the
        // integer-scaled form stays single-rounded at any magnitude (r12)
        Det.dsumExact(discPrice, 4).as("sum_disc_price"),
        Det.dsumExact(discPrice * Det.onePlus(col("l_tax")), 6).as("sum_charge"),
        Det.davg(col("l_quantity"), 2).as("avg_qty"),
        Det.davg(col("l_extendedprice"), 2).as("avg_price"),
        Det.davg(col("l_discount"), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Exact distinct aggregation — Catalyst expands to a two-phase
    * distinct-then-count; the shuffle key is (group, distinct value). */
  def countDistinctCustomers(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** HLL-sketch distinct — constant memory per group regardless of
    * cardinality; the 100 TB answer when exactness isn't required.
    * Oracle-exempt (sketch ≠ exact); ScalaTest gates it within 5%. */
  def approxDistinctCustomers(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx_custs"))
      .orderBy("o_orderpriority")

  /** Exact interpolated percentiles per group (SQL `percentile` ≙ DuckDB
    * `quantile_cont`) — exact needs a per-group sort; the 100 TB answer
    * is the t-digest/GK sketch below. Emitted as separate rounded
    * columns for cross-engine hashing. */
  def quantiles(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Sketch percentiles: approx_percentile keeps a bounded digest per
    * group regardless of cardinality — constant memory at 100 TB.
    * Oracle-exempt (sketch); gated within 2% of exact in CoreOpsSpec. */
  def approxQuantiles(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderpriority"))
      .agg(expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 10000)").as("q"))
      .select(col("o_orderpriority"),
        element_at(col("q"), 1).as("p25"),
        element_at(col("q"), 2).as("p50"),
        element_at(col("q"), 3).as("p75"))
      .orderBy("o_orderpriority")

  /** Pivot: one column per l_linestatus value, counts + exact sums.
    * Values enumerated explicitly — an unenumerated pivot needs a
    * distinct-scan first and breaks partial aggregation planning. */
  def pivotStatus(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_quantity"), 2).as("qty"))
      .orderBy("l_returnflag")

  /** Deterministic sampling: key-mod filter, never rand() — the sample is
    * reproducible across runs, engines and retries (a nondeterministic
    * sample breaks retried-task correctness at scale). For unbiased
    * sampling on clustered keys use a seeded hash mod instead. */
  def sampleDeterministic(orders: DataFrame, mod: Int = 10): DataFrame =
    orders
      .filter(col("o_orderkey") % mod === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** arg-max/arg-min aggregation: the customer holding each segment's
    * max/min balance via `max_by`/`min_by`. Determinism: the ordering
    * value is lifted to a UNIQUE integer (balance cents ⊕ custkey
    * tiebreak) — max_by over a tied ordering value picks an arbitrary
    * row and could never hash-match an oracle (SURVEY §7). */
  def argMaxMin(customer: DataFrame): DataFrame = {
    // unique rank: cents * 10^7 + custkey (custkey < 10^7 in this data).
    // cents via floor(x*100+0.5) — a double→bigint CAST truncates in
    // Spark but rounds in DuckDB; the explicit floor is identical IEEE
    // on both engines (same rule as Det.rfloor)
    val rank = floor(col("c_acctbal") * 100 + lit(0.5)).cast("bigint") * 10000000L + col("c_custkey")
    customer.groupBy(col("c_mktsegment"))
      .agg(
        max_by(col("c_custkey"), rank).as("richest_cust"),
        min_by(col("c_custkey"), rank).as("poorest_cust"),
        max(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("max_bal"),
        min(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("min_bal"))
      .orderBy("c_mktsegment")
  }

  /** Sketch-reuse distinct counting: one HLL sketch PER DAY (the
    * materialized granularity), then rollups at any coarser grain merge
    * the stored sketches instead of rescanning events — the
    * "sketch once, union many" pattern that makes incremental distinct
    * counting O(sketches) at 100 TB. Returns (n_days, est_users,
    * exact_users); the estimate is sketch-derived so the query is
    * oracle-exempt — CoreOpsSpec gates est within 5% of exact. */
  def hllDailyRollup(events: DataFrame): DataFrame = {
    val daily = canonicalSketchFold(dailySketches(events), col("day"))
    daily.agg(
      count(lit(1)).as("n_days"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      .crossJoin(events.agg(countDistinct(col("user_id")).as("exact_users")))
  }

  /** Canonical fold order for a SKETCH-TIER frame about to be union-
    * aggregated: one partition, rows sorted on `by`. The r13 finding:
    * `hll_union_agg`'s result is NOT invariant to its merge tree — the
    * same 60 day-sketches estimated 2996 with 4 shuffle partitions and
    * 2992 with 7 at sf0.1 (registers merge associatively, but the
    * gadget's serialized state differs by fold shape and the final
    * estimate reads that state). A single sorted partition fixes ONE
    * tree, so the estimate is a function of the input SET again —
    * invariant across partition counts, task order, and cluster layout.
    * Scale-safe by construction: every caller folds the POST-SKETCH
    * tier, O(|days|) rows of parameter-sized state, never raw events. */
  private def canonicalSketchFold(sketches: DataFrame, by: Column*): DataFrame =
    sketches.repartition(1).sortWithinPartitions(by: _*)

  /** The sketch tier's EPOCH form — [[hllDailyRollup]]'s stored half:
    * per-day HLL sketches persisted once per epoch (binary column in a
    * warehouse table, one row per day — the materialized granularity),
    * so any later rollup or INCREMENTAL update merges stored sketches
    * instead of rescanning events. HLL union is deterministic and
    * lossless w.r.t. sketch state (union of sketches ≡ sketch of the
    * union), so the delta path's estimate is spec-pinned EXACTLY equal
    * to a full recompute — the quantile-histogram epoch discipline
    * applied to the one summary family whose state isn't exact counts. */
  /** The ONE per-day sketch expression every HLL site shares (rollup,
    * epoch store, delta) — the exact-equality law depends on stored and
    * fresh sketches using the same lgK, so the constant is named and
    * the expression exists once. */
  private val HllLgK = 14
  private[graft] def dailySketches(df: DataFrame): DataFrame =
    df.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), HllLgK).as("sk"))

  def ensureHllDaily(spark: org.apache.spark.sql.SparkSession, events: DataFrame,
                     epoch: Long = 0L): String =
    graft.Warehouse.ensure(spark,
      s"agg_hll_daily_${graft.Warehouse.srcTag(events)}_e$epoch",
      source = events) {
      name => dailySketches(events).write.mode("overwrite").saveAsTable(name)
    }

  /** Incremental distinct-users estimate: stored per-day sketches ∪ a
    * delta batch's fresh sketches, re-merged PER DAY first (a delta
    * re-delivering part of an already-stored day folds into that day's
    * sketch rather than double-counting a slice — the normal append
    * case), then one global union. The 100 TB story: the historical
    * corpus contributes |days| sketch rows, never raw events. Returns
    * (n_days, est_users). */
  def hllDelta(spark: org.apache.spark.sql.SparkSession, events: DataFrame,
               delta: DataFrame, epoch: Long = 0L): DataFrame = {
    val stored = spark.table(ensureHllDaily(spark, events, epoch))
    // both union layers fold in canonical order (r13): the per-day
    // stored-vs-fresh pair sorts on (day, sketch bytes) so neither
    // shuffle-fetch order nor the partition count picks the merge tree
    val perDay = canonicalSketchFold(
        stored.unionByName(dailySketches(delta)), col("day"), col("sk"))
      .groupBy("day").agg(hll_union_agg(col("sk")).as("sk"))
    canonicalSketchFold(perDay, col("day"))
      .agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
  }

  /** Heavy-hitter sketch aggregation: top-3 event types per user bucket
    * via the SpaceSaving `TypedImperativeAggregate`
    * (graft.functions.SpaceSavingTopK) — bounded O(capacity) state per
    * group, map-side partial sketches merged through serialized buffers.
    * capacity (32) ≥ the 5 distinct event types, so counts here are
    * EXACT and the DuckDB oracle checks them; the approximate-mode
    * retention guarantee is gated in CoreOpsSpec. */
  def topkSketchByBucket(events: DataFrame): DataFrame =
    events
      .select(pmod(col("user_id"), lit(8)).as("bucket"), col("event_type"))
      .groupBy(col("bucket"))
      .agg(graft.functions.Sketches.topkSketch(col("event_type"), 3, 32).as("top"))
      .select(col("bucket"), posexplode(col("top")))
      .select(col("bucket"), (col("pos") + 1).cast("long").as("rk"),
        col("col.item").as("event_type"), col("col.est_n").as("n"))
      .orderBy("bucket", "rk")

  /** Exact-k deterministic reservoir per group: for each stratum keep the
    * k rows with the smallest md5(key) — a fixed-BUDGET sample (contrast
    * [[stratifiedSample]], a fixed-RATE one; a curation job needs both:
    * rate to rebalance, budget to cap). Hash-ordering makes the draw
    * uniform-ish, reproducible, and engine-portable (md5 is bit-identical
    * in DuckDB). Scale shape: the `row_number <= k` filter sits directly
    * above the window so InferWindowGroupLimit plants a PARTIAL
    * WindowGroupLimit below the exchange — every mapper ships at most k
    * rows per group it touches, so the shuffle carries
    * O(mappers · groups · k), independent of corpus size (plan-gated in
    * PlanAuditSpec). */
  def reservoirByGroup(documents: DataFrame, k: Int = 20): DataFrame = {
    val h = md5(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc)
    documents
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk").cast("long").as("rk"), col("doc_id"), col("source"))
      .orderBy("lang", "rk")
  }

  /** WEIGHTED reservoir per group — Efraimidis & Spirakis (IPL 2006)
    * A-ES: each row draws key u^(1/w) and the k LARGEST keys per stratum
    * form an exact weighted-without-replacement sample. Expressed in
    * logs (ln(u)/w — monotone in u^(1/w), no overflow for tiny u), with
    * u derived DETERMINISTICALLY from the portable rolling fold of
    * md5(doc_id) (the house sampler rule: retried tasks, re-runs and
    * other engines draw the SAME sample). Weight = n_chars floored at 1
    * — longer documents proportionally likelier, the token-mass-aware
    * subsampling shape a training mix actually uses. The transcendental
    * key rounds ONCE per row into integer nano-units (the dsir
    * discipline) and ties break on doc_id; same PARTIAL
    * WindowGroupLimit scale shape as [[reservoirByGroup]] — every
    * mapper ships at most k rows per group it touches. */
  def weightedReservoirByGroup(documents: DataFrame, k: Int = 20): DataFrame = {
    val fp = graft.functions.TextExprs.rollingFingerprint(md5(col("doc_id").cast("string")))
    val u = (fp.cast("double") + lit(1.0)) / lit(1000000008.0) // fold ∈ [0, 1e9+7) → u ∈ (0, 1]
    val wgt = greatest(col("n_chars"), lit(1L))
    val w = Window.partitionBy(col("lang")).orderBy(col("key_units").desc, col("doc_id").asc)
    documents
      .withColumn("key_units", round(log(u) / wgt.cast("double") * lit(1e9), 0).cast("long"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk").cast("long").as("rk"), col("doc_id"),
        wgt.as("weight"), col("key_units"))
      .orderBy("lang", "rk")
  }

  /** Stratified deterministic sampling over `documents`: a different
    * key-mod rate per stratum — downsample the dominant language (en →
    * 20%) while keeping half of everything else. The training-data
    * rebalancing primitive: same reproducibility story as
    * [[sampleDeterministic]] (pure key arithmetic, no rand()), applied
    * per group without a shuffle — the filter is map-side. */
  def stratifiedSample(documents: DataFrame): DataFrame =
    documents
      .filter(
        when(col("lang") === "en", pmod(col("doc_id"), lit(10)) < 2)
          .otherwise(pmod(col("doc_id"), lit(10)) < 5))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Mode (most frequent value) per group with a DETERMINISTIC tie-break
    * (highest count, then lexicographically smallest value) — built-in
    * `mode()` tie-breaking is unspecified in both engines, so both sides
    * spell out the count + row_number formulation. Scale shape: the
    * count is a two-phase (map-side partial) aggregation; the window then
    * runs over the tiny (group × distinct-value) count table, not data. */
  def modePerGroup(orders: DataFrame): DataFrame = {
    val counts = orders
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("cnt").desc, col("o_orderpriority").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"), col("cnt"))
      .orderBy("o_orderstatus")
  }

  /** Fixed-width histogram of order value: bucket = floor(price/width).
    * One map-side-combinable aggregation — the shuffle carries one row per
    * non-empty bucket per task, so the histogram of 100 TB costs one scan
    * plus a bucket-count exchange. Sum uses exact decimal accumulation;
    * min/max of doubles are order-free. */
  def histogram(orders: DataFrame, width: Double = 25000.0): DataFrame =
    orders
      .groupBy(floor(col("o_totalprice") / width).cast("long").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        Det.dsum(col("o_totalprice"), 2).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("bucket")

  /** MERGEABLE QUANTILE ROLLUP — the pre-aggregated serving tier for
    * percentiles at 100 TB: each shard (standing in for a file/partition
    * summary a warehouse would store) reduces to a fixed-boundary
    * histogram over exact integer CENTS; shard histograms merge by
    * bucket-count SUM — the mergeability law equi-width buckets buy that
    * exact rank statistics don't (medians of medians are meaningless;
    * histogram sums are exact) — and each requested quantile reads off
    * the first bucket whose cumulative count reaches ceil(q·n/100),
    * reported as the bucket's lower bound (error bounded by the bucket
    * width, never by data size or skew).
    *
    * Scale shape: one scan → per-(shard, bucket) partial counts → bucket
    * merge; everything after runs on the bucket frame, whose size is
    * bounded by value-range/width (~600 rows here), NOT by row count —
    * the cumulative step is a triangular self-join on that bounded frame
    * (no global window, no driver collect). All arithmetic is integer
    * (cents, ceil-division via pmod), so the oracle mirrors it exactly. */
  def quantileRollup(orders: DataFrame, widthCents: Long = 100000L,
                     qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val shardHist = orders
      .select((col("o_orderkey") % 16).as("shard"),
        centsBucket(widthCents).as("bucket"))
      .groupBy("shard", "bucket").agg(count(lit(1)).as("c"))
    quantilesFromHist(shardHist.groupBy("bucket").agg(sum(col("c")).as("c")),
      widthCents, qs)
  }

  /** Exact integer cents of `o_totalprice` — the house cents carrier
    * (cf. sync/Cdc.scala): one decimal cast from the 2-decimal double,
    * proven engine-parity by the cdc oracle. */
  private def totalpriceCents: org.apache.spark.sql.Column =
    (col("o_totalprice") * 100).cast("decimal(18,0)").cast("long")

  /** The fixed-boundary bucket of a row's order value — the one
    * expression the batch histogram, the delta path and the streaming
    * maintenance all key on (shared so they can never drift). */
  private[graft] def centsBucket(widthCents: Long): org.apache.spark.sql.Column =
    idiv(totalpriceCents, widthCents)

  /** Integer floor-division without a double round-trip: subtract the
    * remainder first, so the division is exact at any magnitude. */
  private def idiv(a: org.apache.spark.sql.Column, b: Long) =
    ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  /** Direct (bucket, c) histogram of a frame's order values — the form a
    * DELTA batch reduces to before merging with a stored base histogram. */
  private[graft] def centsHist(df: DataFrame, widthCents: Long = 100000L): DataFrame =
    df.select(centsBucket(widthCents).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))

  /** Quantile read-off from a merged (bucket, c) histogram (see
    * [[quantileRollup]] for the semantics and scale notes). */
  private[graft] def quantilesFromHist(hist: DataFrame, widthCents: Long,
                                       qs: Seq[Int]): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val merged = hist.localCheckpoint(eager = false)
    val tot = merged.agg(sum(col("c")).as("n"))
    // threshold rank per quantile: ceil(n*q/100) in exact integers
    val th = qs.map(_.toLong).toDF("q")
      .crossJoin(broadcast(tot))
      .withColumn("th", idiv(col("n") * col("q") + lit(99L), 100L))
    val cum = merged.as("a")
      .join(merged.as("b"), col("b.bucket") <= col("a.bucket"))
      .groupBy(col("a.bucket").as("bucket")).agg(sum(col("b.c")).as("cum"))
    th.join(cum, col("cum") >= col("th"))
      .groupBy("q", "n").agg(min(col("bucket")).as("bucket"))
      .select(col("q"), col("n").as("n_rows"), col("bucket"),
        (col("bucket") * widthCents).as("est_lo_cents"))
      .orderBy("q")
  }

  /** INCREMENTAL quantiles — [[quantileRollup]]'s histogram tier made an
    * epoch artifact: the base corpus reduces ONCE to its bucket histogram
    * (bounded by value-range/width, not rows), a delta batch reduces to
    * its own, and updated percentiles come from the bucket-wise SUM of
    * the two — the nightly-ingest shape where the 100 TB base is never
    * rescanned. Exactness law: because equi-width buckets merge
    * losslessly, the result is IDENTICAL to recomputing over base∪delta
    * (QuantileSpec pins it; the oracle checks the recompute form). */
  def quantileDelta(base: DataFrame, delta: DataFrame,
                    widthCents: Long = 100000L,
                    qs: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    quantilesFromHist(
      centsHist(base, widthCents).unionByName(centsHist(delta, widthCents))
        .groupBy("bucket").agg(sum(col("c")).as("c")),
      widthCents, qs)

  /** Persist the base histogram for an epoch (bucket-count rows — bounded
    * by value-range/width, the ensureBandIndex artifact discipline). */
  def ensureQuantileHist(spark: org.apache.spark.sql.SparkSession, base: DataFrame,
                         epoch: Long = 0L, widthCents: Long = 100000L): String =
    // tagged by source dataset (the sibling ensure* convention — an
    // untagged name let two base frames at the same epoch share one
    // histogram, review finding r7); frames DERIVED from the same files
    // must use distinct epochs (Warehouse.srcTag scaladoc)
    graft.Warehouse.ensure(spark,
      s"agg_quantile_hist_${graft.Warehouse.srcTag(base)}_e${epoch}_w$widthCents",
      source = base) {
      name => centsHist(base, widthCents).write.mode("overwrite").saveAsTable(name)
    }

  /** [[quantileDelta]] through the PERSISTED epoch table — integer
    * bucket counts make the equality with the recompute form exact. */
  def quantileDeltaPersisted(spark: org.apache.spark.sql.SparkSession, base: DataFrame,
                             delta: DataFrame, epoch: Long = 0L,
                             widthCents: Long = 100000L,
                             qs: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    quantilesFromHist(
      spark.table(ensureQuantileHist(spark, base, epoch, widthCents))
        .unionByName(centsHist(delta, widthCents))
        .groupBy("bucket").agg(sum(col("c")).as("c")),
      widthCents, qs)

  /** String aggregation (listagg): the distinct priorities of each order
    * status, sorted then joined — `collect_set` + `array_sort` keeps the
    * result order-independent (a bare `collect_list`/`string_agg` depends
    * on row arrival order and can never hash-match across engines or even
    * across shuffles). The set is bounded by the value domain, so the
    * aggregation state stays small at any row count. */
  def stringAggPriorities(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg(
        concat_ws("|", array_sort(collect_set(col("o_orderpriority")))).as("priorities"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** Exact median per group, both definitions: continuous (interpolated,
    * = percentile 0.5) and discrete (the smallest value whose cumulative
    * distribution reaches 0.5 — spelled as a cume_dist window in BOTH
    * engines, since "quantile_disc" index conventions differ between
    * implementations). Median is a full per-group sort at heart; at
    * 100 TB the bounded-state path is agg_approx_quantiles. */
  def medianBalance(customer: DataFrame): DataFrame = {
    // Det.rfloor, not round(): the interpolated median of cent-valued
    // inputs is an integer-ratio rational, exactly the tie case where
    // Spark's shortest-representation rounding and DuckDB's binary
    // rounding diverge (see spark-duckdb-parity doctrine)
    val cont = customer.groupBy(col("c_mktsegment"))
      .agg(Det.rfloor(expr("percentile(c_acctbal, 0.5)"), 2).as("med_cont"),
        count(lit(1)).as("n"))
    val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    val disc = customer
      .withColumn("cd", cume_dist().over(w))
      .filter(col("cd") >= 0.5)
      .groupBy(col("c_mktsegment"))
      .agg(min(col("c_acctbal")).as("med_disc"))
    cont.join(disc, "c_mktsegment")
      .select("c_mktsegment", "med_cont", "med_disc", "n")
      .orderBy("c_mktsegment")
  }

  /** Weighted average: Σ(w·x)/Σ(w) with both sums accumulated as EXACT
    * decimals (the products too), so the one double division at the end is
    * the only floating-point op — order-independent and engine-identical.
    * Map-side combinable like any sum. */
  def weightedAvgPrice(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        // both sums integer-scaled (×10^4 and ×10^2) so each double cast
        // is single-rounded at any magnitude (r12); the ratio then carries
        // a net ×100 undone by one exact division both engines share
        ((sum((Det.price(col("l_extendedprice")) * col("l_quantity").cast("decimal(12,2)") * lit(10000L))
            .cast("decimal(26,0)")).cast("double") /
          sum((col("l_quantity").cast("decimal(12,2)") * lit(100L))
            .cast("decimal(26,0)")).cast("double")) / lit(100.0)).as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Unpivot (melt): the wide per-status count table back to long form —
    * the inverse of [[pivotStatus]]. Unpivot is a per-row expansion (no
    * shuffle beyond the source aggregation); missing combinations are
    * kept as explicit zeros (coalesce BEFORE unpivot) so the long table
    * is dense. */
  def unpivotStatusCounts(orders: DataFrame): DataFrame = {
    val wide = orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
    val dense = wide.select(col("o_orderpriority") +:
      Seq("F", "O", "P").map(s => coalesce(col(s), lit(0L)).as(s)): _*)
    dense.unpivot(
        Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")),
        "status", "n")
      .orderBy("o_orderpriority", "status")
  }

  /** Pairwise correlation/covariance matrix over (quantity, price,
    * discount) per returnflag — the feature-screening profile a data-prep
    * job runs before modeling ([[regrStats]] fits ONE pair; this reports
    * every pair, long format). Same cross-engine determinism law as
    * regrStats: all second moments accumulate in EXACT decimal, cast to
    * double once, and the final corr/cov arithmetic (including sqrt) is
    * the identical IEEE expression on both sides — no rounding needed.
    * ONE scan: the 10 moments aggregate in a single map-side-partial
    * pass; the 3-pair long format explodes from the tiny per-flag frame,
    * never re-reading data. */
  def corrMatrix(lineitem: DataFrame): DataFrame = {
    // decimal(18,2) like regrStats — NOT a narrower precision: a
    // narrow cast silently NULLs any value beyond its range (dropping
    // it from every moment while count(*) keeps the row) where the
    // oracle's (18,2) keeps it. A (8,2) variant that keeps the per-row
    // product long-backed was measured and bought nothing: the cost
    // floor is the SIX product-sum buffers, so ~1.4 s at sf0.1 is the
    // honest price of an EXACT 10-moment pass: per-row CPU, perfectly
    // linear, one exchange of 10-number frames.
    //
    // The 2-decimal inputs are scaled ×100 to exact INTEGERS (r12), so
    // every moment is a scale-0 decimal sum and the decimal→double cast
    // is ONE correctly-rounded integer conversion on both engines.
    // The earlier fractional-decimal moments hit DuckDB's two-step
    // wide-decimal cast (double(unscaled) / 10^scale — double-rounded,
    // ±1 ULP vs the JVM's correctly-rounded BigDecimal path; verified
    // value-for-value in the r12 investigation), which surfaced as
    // last-ULP corr drift at sf0.001. corr is scale-invariant under
    // x→100x, so only cov_samp re-scales — one exact /10^4 both
    // engines share.
    val cast = lineitem.select(col("l_returnflag"),
      (col("l_quantity").cast("decimal(18,2)") * lit(100)).cast("decimal(12,0)").as("q"),
      (col("l_extendedprice").cast("decimal(18,2)") * lit(100)).cast("decimal(14,0)").as("p"),
      (col("l_discount").cast("decimal(18,2)") * lit(100)).cast("decimal(8,0)").as("d"))
    val q = col("q"); val p = col("p"); val d = col("d")
    val m = cast.groupBy(col("l_returnflag")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(q).cast("double").as("sq"), sum(p).cast("double").as("sp"),
      sum(d).cast("double").as("sd"),
      sum(q * q).cast("double").as("sqq"), sum(p * p).cast("double").as("spp"),
      sum(d * d).cast("double").as("sdd"),
      sum(q * p).cast("double").as("sqp"), sum(q * d).cast("double").as("sqd"),
      sum(p * d).cast("double").as("spd"))
    def pair(name_a: String, name_b: String,
             sa: org.apache.spark.sql.Column, sb: org.apache.spark.sql.Column,
             saa: org.apache.spark.sql.Column, sbb: org.apache.spark.sql.Column,
             sab: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val n = col("n")
      val cov = n * sab - sa * sb
      struct(lit(name_a).as("var_a"), lit(name_b).as("var_b"),
        (cov / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))).as("corr"),
        // moments carry ×100-scaled values, so the raw covariance is
        // 10^4 × the true one: one exact final division, both engines
        (cov / (n * (n - 1)) / lit(10000.0)).as("cov_samp"))
    }
    m.select(col("l_returnflag"), col("n").cast("long").as("n"),
        explode(array(
          pair("quantity", "extendedprice", col("sq"), col("sp"), col("sqq"), col("spp"), col("sqp")),
          pair("quantity", "discount", col("sq"), col("sd"), col("sqq"), col("sdd"), col("sqd")),
          pair("extendedprice", "discount", col("sp"), col("sd"), col("spp"), col("sdd"), col("spd")))).as("pr"))
      .select(col("l_returnflag"), col("pr.var_a"), col("pr.var_b"),
        col("pr.corr"), col("pr.cov_samp"), col("n"))
      .orderBy("l_returnflag", "var_a", "var_b")
  }

  /** Linear-regression aggregates (slope / intercept / r²) of
    * extendedprice on quantity per return flag — like [[stats]], computed
    * from EXACT decimal moment sums combined in ONE fixed IEEE formula,
    * not the built-in regr_* (whose double accumulation is shuffle-order
    * dependent). The moments are map-side-combinable sums, so the whole
    * regression costs one scan + one tiny shuffle at any scale. */
  def regrStats(lineitem: DataFrame): DataFrame = {
    // ×100-scaled integer moments, the [[corrMatrix]] r12 discipline:
    // scale-0 decimal sums make the double cast a single correctly
    // rounded conversion on BOTH engines (DuckDB's fractional-decimal
    // cast double-rounds — the sf0.001 last-ULP r2 drift). slope and
    // r2 are invariant under the common x,y→100x,100y scaling; the
    // intercept scales by 100, undone by one exact final division.
    val x = (col("l_quantity").cast("decimal(18,2)") * lit(100)).cast("decimal(12,0)")
    val y = (col("l_extendedprice").cast("decimal(18,2)") * lit(100)).cast("decimal(14,0)")
    val m = lineitem.groupBy(col("l_returnflag")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(x).cast("double").as("sx"),
      sum(y).cast("double").as("sy"),
      sum(x * x).cast("double").as("sxx"),
      sum(y * y).cast("double").as("syy"),
      sum(x * y).cast("double").as("sxy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    m.select(
        col("l_returnflag"),
        (cov / varX).as("slope"),
        ((col("sy") - cov / varX * col("sx")) / col("n") / lit(100.0)).as("intercept"),
        (cov * cov / (varX * varY)).as("r2"),
        col("n").cast("long").as("n"))
      .orderBy("l_returnflag")
  }

  /** Boolean aggregate family: bool_and / bool_or / count_if per order
    * status — predicate summaries in one map-side-combinable pass (state
    * is one bit / one counter per group). Outputs are cast to INT/BIGINT:
    * BOOLEAN and DuckDB count_if's HUGEINT render differently per reader,
    * and the determinism doctrine (SURVEY §7) bans representation-ambiguous
    * output types. */
  def boolAggs(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderstatus"))
      .agg(
        bool_and(col("o_totalprice") > 1000.0).cast("int").as("all_over_1k"),
        bool_or(col("o_totalprice") > 400000.0).cast("int").as("any_over_400k"),
        count_if(col("o_orderpriority") === "1-URGENT").cast("long").as("n_urgent"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** Statistical aggregates (variance/stddev/covariance/correlation)
    * computed from EXACT decimal moments, then combined in one fixed
    * IEEE-double formula — built-in stddev/corr accumulate doubles in
    * shuffle order and can't hash-match across engines. The moments
    * shuffle as decimals (associative), so the result is bit-stable. */
  def stats(lineitem: DataFrame): DataFrame = {
    // ×100-scaled integer moments (the corrMatrix/regrStats r12
    // discipline — the raw syy crosses dsum-class double-rounding at
    // 7.4e18 unscaled even at sf0.001): variances and covariance come
    // back scaled by 10^4, undone by exact final divisions; corr is
    // invariant under the common scaling.
    val x = (col("l_quantity").cast("decimal(18,2)") * lit(100)).cast("decimal(12,0)")
    val y = (col("l_extendedprice").cast("decimal(18,2)") * lit(100)).cast("decimal(14,0)")
    val m = lineitem.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(x).cast("double").as("sx"),
      sum(y).cast("double").as("sy"),
      sum(x * x).cast("double").as("sxx"),
      sum(y * y).cast("double").as("syy"),
      sum(x * y).cast("double").as("sxy"))
    val n = col("n").cast("double")
    val varX = (col("sxx") - col("sx") * col("sx") / n) / (n - lit(1.0))
    val varY = (col("syy") - col("sy") * col("sy") / n) / (n - lit(1.0))
    val covXY = (col("sxy") - col("sx") * col("sy") / n) / (n - lit(1.0))
    m.select(
      col("l_returnflag"), col("n"),
      round(varX / lit(10000.0), 4).as("var_qty"),
      round(sqrt(varX) / lit(100.0), 4).as("std_qty"),
      round(covXY / lit(10000.0), 4).as("cov_qty_price"),
      round(covXY / (sqrt(varX) * sqrt(varY)), 6).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  private def custGeo(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))

  /** ROLLUP region → nation: hierarchy totals in one pass (Expand + single
    * shuffle, not three separate aggs). */
  def rollupRegionNation(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    custGeo(customer, nation, region)
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_custs"),
        Det.dsum(col("c_acctbal"), 2).as("sum_bal"),
        grouping(col("r_name")).cast("long").as("g_r"),
        grouping(col("n_name")).cast("long").as("g_n"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)

  /** CUBE over two independent dims. */
  def cubeSegmentPriority(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice"), 2).as("sum_price"),
        grouping(col("c_mktsegment")).cast("long").as("g_seg"),
        grouping(col("o_orderpriority")).cast("long").as("g_pri"))
      .orderBy(col("c_mktsegment").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Explicit GROUPING SETS: (region), (nation), (grand total). */
  def groupingSetsGeo(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    custGeo(customer, nation, region)
      .groupingSets(
        Seq(Seq(col("r_name")), Seq(col("n_name")), Seq.empty[org.apache.spark.sql.Column]),
        col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_custs"),
        Det.dsum(col("c_acctbal"), 2).as("sum_bal"),
        grouping(col("r_name")).cast("long").as("g_r"),
        grouping(col("n_name")).cast("long").as("g_n"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)

  /** Exact skewness / excess kurtosis per group via integer power sums.
    *
    * Spark's `skewness`/`kurtosis` are double accumulators — shuffle-
    * order-dependent in the last ulps, so unusable under the hash gate.
    * Here the value is lifted to integer cents per row, the four raw
    * power sums are computed exactly (per-row powers fit BIGINT —
    * cents⁴ ≤ 6.25e14 for quantities ≤ 50 — and each term is summed as
    * DECIMAL(38,0), exact past 10²⁸ rows), and the standardized moments
    * are the classic raw→central formulas in double on those exact
    * sums. g1 and g2 are scale-invariant, so the ×100 cents lift
    * cancels; mean/std are rescaled by 100 at the end. m2^1.5 is
    * written `m2·sqrt(m2)` — `sqrt` is correctly-rounded IEEE on both
    * engines, `pow` is not.
    *
    * Scale: one hash aggregate with map-side partials; the exchange
    * carries 6 numbers per (task, group). */
  def skewKurtosis(lineitem: DataFrame): DataFrame = {
    val qc = (col("l_quantity") * 100).cast("decimal(18,0)").cast("bigint")
    val s = lineitem
      .select(col("l_returnflag"), qc.as("qc"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("qc").cast("decimal(38,0)")).as("s1"),
        sum((col("qc") * col("qc")).cast("decimal(38,0)")).as("s2"),
        sum((col("qc") * col("qc") * col("qc")).cast("decimal(38,0)")).as("s3"),
        sum((col("qc") * col("qc") * col("qc") * col("qc")).cast("decimal(38,0)")).as("s4"))
    val nD = col("n").cast("double")
    val m = col("s1").cast("double") / nD
    val r2 = col("s2").cast("double") / nD
    val r3 = col("s3").cast("double") / nD
    val r4 = col("s4").cast("double") / nD
    val m2 = r2 - m * m
    val m3 = r3 - lit(3.0) * m * r2 + lit(2.0) * m * m * m
    val m4 = r4 - lit(4.0) * m * r3 + lit(6.0) * m * m * r2 - lit(3.0) * m * m * m * m
    s.select(col("l_returnflag"), col("n"),
        Det.rfloor(m / 100, 4).as("mean_qty"),
        Det.rfloor(sqrt(m2) / 100, 4).as("std_qty"),
        Det.rfloor(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
        Det.rfloor(m4 / (m2 * m2) - lit(3.0), 6).as("kurtosis"))
      .orderBy("l_returnflag")
  }

  /** Gini coefficient of customer spend within each nation.
    *
    * Spend = exact cents total per customer; the rank-weighted form
    * G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) with xᵢ ascending needs a
    * deterministic total rank, so i = row_number over (spend, custkey).
    * Both Σ terms are DECIMAL(38,0) sums of integer products (i ≤ n and
    * cents both fit BIGINT per row; the sums can't) — order-free,
    * engine-exact; one double division at the end.
    *
    * Scale: per-customer totals shuffle on custkey with map-side
    * partials; ranks shuffle the CUSTOMER-grain frame (not orders) on
    * nation; nation dim broadcasts. Customers without orders don't
    * appear (inner join — the metric is over the spending population). */
  def giniSpend(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val spend = orders
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice") * 100).cast("decimal(18,0)").cast("bigint")).as("cents"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
    val i = row_number().over(
      Window.partitionBy(col("n_name")).orderBy(col("cents"), col("o_custkey")))
    val g = spend.withColumn("i", i)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("cents").cast("decimal(38,0)")).as("sw"),
        sum((col("i") * col("cents")).cast("decimal(38,0)")).as("siw"))
    val nD = col("n_cust").cast("double")
    val gini = (lit(2.0) * col("siw").cast("double") - (nD + 1) * col("sw").cast("double")) /
      (nD * col("sw").cast("double"))
    g.select(col("n_name"), col("n_cust"), Det.rfloor(gini, 6).as("gini"))
      .orderBy("n_name")
  }

  /** FREQUENT CO-PURCHASE PAIRS (r8) — market-basket mining over order
    * baskets: pairs of parts bought together in ≥ `minSupport` orders.
    * The scale mechanism is A-Priori downward closure (Agrawal/Srikant
    * VLDB'94): an item inside a frequent pair is itself frequent, so
    * pruning items with basket-count < minSupport BEFORE pairing is
    * LOSSLESS — at 100 TB the prefilter is what keeps the per-basket
    * pair fan-out (|basket|², the quadratic core) over the small
    * frequent-item subset instead of the raw catalog. Pair generation
    * is one self-equi-join keyed on the basket id: the exchange
    * carries basket-item rows (post-prune), the fan-out happens
    * join-local, bounded by basket size — never an item×item product.
    * Output total-ordered by (support DESC, p1, p2). */
  def copurchasePairs(lineitem: DataFrame, minSupport: Int = 3): DataFrame = {
    // shared by the frequency count and both pair-join sides — one
    // basket scan, not three (the assocRules checkpoint discipline)
    val items = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .localCheckpoint(eager = false)
    val freq = items.groupBy("pk").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport).select("pk")
    val fitems = items.join(freq, Seq("pk"), "left_semi")
    basketPairSupports(fitems)
      .filter(col("support") >= minSupport)
      .orderBy(col("support").desc, col("p1"), col("p2"))
  }

  /** Shared pair-generation core of [[copurchasePairs]] / [[assocRules]]:
    * (ok, pk) basket-item rows → (p1 < p2, support). r13: the old
    * self-equi-join on the basket id cost two ok-keyed exchange+sort
    * sides feeding a SortMergeJoin; collecting each basket to ONE sorted
    * array and fanning pairs out with array HOFs does the same
    * basket-bounded |basket|² expansion join-local after a SINGLE
    * ok-keyed aggregate exchange. pk is distinct within a basket, so
    * ordered-array positions (i < j) enumerate exactly the p1 < p2 pairs
    * the join's inequality filter kept. */
  private def basketPairSupports(fitems: DataFrame): DataFrame = {
    val baskets = fitems.groupBy("ok")
      .agg(sort_array(collect_list(col("pk"))).as("ps"))
    baskets
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
          struct(x.as("p1"), y.as("p2")))))).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
  }

  /** ASSOCIATION RULES (r8) — the step after [[copurchasePairs]]:
    * each frequent pair read in both directions as antecedent →
    * consequent, scored by confidence (`support(a,b)/support(a)` —
    * P(b|a)) and lift (`support(a,b)·N / (support(a)·support(b))` —
    * how far co-occurrence beats independence; >1 is a real
    * association, the recommender/substitution signal).
    *
    * Exactness: all counts are BIGINT; confidence and lift are single
    * double formulas over exact integers well under 2⁵³ (support·N ≤
    * ~10¹⁰ at sf0.1), rounded once via [[Det.rfloor]] — the identical
    * AST runs in the oracle. Scale: the pair frame rides the
    * [[copurchasePairs]] A-Priori machinery (item prefilter lossless,
    * fan-out basket-bounded); item supports and the 1-row basket count
    * are catalog-/constant-sized broadcasts, so scoring adds zero
    * data-sized shuffles on top of the pair mining. */
  def assocRules(lineitem: DataFrame, minSupport: Int = 3): DataFrame = {
    // the distinct-basket frame feeds FIVE consumers (item counts, both
    // pair-join sides, the basket count, the prune) — lazily checkpoint
    // it so the plan scans lineitem once, not five times (21→~10
    // exchanges in the census without it)
    val items = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .localCheckpoint(eager = false)
    val counts = items.groupBy("pk").agg(count(lit(1)).as("c"))
    val freq = counts.filter(col("c") >= minSupport)
      .localCheckpoint(eager = false)
    val fitems = items.join(freq.select("pk"), Seq("pk"), "left_semi")
    // r13: the directed-rule union below consumes the mined pair frame
    // TWICE; lazily checkpoint the (rare, support-filtered) pairs so the
    // whole basket fan-out + support aggregate runs once — the HOF
    // lambdas in the fan-out defeat exchange-reuse canonicalization, so
    // without this the union arms re-mine from scratch
    val pairs = basketPairSupports(fitems)
      .filter(col("support") >= minSupport)
      .localCheckpoint(eager = false)
    val nb = items.select("ok").distinct().agg(count(lit(1)).as("n_baskets"))
    val directed = pairs
      .select(col("p1").as("ante"), col("p2").as("cons"), col("support"))
      .unionByName(pairs
        .select(col("p2").as("ante"), col("p1").as("cons"), col("support")))
    val d = (c: Column) => c.cast("double")
    directed
      .join(broadcast(freq.select(col("pk").as("ante"), col("c").as("n_ante"))), "ante")
      .join(broadcast(freq.select(col("pk").as("cons"), col("c").as("n_cons"))), "cons")
      .crossJoin(broadcast(nb))
      .select(col("ante"), col("cons"), col("support"),
        col("n_ante"), col("n_cons"), col("n_baskets"),
        Det.rfloor(d(col("support")) / d(col("n_ante")), 6).as("confidence"),
        Det.rfloor(d(col("support")) * d(col("n_baskets")) /
          (d(col("n_ante")) * d(col("n_cons"))), 6).as("lift"))
      .orderBy("ante", "cons")
  }

  /** COUNT-MIN SKETCH, relational form (r8) — point-frequency estimates
    * over the token stream (Cormode/Muthukrishnan '05) expressed as
    * plain SQL so the WHOLE sketch is oracle-checkable, unlike the
    * buffer-based SpaceSaving aggregate: depth×width cells are rows of
    * a `(i, cell) → cnt` table built by ONE two-phase hash aggregate
    * (map-side combine collapses each partition to ≤ depth·width
    * partial rows — the exchange is sketch-sized no matter the corpus),
    * a point query is `min over i of cnt[i][h_i(key)]`. Hash rows are
    * the portable rolling fingerprint under 4 distinct (mult, modulus)
    * pairs, so DuckDB reproduces every cell bit-for-bit. The probe
    * frame (distinct tokens of the doc_id % probeMod slice) carries the
    * exact corpus count beside the estimate — the CM guarantee
    * `est ≥ exact` becomes data in the output, and the exact side is
    * the correctness harness only: the production path at 100 TB
    * serves point queries from the ≤ depth·width-row sketch alone. */
  /** The four (mult, modulus) hash-row constants shared by every
    * count-min consumer and mirrored by the oracle SQL generator. */
  private[graft] val CmParams = Seq((31L, 1000000007L), (131L, 999999937L),
    (137L, 999999893L), (257L, 998244353L))

  private def cmCells(t: Column, width: Int): Column = posexplode(
    array(CmParams.map(p =>
      graft.functions.TextExprs.rollingFingerprint(t, p._1, p._2) % width): _*))

  private def cmTokens(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      explode(split(coalesce(col("text"), lit("")), " ")).as("token"))

  /** The depth×width cell table — linear in its input, so sketches of
    * disjoint corpora merge by cellwise sum (the delta path's law). */
  private def cmSketch(documents: DataFrame, width: Int): DataFrame =
    cmTokens(documents)
      .select(cmCells(col("token"), width).as(Seq("i", "cell")))
      .groupBy("i", "cell").agg(count(lit(1)).as("cnt"))

  def countMinTokens(documents: DataFrame,
                     width: Int = 512, probeMod: Int = 101): DataFrame = {
    val tok = cmTokens(documents)
    val sketch = cmSketch(documents, width)
    val probe = tok.filter(col("doc_id") % probeMod === 0)
      .select("token").distinct()
    val est = probe
      .select(col("token"), cmCells(col("token"), width).as(Seq("i", "cell")))
      .join(broadcast(sketch), Seq("i", "cell"))
      .groupBy("token").agg(min(col("cnt")).as("n_est"))
    val exact = tok.join(broadcast(probe), Seq("token"), "left_semi")
      .groupBy("token").agg(count(lit(1)).as("n_exact"))
    est.join(exact, Seq("token"))
      .select(col("token"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
      .orderBy("token")
  }

  /** Persisted count-min epoch: the cell table saved once per (source,
    * width, epoch) — width is in the artifact name (the ensureBpeModel
    * param-key convention: a different width is a different artifact,
    * never a silent stale serve). */
  def ensureCountMin(spark: org.apache.spark.sql.SparkSession,
                     documents: DataFrame,
                     width: Int = 512, epoch: Long = 0L): String =
    graft.Warehouse.ensure(spark,
      s"agg_cm_sketch_${graft.Warehouse.srcTag(documents)}_w${width}_e$epoch",
      source = documents) { name =>
      cmSketch(documents, width).write.mode("overwrite").saveAsTable(name)
    }

  /** INCREMENTAL COUNT-MIN (r8) — corpus-wide frequency estimates for a
    * delta batch's tokens without rescanning the base corpus: the
    * sketch is LINEAR (cells of base ∪ delta = cellwise sum of the two
    * sketches), so the stored epoch table + the delta's own cells give
    * the merged sketch in one ≤ depth·width-row aggregate. The probe
    * ("how common are the incoming batch's tokens corpus-wide" — the
    * novelty screen) reads ONLY the merged sketch; the base corpus
    * never reappears after the epoch build. The oracle recomputes the
    * whole thing from base ∪ delta — passing means stored-path ≡
    * full recompute, the epoch discipline's exactness law, checkable
    * here because every cell is deterministic integer arithmetic. */
  def countMinDelta(spark: org.apache.spark.sql.SparkSession,
                    documents: DataFrame, delta: DataFrame,
                    width: Int = 512, probeMod: Int = 3,
                    epoch: Long = 0L): DataFrame = {
    val stored = spark.table(ensureCountMin(spark, documents, width, epoch))
    val merged = stored.unionByName(cmSketch(delta, width))
      .groupBy("i", "cell").agg(sum(col("cnt")).as("cnt"))
    val probe = cmTokens(delta).filter(col("doc_id") % probeMod === 0)
      .select("token").distinct()
    probe
      .select(col("token"), cmCells(col("token"), width).as(Seq("i", "cell")))
      .join(broadcast(merged), Seq("i", "cell"))
      .groupBy("token").agg(min(col("cnt")).as("n_est"))
      .orderBy("token")
  }

  /** COHORT LTV CURVE (r9) — the companion readout to
    * `agg_retention_cohort`: per (first-order cohort month, months
    * since), the cohort's cumulative spend per customer — the curve a
    * growth model fits and a payback analysis reads. Month arithmetic
    * is exact integers (ym = year·12 + month — never
    * engine-specific months_between fractional rules); spend is exact
    * cents; the single double is the final rfloor'd per-customer LTV.
    * Months with no orders simply have no row (the curve is defined at
    * observed points; a reporting layer forward-fills).
    *
    * Plan: order-grain map work, one customer-grain aggregate (first
    * order), one (cohort × month) aggregate, a cohort-partitioned
    * running sum, and a broadcast cohort-size dim — the exchange never
    * carries more than (cohorts × months) + customers partial rows. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val o = orders
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_custkey").as("cust"),
        // cast: Spark's year/month are INT where DuckDB's are BIGINT —
        // the comparator is type-strict
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("ym"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
    val first = o.groupBy("cust").agg(min(col("ym")).as("cohort_ym"))
      .localCheckpoint(eager = false) // joined to orders AND sized
    val cohortSize = first.groupBy("cohort_ym").agg(count(lit(1)).as("n_customers"))
    val per = o.join(first, "cust")
      .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym")).as("m"))
      .agg(sum(col("cents")).as("cents_m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_ym").orderBy("m")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    per.withColumn("cum_cents", sum(col("cents_m")).over(w))
      .join(broadcast(cohortSize), "cohort_ym")
      .select(col("cohort_ym"), col("m"), col("n_customers"),
        col("cents_m"), col("cum_cents"),
        Det.rfloor(col("cum_cents").cast("double") / col("n_customers") / 100.0, 2).as("ltv"))
      .orderBy("cohort_ym", "m")
  }

  /** DECILE LIFT TABLE (r9) — the model-eval readout every propensity
    * or quality scorer ships with (the curve behind
    * `pipeline_quality_classifier`-style scores): rank entities by
    * score, cut into k equal buckets, and per bucket report the
    * positive rate and its LIFT over the base rate. A score with no
    * signal reads lift ≈ 1 everywhere; a useful one front-loads.
    * Fixture framing: score = a user's non-purchase activity (exact
    * cents), label = heavy purchaser (≥ 15 purchase events) —
    * activity→conversion propensity (every synthetic user purchases at
    * least once, so a bare did-purchase label would be vacuous).
    *
    * Deciles come from [[Windows.globalNtile]] — the two-pass
    * range-partition rank, NEVER `ntile() OVER ()`'s single-task
    * global window (the canonical 100 TB failure; the oracle uses
    * plain ntile, which implements the identical first-n%k-buckets-
    * get-⌈n/k⌉ arithmetic). Scores are exact integer cents; the only
    * doubles are the final rounded rate/lift columns. Plan: one
    * map-side-combining aggregate to the user grain, the pinned range
    * exchange, then a k-row aggregate + broadcast 1-row totals. */
  def decileLift(events: DataFrame, k: Int = 10): DataFrame = {
    val users = events.groupBy("user_id").agg(
      sum(when(col("event_type") =!= "purchase",
        expr("cast(floor(value * 100 + 0.5) as bigint)")).otherwise(0L)).as("score_cents"),
      when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 15, 1L)
        .otherwise(0L).as("label"))
    val bucketed = Windows.globalNtile(users, k,
      Seq(col("score_cents").desc, col("user_id").asc), "decile")
    val per = bucketed.groupBy("decile").agg(
      count(lit(1)).as("n_users"), sum(col("label")).as("n_pos"))
    per.crossJoin(broadcast(
        per.agg(sum(col("n_users")).as("tot_n"), sum(col("n_pos")).as("tot_pos"))))
      .select(col("decile"), col("n_users"), col("n_pos"),
        Det.rfloor(col("n_pos").cast("double") / col("n_users"), 4).as("pos_rate"),
        // a zero base rate leaves lift undefined — NULL, not a
        // divide-by-zero abort (ANSI) and not a fabricated number
        when(col("tot_pos") > 0,
          Det.rfloor((col("n_pos").cast("double") / col("n_users"))
            / (col("tot_pos").cast("double") / col("tot_n")), 4)).as("lift"))
      .orderBy("decile")
  }
}
