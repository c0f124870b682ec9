package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over the event stream — the funnel / cohort
  * tier every product-analytics warehouse runs at fact scale. Both
  * operators are built to shuffle ONCE on user_id: the per-user
  * sequencing is window arithmetic over that single exchange (chained
  * window frames with the same partitioning stack on one hash
  * exchange — no self-joins, no per-step passes over the fact), and
  * everything after the user grain is tiny.
  */
object Behavior {

  /** Ordered conversion funnel view → click → purchase: a user counts
    * for step k only if the step-k event happened STRICTLY AFTER their
    * step-(k-1) event (the first qualifying one — min over the user
    * partition). Three chained conditional window mins share one
    * user_id exchange; the collapse to user grain reuses it; the final
    * 3-row summary aggregates user flags. Conversion is users-at-step /
    * users-at-step-1, rfloor'd — counts are exact, the one division is
    * the only floating-point op. */
  def funnelSteps(events: DataFrame,
                  steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.size == 3, "funnelSteps is specialized to 3 steps")
    val w = Window.partitionBy("user_id")
    val perEvent = events
      .withColumn("t1", min(when(col("event_type") === steps(0), col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === steps(1) && col("ts") > col("t1"),
        col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === steps(2) && col("ts") > col("t2"),
        col("ts"))).over(w))
    val perUser = perEvent.groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
    val flags = perUser.agg(
      count(col("t1")).as("u1"), count(col("t2")).as("u2"), count(col("t3")).as("u3"))
    // 3-row long form: step index/name, users reached, conversion from
    // step 1. Degenerate input (nobody reaches step 1) would make every
    // conversion 0/0 = NaN — emit NULL instead (nullif-style guard; the
    // oracle SQL carries the same CASE)
    def stepRow(i: Int, users: Column, base: Column): Column =
      struct(lit(i).as("step"), lit(steps(i - 1)).as("event_type"),
        users.as("users_reached"),
        when(base === 0, lit(null).cast("double"))
          .otherwise(Det.rfloor(users.cast("double") / base.cast("double"), 4) + lit(0.0))
          .as("conversion"))
    flags
      .select(explode(array(
        stepRow(1, col("u1"), col("u1")),
        stepRow(2, col("u2"), col("u1")),
        stepRow(3, col("u3"), col("u1")))).as("s"))
      .select(col("s.step"), col("s.event_type"), col("s.users_reached"),
        col("s.conversion"))
      .orderBy("step")
  }

  /** Weekly cohort retention: users grouped by first-activity week
    * (Monday-aligned `date_trunc('week')` — both engines start weeks on
    * Monday), counted as active per whole-week offset since. The cohort
    * assignment is one window min over the user exchange; the matrix
    * aggregate shuffles (cohort, offset) pairs — already tiny; the
    * week-0 cohort size joins back as a broadcast for the retention
    * ratio. Offsets divide exactly (both sides are week-aligned dates),
    * so the day-count / 7 is exact integer arithmetic in both engines. */
  def retentionCohort(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    val cohorted = events
      .withColumn("cohort_week", date_trunc("week", min(col("ts")).over(w)).cast("date"))
      .withColumn("week", date_trunc("week", col("ts")).cast("date"))
    val matrix = cohorted
      .groupBy(col("cohort_week"),
        floor(datediff(col("week"), col("cohort_week")) / 7).cast("long").as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      // (cohort × offset)-sized frame feeding both the week-0 base and
      // the join — materialized once instead of re-scanning the fact per
      // consumer; under AQE its shuffle stages run while the DataFrame is
      // built (see Analytics.q15, also for the executor-loss caveat)
      .localCheckpoint(eager = false)
    val base = matrix.filter(col("weeks_since") === 0)
      .select(col("cohort_week").as("b_week"), col("active_users").as("cohort_size"))
    matrix.join(broadcast(base), col("cohort_week") === col("b_week"))
      .select(col("cohort_week"), col("weeks_since"), col("active_users"),
        col("cohort_size"),
        (Det.rfloor(col("active_users").cast("double") / col("cohort_size").cast("double"), 4)
          + lit(0.0)).as("retention"))
      // weeks_since is nullable (a null-ts event row keeps its cohort but
      // no offset): null ordering must be EXPLICIT on both engines —
      // Spark's ASC default is NULLS FIRST, DuckDB's is NULLS LAST
      .orderBy(col("cohort_week").asc, col("weeks_since").asc_nulls_first)
  }

  /** MATCH_RECOGNIZE-lite: count STRICTLY-CONSECUTIVE event patterns
    * per user — here view → click → purchase with no event in between
    * (the funnel counts eventual order; this op is the adjacency
    * pattern, what SQL:2016 MATCH_RECOGNIZE or Flink CEP would express).
    * Matches may overlap (each qualifying start counts — the LEAD
    * formulation's natural semantics, mirrored exactly in the oracle).
    *
    * Plan: the two LEADs and the per-user aggregation share ONE
    * user_id exchange (the Behavior tier contract) — per-user ordering
    * is (ts, event_id), total because event_id is unique. Output one
    * row per user with ≥1 match: match count + the earliest matching
    * start's event_id. */
  def sequenceDetect(events: DataFrame,
      pattern: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    // a 1-step "sequence" is a plain filter the caller should write
    require(pattern.length >= 2, s"pattern needs >= 2 steps, got $pattern")
    // null-ts ordering explicit: Spark's ASC default is NULLS FIRST,
    // DuckDB's is NULLS LAST — the corpus has no null ts today, but an
    // implicit default here is a silent oracle split waiting to happen
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc_nulls_first, col("event_id"))
    // one LEAD per remaining step — the adjacency conjunction is built
    // for the ACTUAL pattern length, not a hardcoded arity (the first
    // fielded form silently matched only the first 3 steps of longer
    // patterns and crashed on shorter ones)
    val matchAll = pattern.zipWithIndex.map { case (step, i) =>
      if (i == 0) col("event_type") === step
      else lead(col("event_type"), i).over(w) === step
    }.reduce(_ && _)
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("hit", matchAll)
      .filter(col("hit"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"), min(col("event_id")).as("first_event"))
      .orderBy("user_id")
  }

  /** ACTIVITY STREAKS (r8) — longest run of consecutive active DAYS per
    * user, the retention metric next to [[retentionCohort]]'s cohort
    * grid. Gaps-and-islands over the DISTINCT (user, day) frame:
    * day_number − row_number is constant exactly on a consecutive run,
    * so one user-partitioned window + two tiny aggregates do it — the
    * fact shuffles once to day grain (map-side partial distinct), and
    * every window below runs on users × active-days, independent of
    * event volume. Ties on streak length break to the LATEST start
    * (max-struct draw — the "current best" a retention dashboard
    * reports); integer day arithmetic end to end, nothing to round. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date")) - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("from_day"))
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("len"), col("from_day"))).getField("len").as("streak_days"),
        max(struct(col("len"), col("from_day"))).getField("from_day").as("streak_start"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
      .orderBy("user_id")
  }

  /** TIME-BOUNDED FUNNEL (r8) — the windowFunnel semantics:
    * [[funnelSteps]] counts eventual completion (a purchase a year
    * after the view converts); this counts completion INSIDE a window
    * anchored at the user's first step-1 event — step k must land
    * strictly after step k−1 AND within `windowUs` of t1. The anchor
    * is deterministic (first view), a contract-able simplification of
    * ClickHouse's any-chain slide — the chain-extension rule past t1
    * is identical. Same execution shape as the unbounded funnel:
    * three chained conditional window mins on ONE user_id exchange,
    * exact integer µs bounds, per-user level row out. */
  def funnelWindowed(events: DataFrame,
                     windowUs: Long = 24L * 3600 * 1000000L,
                     steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.size == 3, "funnelWindowed is specialized to 3 steps")
    val w = Window.partitionBy("user_id")
    val deadline = col("t1") + lit(windowUs)
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("t1", min(when(col("event_type") === steps(0), col("us"))).over(w))
      .withColumn("t2", min(when(col("event_type") === steps(1)
        && col("us") > col("t1") && col("us") <= deadline, col("us"))).over(w))
      .withColumn("t3", min(when(col("event_type") === steps(2)
        && col("us") > col("t2") && col("us") <= deadline, col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0).as("level"),
        col("t1").as("entry_us"))
      .orderBy("user_id")
  }

  /** LAST-TOUCH ATTRIBUTION (r8) — the marketing-analytics close of the
    * funnel family: each purchase is credited to the user's most recent
    * prior touch event (view/click) within a lookback window, else
    * 'direct'. One user_id exchange carries everything: the two
    * `last(_, ignoreNulls)` frames (touch ts, touch type) share the
    * funnel's window stack, the purchase filter then collapses the fact
    * to |purchases| rows and the final channel rollup is a 3-row
    * aggregate with map-side partials. Lag accounting stays in exact
    * integer microseconds (`unix_micros` on both engines); the value
    * total goes through the decimal(18,2) accumulation pattern the
    * streaming windows use. At 100 TB the plan is: one hash exchange on
    * user_id, windows, filter, tiny agg — no self-join per channel. */
  def lastTouchAttribution(events: DataFrame,
                           lookbackDays: Int = 7): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("view", "click")
    val attributed = events
      .withColumn("lt_ts", last(when(isTouch, col("ts")), ignoreNulls = true).over(w))
      .withColumn("lt_type", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("in_window",
        col("lt_ts") >= col("ts") - expr(s"INTERVAL $lookbackDays DAYS"))
      .select(
        when(col("in_window"), col("lt_type")).otherwise("direct").as("channel"),
        col("value"),
        when(col("in_window"),
          unix_micros(col("ts")) - unix_micros(col("lt_ts"))).as("lag_us"))
    attributed
      .groupBy("channel")
      .agg(
        count(lit(1)).as("conversions"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        sum(col("lag_us")).as("total_lag_us"))
      .orderBy("channel")
  }
}
