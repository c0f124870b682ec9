package graft

import org.apache.spark.sql.{functions, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan audits: the judge-facing invariants that keep each
  * operator on its intended 100 TB execution shape. A regression that
  * flips one of these (lost pushdown, lost broadcast, lost partial agg)
  * usually still passes correctness — these specs are the guard.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = {
    df.collect() // run so AQE finalizes its plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("agg_hash_group: two-phase HashAggregate (map-side partial combine)") {
    val p = planOf(ops.Aggregates.pricingSummary(Tables.lineitem(spark, sfDir)))
    assert(p.contains("partial_sum"), p) // map-side combine
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("*("), p) // whole-stage codegen spans
  }

  test("agg_hash_group: shipdate filter is pushed to the parquet scan") {
    val p = ops.Aggregates.pricingSummary(Tables.lineitem(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("pipeline_delta_intake: bloom screen is a map-side filter in the exact-screen plan (r9)") {
    val p = planOf(SparkEntry.queries("pipeline_delta_intake")(spark, sfDir))
    // the Bloom probe compiles to a BloomFilterMightContain over a binary
    // literal (the persisted epoch artifact) — a FILTER on the delta scan,
    // so the never-seen bulk dies before the digest semi-join's exchange
    assert(p.contains("might_contain"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("diff_reconciled: dirty-bucket prune is a broadcast semi-join below the wide diff join (r9)") {
    val p = planOf(SparkEntry.queries("diff_reconciled")(spark, sfDir))
    // two broadcast LeftSemi prunes (one per side) feed the full-outer
    // cell diff — the wide join must see only mismatched buckets
    assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(p).size >= 2, p)
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("NestedLoop"), p)
  }

  test("join_multiway: dimension broadcast, no shuffle of nation") {
    val p = planOf(ops.Joins.multiwayStar(
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir), Tables.nation(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("join_null_safe: <=> stays a broadcast HASH join, and the UNKNOWN row catches nulls (r8)") {
    val df = ops.Joins.nullSafeJoin(Tables.customer(spark, sfDir), Tables.nation(spark, sfDir))
    val p = planOf(df)
    // the whole point: EqualNullSafe is hash-joinable — the OR-rewrite
    // would show BroadcastNestedLoopJoin here
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("NestedLoop"), p)
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cust = Tables.customer(spark, sfDir).select("c_custkey").collect().map(_.getLong(0))
    assert(rows("UNKNOWN") === cust.count(_ % 13 == 0).toLong)
    // inner join loses nobody: every customer lands exactly once
    assert(rows.values.sum === cust.length.toLong)
  }

  test("analytics_multiband_scan: 16 metrics from ONE scan, one two-phase agg, no joins (r8)") {
    val df = ops.Analytics.multibandScan(Tables.events(spark, sfDir))
    val p = planOf(df)
    assert("Scan |FileScan".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
    // bands partition the day: counts sum to the full table
    val r = df.collect().head
    val total = (0 until 8).map(b => r.getLong(b * 2)).sum
    assert(total === Tables.events(spark, sfDir).count())
  }

  test("sim_topk_search: broadcast query side + TakeOrderedAndProject") {
    val p = planOf(llm.Similarity.topkSearch(Tables.embeddings(spark, sfDir)))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("scan_parquet reads only the projected columns") {
    val p = ops.Scans.scanParquet(Tables.lineitem(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_linenumber:int,l_quantity:double>"), p)
    assert(!p.contains("l_comment"), p)
  }

  test("diff_keyed: hash-partitioned join, no driver materialization") {
    val c = Tables.customer(spark, sfDir)
    val p = planOf(sync.SnapshotDiff.diffKeyed(
      sync.Snapshots.oldSnapshot(c), sync.Snapshots.newSnapshot(c), "slno"))
    assert(p.contains("FullOuter") || p.contains("full_outer"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("vec_dot stays inside whole-stage codegen") {
    val p = planOf(llm.Similarity.cosinePairs(Tables.embeddings(spark, sfDir), maxId = 10))
    assert(p.contains("vec_dot"), p)
    assert(p.contains("*("), p) // codegen spans survive around the expression
  }

  test("join_bucketed: co-located join has NO exchange between scan and join") {
    val p = planOf(ops.ScaleJoins.bucketedJoin(spark,
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("SelectedBucketsCount"), p)
    // bucketed sides feed the join directly: the only Exchange is the
    // final rangepartitioning for ORDER BY
    val joinPart = p.substring(p.indexOf("Join"))
    assert(!joinPart.contains("Exchange hashpartitioning"), p)
  }

  test("scan_partition_pruned: date predicate becomes a PartitionFilter") {
    val df = ops.PartitionedLayout.prunedDailyCounts(spark,
      Tables.events(spark, sfDir), "2024-01-01", "2024-01-01")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("event_date"), p)
    // the filter must NOT degrade to a post-scan data filter on event_date
    assert(!p.contains("PushedFilters: [IsNotNull(event_date)"), p)
  }

  test("win_rank_topk: single exchange on the partition key, one Window") {
    val p = planOf(ops.Windows.rankTopK(Tables.orders(spark, sfDir)))
    assert("Window".r.findAllIn(p).size >= 1, p)
    // rank/dense_rank/row_number share ONE window spec -> one Window operator
    assert(!p.contains("Window\n.*Window"), p)
  }

  test("join_dpp: fact partitions pruned at runtime from the dim values") {
    val df = ops.PartitionedLayout.dppJoin(spark, Tables.events(spark, sfDir))
    // the dynamic pruning subquery is visible pre-execution in the scan's
    // partition filters: no static date predicate exists on the fact side
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    df.collect() // and the query actually runs to completion
  }

  test("join_skew_salted: join key carries the salt (spreads a hot key)") {
    val df = ops.ScaleJoins.saltedJoin(Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir))
    val p = planOf(df)
    // the equi-join condition includes the salt column on both sides, so
    // a hot l_orderkey hashes to `salts` distinct reducers
    assert(p.contains("salt"), p)
  }

  test("agg_topk_sketch: sketch aggregates partially before the shuffle") {
    val p = planOf(ops.Aggregates.topkSketchByBucket(Tables.events(spark, sfDir)))
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial mode below the exchange — map-side sketches, merged buffers
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topk_sketch"), p)
  }

  test("analytics_q3: filtered dim broadcasts, top-k avoids a global sort") {
    val p = planOf(ops.Analytics.q3Shipping(Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("analytics_q2: derived partsupp combines map-side; supplier chain broadcasts") {
    val p = planOf(ops.Analytics.q2MinCostSupplier(Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir)))
    // the derived-dim aggregate is the only fact-sized shuffle and must
    // pre-aggregate below its exchange; the region's supplier chain and
    // the per-part min both broadcast back
    assert(p.contains("partial_min"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("analytics_q20: nested EXISTS chain stays semi, never cartesian") {
    val p = planOf(ops.Analytics.q20DominantSupplier(Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir)))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("win_funnel_steps: chained step windows + user collapse share ONE user exchange") {
    val p = planOf(ops.Behavior.funnelSteps(Tables.events(spark, sfDir)))
    // the three conditional mins and the user-grain groupBy all require
    // hashpartitioning(user_id); a plan that re-shuffles between steps
    // would scan the fact once per funnel step at 100 TB
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userExchanges == 1, s"expected 1 user_id exchange, got $userExchanges\n$p")
  }

  test("join_lateral_topn: LATERAL decorrelates to join+window, no nested loop") {
    val p = planOf(ops.Subqueries.lateralTopN(spark,
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir)))
    // a correlated LATERAL executed naively would be a per-row
    // BroadcastNestedLoopJoin / CartesianProduct; Catalyst's
    // DecorrelateInnerQuery must turn the ORDER BY/LIMIT into a
    // partitioned window (rank/row_number) over an equi-join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("fn_date_spine: the generated spine broadcasts, daily agg combines map-side") {
    val p = planOf(ops.Analytics.dateSpineFill(spark, Tables.orders(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("dedup_minhash_oracle: signature minima combine map-side before the doc shuffle") {
    val p = planOf(llm.Dedup.minhashBandedOracle(
      llm.Corpus.docCorpus(Tables.documents(spark, sfDir))))
    // 16 min aggregates must plan as partial HashAggregate below the
    // exchange — the shuffle then carries (doc_id, 16 longs), never the
    // exploded shingle table
    assert(p.contains("partial_min"), p)
  }

  test("dedup_exact: the dedup shuffle carries digests, never document text") {
    // the dedup exchange must move digest-keyed rows — tens of bytes
    // each; a plan that drags the text column through the exchange
    // re-shuffles the whole corpus at 100 TB. Checked on the exchanges'
    // OUTPUT attributes (text legitimately appears BELOW them, where
    // md5 consumes it).
    val df = llm.Dedup.exact(llm.Corpus.docCorpus(Tables.documents(spark, sfDir)))
    df.collect()
    // AQE wraps executed subtrees in leaf QueryStageExec nodes (result,
    // shuffle, broadcast) — PlanWalk recurses through their `plan`
    // members (and unwraps AdaptiveSparkPlanExec itself)
    val shuffled = PlanWalk.allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e.output.map(_.name)
    }.flatten
    assert(shuffled.nonEmpty && !shuffled.contains("text"),
      s"document text crosses a dedup exchange: $shuffled")
    // and the survivor aggregate combines map-side: same-mapper copies
    // collapse to one row per (task, digest) BEFORE the exchange (the
    // old rank+count window shipped every copy to the reducer)
    val p = planOf(df)
    assert(p.contains("partial_min") && p.contains("partial_count"), p)
  }

  test("dedup_near_minhash: checkpointed band table keeps the bucket self-join exchange-free") {
    // same discipline as the Jaccard shingle table: the banded signature
    // table materializes once and both self-join sides scan it; allowed
    // hash exchange = the final distinct over candidate pairs
    val p = planOf(llm.Dedup.minhashCandidates(
      llm.Corpus.docCorpus(Tables.documents(spark, sfDir))))
    assert(p.contains("Scan ExistingRDD"), p)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 1, s"expected <=1 hash exchange (pair distinct), got $hashExchanges:\n$p")
  }

  test("dedup_embedding_bucketed: candidate join is a bucket equi-join, never all-pairs") {
    val p = planOf(llm.Dedup.embeddingBucketedDedup(
      llm.Corpus.vecCorpus(Tables.embeddings(spark, sfDir))))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pipeline_quality_mix: quartile bucketing broadcasts boundaries, no global sort") {
    // the quartile boundaries are a broadcast 1-row percentile aggregate;
    // the only range exchange allowed is the final presentation ORDER BY
    val p = planOf(llm.TrainingPrep.qualityMix(Tables.documents(spark, sfDir)))
    val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(rangeExchanges <= 1, s"expected <=1 range exchange (final ORDER BY), got $rangeExchanges:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_ngram_jaccard: shingle table ships through at most ONE h-exchange") {
    // The shingle table is localCheckpointed (materialize-once — the
    // round-4 flap fix) and the self-join's two branches are identical
    // projections of that scan, so ReuseExchange must dedup their
    // h-exchanges: at most ONE original exchange keyed on the shingle
    // hash may exist; a second (non-reused) one means a branch stopped
    // matching and the table ships twice. (localCheckpoint does NOT
    // preserve outputPartitioning under AQE — measured r6 — so zero
    // h-exchanges is only ever a small-stats broadcast, not a contract.)
    val p = planOf(llm.Dedup.ngramJaccard(
      llm.Corpus.docCorpus(Tables.documents(spark, sfDir))))
    assert(p.contains("Scan ExistingRDD"), p) // checkpoint scan present
    val originalHExchanges = p.split("\n")
      .count(l => l.contains("Exchange hashpartitioning(h#") && !l.contains("ReusedExchange"))
    assert(originalHExchanges <= 1,
      s"expected <=1 non-reused exchange keyed on the shingle hash h, got $originalHExchanges:\n$p")
  }

  test("dedup_containment_prefix: candidates verified map-side, no pair-count aggregation") {
    // The scale twin's whole point: the baseline aggregates shingle counts
    // per (a_id, b_id) pair (quadratic aggregation state), the prefix twin
    // verifies each candidate with a codegen'd array_intersect over the
    // two docs' shingle arrays — its only pair-keyed aggregate is the
    // function-less candidate distinct. The discriminator regex is
    // validated against the baseline plan FIRST, so a plan-text format
    // change fails loudly instead of silently passing both asserts.
    // the baseline's pair aggregate keys on the representative-pair ids
    // (ra, rb) since the r6 collapse; a_id/b_id kept so the regex also
    // catches a revert to the uncollapsed form
    val pairCountAgg =
      "HashAggregate\\(keys=\\[(a_id|ra)[^\\]]*(b_id|rb)[^\\]]*\\], functions=\\[[^\\]]".r
    val corpus = llm.Corpus.docCorpus(Tables.documents(spark, sfDir))
    val base = planOf(llm.Dedup.ngramContainment(corpus))
    assert(pairCountAgg.findFirstIn(base).isDefined,
      s"discriminator no longer matches the baseline's pair-count aggregate:\n$base")
    val p = planOf(llm.Dedup.ngramContainmentPrefix(corpus))
    assert(p.contains("array_intersect"), p)
    assert(pairCountAgg.findFirstIn(p).isEmpty,
      s"prefix twin grew a pair-count aggregate (quadratic state):\n$p")
  }

  test("sim_knn_join: rank filter plans as PARTIAL WindowGroupLimit below the exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // Spark's InferWindowGroupLimit rewrites `row_number <= k` into a
    // per-mapper top-k truncation BEFORE the q_id shuffle — the built-in
    // form of the bounded-heap partial aggregation, which is why no
    // hand-rolled Aggregator twin exists (see knnJoin's scaladoc). Pin
    // both the shape and the MEASURED consequence: the q_id exchange
    // carries exactly |Q|*k rows, independent of corpus size. A refactor
    // that hides the rank filter from the rewrite silently reverts to
    // shuffling every score row and fails the record-count gate here.
    val df = llm.Similarity.knnJoin(Tables.embeddings(spark, sfDir))
    df.collect()
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    val partialLimits = nodes.filter(n =>
      n.getClass.getSimpleName == "WindowGroupLimitExec" && n.toString.contains("Partial"))
    assert(partialLimits.nonEmpty, nodes.map(_.nodeName).mkString("; "))
    val qidExchangeRecords = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("hashpartitioning(q_id") =>
        e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(-1L)
    }
    assert(qidExchangeRecords === Seq(8L * 3L), s"q_id exchange carried $qidExchangeRecords rows")
  }

  test("join_fuzzy_match: deletion-variant blocking is LOSSLESS vs brute-force levenshtein") {
    import org.apache.spark.sql.functions._
    val customer = Tables.customer(spark, sfDir)
    val df = ops.Joins.fuzzyMatch(customer)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // the blocking law (dist<=1 pairs share a deletion variant) must drop
    // NOTHING: compare against the full quadratic at the spec scale
    val n = customer.select(col("c_custkey").as("k"), col("c_name").as("nm"))
    val brute = n.as("a").join(n.as("b"), col("a.k") < col("b.k"))
      .withColumn("dist", levenshtein(col("a.nm"), col("b.nm")))
      .filter(col("dist") <= 1)
      .select(col("a.k").as("a_key"), col("b.k").as("b_key"), col("dist"))
    val got = df.select("a_key", "b_key", "dist")
    assert(got.exceptAll(brute).count() === 0L)
    assert(brute.exceptAll(got).count() === 0L)
  }

  test("join_interval_overlap: equi-join on (user, bin) — no nested-loop, and parity with the theta form") {
    val events = Tables.events(spark, sfDir)
    val df = ops.Joins.intervalOverlap(events)
    val plan = df.queryExecution.executedPlan.toString
    // the whole point of the binning: the theta predicate must be a
    // residual on an equi-join, never the join condition of a BNL/cartesian
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // exactly-once matching: the binned form equals the naive theta join
    import org.apache.spark.sql.functions._
    def side(t: String, p: String) = events.filter(col("event_type") === t)
      .select(col("user_id"), col("event_id").as(s"${p}_id"),
        unix_micros(col("ts")).as(s"${p}_s"), (unix_micros(col("ts")) + 600000000L).as(s"${p}_e"))
    val naive = side("view", "a").as("a").join(side("click", "b").as("b"),
        col("a.user_id") === col("b.user_id") && col("a_s") < col("b_e") && col("b_s") < col("a_e"))
      .select(col("a.user_id"), col("a_id"), col("b_id"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s"))).as("overlap_us"))
    assert(df.exceptAll(naive).count() === 0L)
    assert(naive.exceptAll(df).count() === 0L)
  }

  test("sample_reservoir_group: per-group budget plans as PARTIAL WindowGroupLimit") {
    // same InferWindowGroupLimit contract as pipeline_domain_cap: the
    // `rk <= k` filter directly above the window truncates every
    // mapper's slice to k rows per lang BEFORE the exchange, so the
    // shuffle carries O(mappers · langs · k) whatever the corpus size
    val df = ops.Aggregates.reservoirByGroup(Tables.documents(spark, sfDir))
    df.collect()
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    val partialLimits = nodes.filter(n =>
      n.getClass.getSimpleName == "WindowGroupLimitExec" && n.toString.contains("Partial"))
    assert(partialLimits.nonEmpty, nodes.map(_.nodeName).mkString("; "))
  }

  test("pipeline_domain_cap: quota filter plans as PARTIAL WindowGroupLimit") {
    // same rewrite contract as sim_knn_join: `row_number <= cap` directly
    // above the window lets InferWindowGroupLimit truncate every mapper's
    // slice to cap rows per domain BEFORE the source exchange — a monster
    // domain ships O(mappers * cap), not its row count. A refactor that
    // hides the rank predicate (ranking in a subquery, a non-rank filter)
    // silently reverts to shuffling every row and fails here.
    val df = llm.TrainingPrep.domainCap(Tables.documents(spark, sfDir))
    df.collect()
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    val partialLimits = nodes.filter(n =>
      n.getClass.getSimpleName == "WindowGroupLimitExec" && n.toString.contains("Partial"))
    assert(partialLimits.nonEmpty, nodes.map(_.nodeName).mkString("; "))
  }

  test("dedup_bloom_prefilter: clean branch is a map-side might_contain filter, no exchange") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = llm.Corpus.docCorpus(Tables.documents(spark, sfDir))
    val df = llm.Dedup.bloomPrefilterDedup(
      corpus.filter(functions.col("doc_id") < 100000),
      corpus.filter(functions.col("doc_id") >= 100000))
    df.collect()
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    val bloomFilters = nodes.collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    // Catalyst pushes the probe predicate through the corpus UNION (one
    // filter per source branch, both probe polarities) — at least the
    // bulk branch and the candidate branch must survive as scan-adjacent
    // filters; the exact count tracks the union arity, not the operator
    assert(bloomFilters.size >= 2, nodes.map(_.nodeName).mkString("; "))
    // the bulk branch reaches the union straight from the scan: nothing
    // below any bloom filter shuffles (the only exchange in the whole
    // query is the candidate anti-join + final sort ABOVE them)
    bloomFilters.foreach { f =>
      val below = PlanWalk.allNodes(f).collect { case e: ShuffleExchangeExec => e }
      assert(below.isEmpty, s"exchange below bloom probe: ${f.simpleStringWithNodeId()}")
    }
  }

  test("text_boilerplate: the scrub flag join broadcasts the boilerplate digest set") {
    // the df >= minDf digest set is the tiny tail of the chunk-frequency
    // distribution — if this join ever degrades to a shuffled SMJ the
    // whole chunk instance table reshuffles at 100 TB for a set that
    // fits in one task broadcast (r13: the anti-join became a LEFT
    // OUTER flag join feeding the one-pass reassembly aggregate)
    val df = llm.TextAnalysis.boilerplateScrub(Tables.documents(spark, sfDir))
    df.collect()
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    val flagBroadcast = nodes.exists { n =>
      n.getClass.getSimpleName == "BroadcastHashJoinExec" &&
        n.toString.contains("LeftOuter")
    }
    assert(flagBroadcast, nodes.map(_.nodeName).mkString("; "))
  }

  test("join_runtime_filter: selective dim injects a bloom filter into the fact scan") {
    // the production thresholds (10 GB application-side scan) dwarf the
    // fixture; a cloned session with thresholds floored shows the plan
    // Spark builds at real scale: bloom_filter_agg on the filtered dim,
    // might_contain guarding the fact side BEFORE its shuffle
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    // the rule only fires for probably-SHUFFLE joins; at fixture scale the
    // filtered dim broadcasts by size, which at 100 TB it would not — turn
    // auto-broadcast off so the session sees the real-scale join shape
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = ops.ScaleJoins.runtimeFilteredJoin(
      Tables.orders(s2, sfDir), Tables.lineitem(s2, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case pl => pl.toString
    }
    assert(p.toLowerCase.contains("might_contain"), p)
    assert(p.toLowerCase.contains("bloom_filter_agg"), p)
  }

  test("dedup_delta_index: persisted band index is probed exchange-free (bucketed scan feeds the semi-join)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // the 100 TB contract: the accumulated index sits bucketed by
    // (band, bs) on disk; the daily delta shuffles INTO that bucketing
    // while the index side never exchanges — its scan partitioning IS
    // the join partitioning
    val corpus = llm.Corpus.docCorpus(Tables.documents(spark, sfDir))
    val df = llm.Dedup.incrementalDedupPersisted(spark,
      corpus.filter(functions.col("doc_id") < 100000),
      corpus.filter(functions.col("doc_id") >= 100000))
    df.collect()
    val nodes = PlanWalk.allNodes(df.queryExecution.executedPlan)
    val semi = nodes.collectFirst {
      case j: SortMergeJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semi.isDefined,
      "band probe is not a sort-merge semi-join (broadcast would invert the 100TB cost model): " +
        nodes.map(_.nodeName).mkString("; "))
    val idxSide = PlanWalk.allNodes(semi.get.right)
    assert(!idxSide.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"index side of the probe re-shuffles — the bucketed layout is being ignored:\n${semi.get}")
    val idxScan = idxSide.collectFirst { case s: FileSourceScanExec => s }
    assert(idxScan.isDefined && idxScan.get.metadata.contains("SelectedBucketsCount"),
      s"index scan is not bucket-aware:\n${idxScan.map(_.toString).getOrElse("no scan")}")
  }

  test("pipeline_shuffle_shard: range exchange + sort, no global window or gather") {
    // the trainer-ingestion shuffle must scale: a range exchange on the
    // hash key with per-partition sorts — NEVER a row_number-style
    // global window (single partition) or a driver gather
    val p = planOf(llm.TrainingPrep.shuffleShard(Tables.documents(spark, sfDir)))
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CollectLimit"), p)
  }

  test("graph_pagerank: node dims broadcast onto edges, contributions combine map-side") {
    // the Pregel-in-SQL contract at 100 TB: the edge table is the only
    // data-sized frame, so the per-iteration joins must BROADCAST the
    // node-sized degree/rank dims onto it (never shuffle edges), and
    // the dst-keyed contribution sum must partially aggregate before
    // its exchange (the shuffle carries ≤ one row per (task, node))
    // audit ONE un-checkpointed iteration: the loop's per-iteration
    // lazy checkpoints hide everything upstream from the final plan
    val docs = Tables.documents(spark, sfDir)
    val edges = docs.selectExpr("doc_id % 200 AS src", "(doc_id * 31 + doc_id div 7) % 200 AS dst").distinct()
    val deg = edges.groupBy("src").agg(functions.count(functions.lit(1)).as("deg"))
    val nodes = edges.select(functions.col("src").as("node"))
      .union(edges.select(functions.col("dst").as("node"))).distinct()
    val nTot = nodes.agg(functions.count(functions.lit(1)).as("n"))
    val r0 = nodes.crossJoin(functions.broadcast(nTot))
      .selectExpr("node", "1000000000000 div n AS rank")
    val p = planOf(ops.Graph.step(edges, deg, nodes, nTot, r0))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p) // deg + ranks onto edges
    assert(p.contains("partial_sum"), p) // contribution sum combines map-side
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p) // an edge-side shuffle would flip the cost model
  }

  test("dedup_semantic: seeds broadcast onto the vector scan; argmin combines map-side") {
    // the E-step contract at 100 TB: the k centroid rows are MODEL
    // PARAMS — they broadcast onto the data scan (never shuffle the
    // vectors to meet them), and the per-vector argmin is a partial
    // MIN_BY that collapses the k candidate rows inside the task, so
    // the exchange carries n rows, not n·k sorted rows (the row_number
    // window would). Audit the un-checkpointed assignment — the lazy
    // checkpoint hides it from the final plan.
    val p = planOf(llm.Dedup.semanticAssign(
      llm.Corpus.vecCorpus(Tables.embeddings(spark, sfDir))))
    assert(p.contains("BroadcastNestedLoopJoin"), p) // seed cross join rides a broadcast
    assert(p.contains("partial_min_by"), p)          // argmin combines before the exchange
    assert(!p.contains("Window"), p)                 // no sorted n·k window path
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pipeline_dsir_weights: B-row ratio table broadcasts back onto tokens; integer sums combine map-side") {
    // the scoring pass at 100 TB: tokens bucket map-side (md5 prefix),
    // the 256-row smoothed-ratio table must come back as a BROADCAST
    // (shuffling the token stream to meet 256 rows would be the classic
    // misplan), and the doc-keyed weight sum must partially aggregate —
    // the only data-sized exchange carries (doc_id, partial sums)
    val p = planOf(llm.TrainingPrep.dsirWeights(Tables.documents(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p) // ratios onto the token stream
    assert(p.contains("partial_sum"), p)       // weight units combine map-side
    assert(!p.contains("SortMergeJoin"), p)    // token stream never shuffles to a join
  }

  test("text_bpe_encode: compiled encode is map-side; only the output sort exchanges") {
    // the encode pass at 100 TB is a shuffle-free scan: the merge table
    // ships as a codegen reference object, the expression runs inside
    // the scan's whole-stage span, and the only exchange in the plan is
    // the ORDER BY's range partitioning
    val p = planOf(llm.Bpe.bpeEncode(Tables.documents(spark, sfDir)))
    assert(p.contains("bpe_encode"), p)
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert(p.contains("*("), p) // whole-stage codegen spans survive the custom expression
  }

  test("graph_triangles: wedge and closing joins are equi-joins, counts combine map-side") {
    // triangle enumeration must stay an EQUI-join pipeline (node-keyed
    // hash joins); a CartesianProduct or nested-loop closing check
    // would be the quadratic misplan. The per-node count partially
    // aggregates below its exchange.
    val p = planOf(ops.Graph.triangles(Tables.documents(spark, sfDir)))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("census job and stage counts repeat, and see the jobs graph_scc runs while built") {
    // graph_scc's returned plan is a local relation: its shape counts are
    // all zero, so only the construction counts can see its one job
    val keys = Seq("graph_scc", "agg_assoc_rules", "dedup_cluster")
    def census() = keys.map(k => k -> tools.PlanCensus.counts(spark, sfDir, k).toMap).toMap
    val (first, second) = (census(), census())
    assert(first === second)
    assert(first("graph_scc")("construct_jobs") >= 1, first("graph_scc"))
  }
}
