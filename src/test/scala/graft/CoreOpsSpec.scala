package graft

import org.apache.spark.sql.functions._

/** Per-operator sanity gates on sf0.001. The primary correctness gate is
  * the driver's DuckDB hash-compare (tools/check.py locally); these specs
  * pin the invariants the oracle can't express — sketch accuracy, plan
  * shape, and smoke over every registered query.
  */
class CoreOpsSpec extends SparkSpec {

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and yields a stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("registry: unique names, pinned Sql / Exempt counts, gating specs exist") {
    import SparkEntry.{Exempt, Query, Sql}
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicate keys: ${names.diff(names.distinct)}")
    // counts, not names: the exemptions are listed once, in their records
    assert(SparkEntry.registry.count(_.oracle.isInstanceOf[Sql]) === 277)
    val exempt = SparkEntry.registry.collect { case Query(n, _, Exempt(r)) => n -> r }
    assert(exempt.size === 20)
    exempt.foreach { case (n, reason) =>
      val specs = """\w+Spec""".r.findAllIn(reason).toSeq
      assert(specs.nonEmpty, s"$n: exemption names no gating spec: $reason")
      specs.foreach(spec => assert(
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"src/test/scala/graft/$spec.scala")),
        s"$n: gating spec $spec.scala does not exist"))
    }
  }

  test("SpaceSaving sketch: exact when capacity >= cardinality, retains heavy hitters when not") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, posexplode}
    // skewed stream: one heavy item (600 of "hot") among 50 unique items
    val rows = (Seq.fill(600)("hot") ++ (1 to 50).flatMap(i => Seq.fill(4)(s"cold$i")))
    val df = rows.toDF("item")
    // approximate mode: capacity 8 << 51 distinct — the heavy hitter MUST
    // survive (true count 600 > N/capacity = 100) with est >= true count
    val approx = df.agg(functions.Sketches.topkSketch(col("item"), 1, 8).as("top"))
      .select(posexplode(col("top"))).select("col.item", "col.est_n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(approx.head._1 === "hot", approx.mkString(","))
    assert(approx.head._2 >= 600L, "SpaceSaving overestimates, never under")
    // exact mode: capacity >= cardinality -> counts equal a plain groupBy
    val exact = df.agg(functions.Sketches.topkSketch(col("item"), 1, 64).as("top"))
      .select(posexplode(col("top"))).select("col.item", "col.est_n")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(exact.head === ("hot", 600L))
  }

  test("HLL daily sketches union to a global distinct within 5% of exact") {
    val r = ops.Aggregates.hllDailyRollup(Tables.events(spark, sfDir)).collect().head
    val (days, est, exact) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(days >= 25, s"events span ~30 days, got $days")
    assert(math.abs(est - exact).toDouble / exact <= 0.05, s"est=$est exact=$exact")
  }

  test("approx_count_distinct within 5% of exact") {
    val exact = ops.Aggregates.countDistinctCustomers(Tables.orders(spark, sfDir))
      .select(col("o_orderpriority"), col("n_custs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = ops.Aggregates.approxDistinctCustomers(Tables.orders(spark, sfDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"$k: approx=$ap exact=$ex")
    }
  }

  test("approx_percentile within 2% of exact percentiles") {
    val exact = ops.Aggregates.quantiles(Tables.orders(spark, sfDir)).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = ops.Aggregates.approxQuantiles(Tables.orders(spark, sfDir)).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    exact.foreach { case (k, (e25, e50, e75)) =>
      val (a25, a50, a75) = approx(k)
      Seq((e25, a25), (e50, a50), (e75, a75)).foreach { case (e, a) =>
        assert(math.abs(a - e) / math.abs(e) <= 0.02, s"$k: approx=$a exact=$e")
      }
    }
  }

  test("mode per group: winner really is the group's max count") {
    val counts = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val modes = ops.Aggregates.modePerGroup(Tables.orders(spark, sfDir)).collect()
    assert(modes.nonEmpty)
    modes.foreach { r =>
      val (status, priority, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(counts((status, priority)) === cnt)
      val maxInGroup = counts.collect { case ((s, _), n) if s == status => n }.max
      assert(cnt === maxInGroup, s"$status mode $priority has $cnt < $maxInGroup")
    }
  }

  test("histogram buckets partition the table") {
    val orders = Tables.orders(spark, sfDir)
    val h = ops.Aggregates.histogram(orders).collect()
    assert(h.map(_.getLong(1)).sum === orders.count())
    // bucket bounds hold: min/max of each bucket within [b*w, (b+1)*w)
    h.foreach { r =>
      val (b, mn, mx) = (r.getLong(0), r.getDouble(3), r.getDouble(4))
      assert(mn >= b * 25000.0 && mx < (b + 1) * 25000.0, s"bucket $b: [$mn,$mx]")
    }
  }

  test("quantile rollup: estimates bracket the exact percentiles; shard tier merges losslessly") {
    val orders = Tables.orders(spark, sfDir)
    val width = 100000L
    val est = ops.Aggregates.quantileRollup(orders).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    // exact percentiles in the same integer cents, computed independently
    val cents = orders.select(
        (col("o_totalprice") * 100).cast("decimal(18,0)").cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    assert(est.values.forall(_._1 === n), "n_rows mismatch")
    for (q <- Seq(50L, 90L, 99L)) {
      val exact = cents(((n * q + 99) / 100).toInt - 1) // ceil(q·n/100)-th value
      val lo = est(q)._2
      assert(lo <= exact && exact < lo + width,
        s"p$q estimate $lo does not bracket exact $exact (width $width)")
    }
    // mergeability: the shard→merge histogram equals direct global bucketing
    val direct = orders
      .select((col("o_totalprice") * 100).cast("decimal(18,0)").cast("long").as("c"))
      .groupBy((col("c") - pmod(col("c"), lit(width))).divide(lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaShards = orders
      .select((col("o_orderkey") % 16).as("shard"),
        ((col("o_totalprice") * 100).cast("decimal(18,0)").cast("long")).as("c"))
      .groupBy(col("shard"), (col("c") - pmod(col("c"), lit(width))).divide(lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .groupBy("bucket").agg(sum(col("n")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaShards === direct, "shard-tier merge diverged from direct bucketing")
  }

  test("quantile delta: merge equals full recompute; persisted epoch serves identically") {
    val orders = Tables.orders(spark, sfDir)
    val base = orders.filter(col("o_orderkey") % 4 =!= 1)
    val delta = orders.filter(col("o_orderkey") % 4 === 1)
      .withColumn("o_totalprice", col("o_totalprice") + lit(500.0))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val viaDelta = rows(ops.Aggregates.quantileDelta(base, delta))
    // lossless-merge law: base-hist + delta-hist ≡ recomputing the
    // rollup chain over the full union
    val full = rows(ops.Aggregates.quantileRollup(base.unionByName(delta)))
    assert(viaDelta === full, "histogram merge diverged from full recompute")
    // the persisted epoch table is a pure serving-layer change
    val persisted = rows(ops.Aggregates.quantileDeltaPersisted(spark, base, delta, epoch = 3L))
    assert(persisted === viaDelta, "persisted quantile epoch diverged")
    // epoch reuse: second resolve neither recomputes nor rewrites
    val t1 = ops.Aggregates.ensureQuantileHist(spark, base, epoch = 3L)
    assert(t1 === ops.Aggregates.ensureQuantileHist(spark, base, epoch = 3L))
  }

  test("weighted reservoir: matches a brute-force A-ES recomputation; bias toward heavy rows") {
    val documents = Tables.documents(spark, sfDir)
    val got = ops.Aggregates.weightedReservoirByGroup(documents).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // brute-force recomputation of the A-ES keys in plain Scala
    val P = 1000000007L
    def fold(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % P)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = documents.select("doc_id", "lang", "n_chars").collect()
      .map { r =>
        val (id, lang, nc) = (r.getLong(0), r.getString(1), r.getLong(2))
        val w = math.max(nc, 1L)
        val u = (fold(md5hex(id.toString)) + 1.0) / 1000000008.0
        val key = math.round(math.log(u) / w * 1e9)
        (lang, id, w, key)
      }
    val expect = rows.groupBy(_._1).iterator.flatMap { case (lang, rs) =>
      rs.sortBy(t => (-t._4, t._2)).take(20).zipWithIndex
        .map { case ((l, id, w, key), i) => (l, (i + 1).toLong, id, w, key) }
    }.toSet
    assert(got.toSet === expect, "weighted reservoir diverged from brute-force A-ES")
    // bias law: the drawn sample's mean weight exceeds the corpus mean —
    // weighting by n_chars must actually tilt the draw toward heavy docs
    val sampleMean = got.map(_._4).sum.toDouble / got.length
    val corpusMean = rows.map(_._3).sum.toDouble / rows.length
    assert(sampleMean > corpusMean, s"sample mean $sampleMean ≤ corpus mean $corpusMean")
  }

  test("psi drift: zero on identical snapshots, positive and per-term nonnegative under drift") {
    val o = Tables.orders(spark, sfDir)
    val same = ops.DataQuality.driftPsi(o, o).collect()
    assert(same.nonEmpty && same.forall(_.getLong(3) === 0L),
      "identical snapshots must score zero PSI in every bucket")
    val drifted = ops.DataQuality.driftPsi(o,
      graft.sync.Snapshots.perturbedOrders(o)).collect()
    // each (pn−po)·ln(pn/po) term is mathematically ≥ 0; rounding to
    // nano-nats can only produce exact zeros, never negatives
    assert(drifted.forall(_.getLong(3) >= 0L), "PSI contribution went negative")
    assert(drifted.map(_.getLong(3)).sum > 0L, "perturbed snapshot must register drift")
    // the stored-histogram form never touches a fact row and is exactly
    // equal: two persisted quantile epochs feed the same monitor
    val neu = graft.sync.Snapshots.perturbedOrders(o)
    val hOld = spark.table(ops.Aggregates.ensureQuantileHist(spark, o, epoch = 11L))
    val hNew = spark.table(ops.Aggregates.ensureQuantileHist(spark, neu, epoch = 12L))
    val viaTables = ops.DataQuality.driftPsiFromHists(hOld, hNew).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(viaTables === drifted.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      "PSI from stored epoch histograms diverged from the recompute form")
  }

  test("ks drift: stored-histogram form exactly equals the recompute form") {
    // the PSI law's missing symmetry (r8): KS now shares the same
    // stored-histogram entry point, so the whole drift family (TVD via
    // snapshotDrift, PSI, KS) runs off epoch artifacts — counts are
    // integers and D is exact integer cross-multiplication, so the
    // equality is EXACT, not rounded
    val o = Tables.orders(spark, sfDir)
    val neu = graft.sync.Snapshots.perturbedOrders(o)
    def row(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val recompute = row(ops.DataQuality.driftKs(o, neu))
    val hOld = spark.table(ops.Aggregates.ensureQuantileHist(spark, o, epoch = 13L))
    val hNew = spark.table(ops.Aggregates.ensureQuantileHist(spark, neu, epoch = 14L))
    assert(row(ops.DataQuality.driftKsFromHists(hOld, hNew)) === recompute,
      "KS from stored epoch histograms diverged from the recompute form")
  }

  test("hll delta: stored-sketch union estimate EXACTLY equals the full recompute") {
    val ev = Tables.events(spark, sfDir)
    val delta = ev.filter(col("event_id") % 5 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 30 DAYS"))
      .withColumn("user_id",
        when(col("event_id") % 2 === 0, col("user_id") + 5000000L)
          .otherwise(col("user_id")))
    val viaEpoch = ops.Aggregates.hllDelta(spark, ev, delta, epoch = 21L).collect()(0)
    // full recompute: one sketch pass over base ∪ delta at the same
    // granularity — HLL union is deterministic, so equality is exact
    val full = ev.select("ts", "user_id").unionByName(delta.select("ts", "user_id"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
      // same canonical fold discipline as the product path (r13): the
      // union estimate is a function of the merge tree, so the law
      // "union of sketches ≡ sketch of the union" is only testable with
      // BOTH sides folding in one fixed order
      .repartition(1).sortWithinPartitions("day")
      .agg(count(lit(1)).as("n"), hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect()(0)
    assert(viaEpoch.getLong(0) === full.getLong(0), "slice count diverged")
    assert(viaEpoch.getLong(1) === full.getLong(1),
      s"epoch-path estimate ${viaEpoch.getLong(1)} != recompute ${full.getLong(1)}")
    // epoch reuse: second resolve serves the stored table
    val t1 = ops.Aggregates.ensureHllDaily(spark, ev, epoch = 21L)
    assert(t1 === ops.Aggregates.ensureHllDaily(spark, ev, epoch = 21L))
    // overlap robustness (the normal append case): a delta re-delivering
    // a subset of already-stored days folds into those days' sketches —
    // slice count stays the distinct-day count, and since the subset's
    // registers are pointwise ≤ the stored day's, the estimate is
    // EXACTLY the base-only estimate
    val overlap = ev.filter(col("event_id") % 7 === 0)
    val viaOverlap = ops.Aggregates.hllDelta(spark, ev, overlap, epoch = 21L).collect()(0)
    val nDays = ev.select(to_date(col("ts"))).distinct().count()
    assert(viaOverlap.getLong(0) === nDays, "overlapping delta double-counted a day slice")
    val baseOnly = ops.Aggregates.hllDailyRollup(ev).collect()(0).getLong(1)
    assert(viaOverlap.getLong(1) === baseOnly,
      s"subset delta changed the estimate: ${viaOverlap.getLong(1)} vs $baseOnly")
  }

  test("ks drift: zero on identical snapshots; matches a brute-force CDF-gap recompute") {
    val o = Tables.orders(spark, sfDir)
    val same = ops.DataQuality.driftKs(o, o).collect()
    assert(same.length === 1 && same(0).getDouble(0) === 0.0)
    val neu = graft.sync.Snapshots.perturbedOrders(o)
    val got = ops.DataQuality.driftKs(o, neu).collect()(0)
    // brute force: exact integer cumulative gap over the same buckets
    def buckets(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select((col("o_totalprice") * 100).cast("decimal(18,0)").cast("long").as("c"))
        .collect().map(_.getLong(0) / 100000L).groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val (bo, bn) = (buckets(o), buckets(neu))
    val all = (bo.keySet ++ bn.keySet).toSeq.sorted
    val (nOld, nNew) = (bo.values.sum, bn.values.sum)
    var (cumO, cumN) = (0L, 0L)
    var best = BigInt(0); var at = Long.MaxValue
    all.foreach { b =>
      cumO += bo.getOrElse(b, 0L); cumN += bn.getOrElse(b, 0L)
      val gap = (BigInt(cumO) * nNew - BigInt(cumN) * nOld).abs
      if (gap > best) { best = gap; at = b }
    }
    val expD = math.floor(best.toDouble / (nOld.toDouble * nNew.toDouble) * 1e6 + 0.5) / 1e6
    assert(got.getDouble(0) === expD && got.getDouble(0) > 0.0, got)
    assert(got.getLong(1) === at && got.getLong(2) === nOld && got.getLong(3) === nNew, got)
  }

  test("zscore outliers are sorted by |z| and bounded by the group extremes") {
    val out = ops.DataQuality.outlierZscore(Tables.lineitem(spark, sfDir)).collect()
    assert(out.length === 50)
    val zs = out.map(r => math.abs(r.getDouble(5)))
    assert(zs.zip(zs.tail).forall { case (a, b) => a >= b - 1e-9 }, "not sorted by |z|")
  }

  test("except-all/intersect-all respect multiplicities") {
    val c = Tables.customer(spark, sfDir)
    val cntA = c.filter(col("c_custkey") % 3 === 0)
      .groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cntB = c.filter(col("c_custkey") % 4 === 0)
      .groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exc = ops.SetSort.exceptAllBags(c).groupBy("segment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val int = ops.SetSort.intersectAllBags(c).groupBy("segment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (cntA.keySet ++ cntB.keySet).foreach { seg =>
      val (a, b) = (cntA.getOrElse(seg, 0L), cntB.getOrElse(seg, 0L))
      assert(exc.getOrElse(seg, 0L) === math.max(a - b, 0L), s"except_all $seg")
      assert(int.getOrElse(seg, 0L) === math.min(a, b), s"intersect_all $seg")
    }
  }

  test("gaps-and-islands runs are contiguous and tile each priority's keys") {
    val out = ops.Windows.gapsIslands(Tables.orders(spark, sfDir)).collect()
    out.foreach { r =>
      assert(r.getLong(3) === r.getLong(2) - r.getLong(1) + 1,
        s"island not contiguous: $r")
    }
    val totalKeys = out.map(_.getLong(3)).sum
    assert(totalKeys === Tables.orders(spark, sfDir).count())
  }

  test("forward fill carries the last non-null balance, leading nulls stay") {
    val rows = ops.Windows.fillForward(Tables.customer(spark, sfDir)).collect()
    var seg = ""; var lastSeen: Option[Double] = None
    rows.foreach { r =>
      if (r.getString(0) != seg) { seg = r.getString(0); lastSeen = None }
      if (!r.isNullAt(2)) lastSeen = Some(r.getDouble(2))
      val filled = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      assert(filled === lastSeen, s"fill mismatch at ${r.getLong(1)}")
    }
  }

  test("lateral top-n returns each customer's true top-2 orders") {
    val out = ops.Subqueries.lateralTopN(spark, Tables.customer(spark, sfDir), Tables.orders(spark, sfDir))
      .collect().groupBy(_.getLong(0))
    assert(out.nonEmpty && out.values.forall(_.length <= 2))
    val sample = out.keys.min
    val expect = Tables.orders(spark, sfDir)
      .filter(col("o_custkey") === sample)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(2).collect().map(_.getAs[Long]("o_orderkey")).toSet
    assert(out(sample).map(_.getLong(1)).toSet === expect)
  }

  test("unpivot is the inverse of pivot: dense long form sums to row count") {
    val out = ops.Aggregates.unpivotStatusCounts(Tables.orders(spark, sfDir)).collect()
    assert(out.length === 15) // 5 priorities x 3 statuses, zeros kept
    assert(out.map(_.getLong(2)).sum === Tables.orders(spark, sfDir).count())
  }

  test("median: both definitions sit inside each group's range") {
    val byBal = Tables.customer(spark, sfDir).groupBy("c_mktsegment")
      .agg(min("c_acctbal").as("mn"), max("c_acctbal").as("mx")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ops.Aggregates.medianBalance(Tables.customer(spark, sfDir)).collect().foreach { r =>
      val (mn, mx) = byBal(r.getString(0))
      assert(r.getDouble(1) >= mn && r.getDouble(1) <= mx)
      assert(r.getDouble(2) >= mn && r.getDouble(2) <= mx)
    }
  }

  test("regression agg: r2 in [0,1] and the fit passes through the mean") {
    val stats = Tables.lineitem(spark, sfDir).groupBy("l_returnflag")
      .agg(avg("l_quantity").as("mx"), avg("l_extendedprice").as("my")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ops.Aggregates.regrStats(Tables.lineitem(spark, sfDir)).collect().foreach { r =>
      val (slope, icept, r2) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(r2 >= 0.0 && r2 <= 1.0, s"r2 out of range: $r")
      // least-squares line passes through (mean x, mean y)
      val (mx, my) = stats(r.getString(0))
      assert(math.abs(slope * mx + icept - my) / math.abs(my) < 1e-9, s"fit off-mean: $r")
    }
  }

  test("typed Dataset pipeline agrees with the untyped relational form") {
    val typed = ops.TypedOps.typedCustomerSpend(Tables.orders(spark, sfDir)).collect()
    val untyped = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("total_cents"),
        max("o_totalprice"))
      .orderBy("o_custkey").collect()
    assert(typed.length === untyped.length)
    typed.zip(untyped).foreach { case (t, u) =>
      assert(t.getLong(0) === u.getLong(0) && t.getLong(2) === u.getLong(2))
    }
  }

  test("explode_outer keeps empty-array rows that explode drops") {
    val out = ops.ScalarFns.explodeOuter(Tables.orders(spark, sfDir)).collect()
    val emptyKeys = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 1000 && col("o_orderkey") % 3 === 0).count()
    assert(out.count(_.isNullAt(1)) === emptyKeys, "null rows != empty arrays")
    assert(emptyKeys > 0, "fixture needs some empty arrays")
  }

  test("date spine has one row per calendar day, gaps zero-filled") {
    val out = ops.Analytics.dateSpineFill(spark, Tables.orders(spark, sfDir)).collect()
    assert(out.length === 90) // Jan+Feb+Mar 1997
    val days = out.map(_.getDate(0).toLocalDate)
    days.zip(days.tail).foreach { case (a, b) => assert(b === a.plusDays(1), s"gap at $a") }
    assert(out.forall(r => r.getLong(1) >= 0))
  }

  test("snapshot drift: segment rewrite is detected, scores stay in [0,1]") {
    val c = Tables.customer(spark, sfDir)
    val out = ops.DataQuality.snapshotDrift(
      graft.sync.Snapshots.oldSnapshot(c), graft.sync.Snapshots.newSnapshot(c))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    out.values.foreach(t => assert(t >= 0.0 && t <= 1.0))
    // ~1/11 of segments rewritten to CHANGED -> visible drift
    assert(out("segment") > 0.01, s"segment drift not detected: $out")
  }

  test("forward as-of returns each order's earliest at-or-after event") {
    val out = ops.Joins.asOfForward(Tables.orders(spark, sfDir), Tables.events(spark, sfDir))
      .filter(col("event_id").isNotNull).limit(20).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val expect = Tables.events(spark, sfDir)
        .filter(col("user_id") === r.getLong(1) &&
          col("ts") >= lit(r.getAs[Any]("o_orderdate")))
        .orderBy(col("ts").asc, col("event_id").asc)
        .limit(1).collect()
      assert(expect.head.getAs[Long]("event_id") === r.getLong(3), s"wrong match: $r")
    }
  }

  test("malformed CSV: every injected bad line is quarantined, none dropped") {
    val out = ops.Scans.scanCsvMalformed(spark, Tables.nation(spark, sfDir), sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.getOrElse("corrupt", 0L) === 3L, s"bad lines not quarantined: $out")
    assert(out.getOrElse("good", 0L) === Tables.nation(spark, sfDir).count())
    assert(out.values.sum === Tables.nation(spark, sfDir).count() + 3)
  }

  test("malformed JSONL: corrupt vs null-padded classes split exactly as injected (r8)") {
    val out = ops.Scans.scanJsonlMalformed(spark, Tables.nation(spark, sfDir), sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // truncated + type-mismatch quarantine; the missing-field object
    // parses clean with a null — conflating it with corrupt is how
    // good rows end up quarantined
    assert(out.getOrElse("corrupt", 0L) === 2L, s"$out")
    assert(out.getOrElse("null_padded", 0L) === 1L, s"$out")
    assert(out.getOrElse("good", 0L) === Tables.nation(spark, sfDir).count())
  }

  test("try_* family: each failure class yields null exactly on its failing rows (r8)") {
    val rows = ops.ScalarFns.tryArith(Tables.events(spark, sfDir)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.isNullAt(1) === (id % 5 == 0), s"td@$id")
      assert(r.isNullAt(2) === (id % 2 == 1), s"tc@$id")
      if (!r.isNullAt(2)) assert(r.getLong(2) === id % 100, s"tc val@$id")
      assert(r.isNullAt(3) === (id % 2000 > 1000), s"ta@$id")
      if (!r.isNullAt(3)) assert(r.getLong(3) === Long.MaxValue - 1000L + id % 2000, s"ta val@$id")
    }
  }

  test("pareto share: n80 is the exact integer boundary, replayed per segment (r8)") {
    val got = ops.Windows.cumulativeShare(
        Tables.orders(spark, sfDir), Tables.customer(spark, sfDir)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4))))
      .toMap
    val spend = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice") * 100).cast("decimal(18,0)").cast("bigint")).as("cents"))
      .join(Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .collect().map(r => (r.getString(3), r.getLong(0), r.getLong(1)))
    spend.groupBy(_._1).foreach { case (seg, rs) =>
      val sorted = rs.map(r => (r._3, r._2)).sortBy { case (c, k) => (-c, k) }
      val total = sorted.map(_._1).sum
      val cums = sorted.scanLeft(0L)(_ + _._1).tail
      val n80 = cums.indexWhere(c => c * 5 >= total * 4) + 1
      val k = (sorted.length + 9) / 10
      val share = math.floor(cums(k - 1).toDouble / total * 1e4 + 0.5) / 1e4
      val (nCust, totCents, gotN80, gotShare) = got(seg)
      assert(nCust === sorted.length.toLong, s"$seg n")
      assert(totCents === total, s"$seg total")
      assert(gotN80 === n80, s"$seg n80")
      assert(gotShare === share, s"$seg decile share")
    }
  }

  test("rules audit: violation counts replay per rule; both outcomes fire (r8)") {
    val got = ops.DataQuality.rulesAudit(Tables.lineitem(spark, sfDir)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    val li = Tables.lineitem(spark, sfDir)
      .select("l_quantity", "l_discount", "l_tax", "l_extendedprice").collect()
    def colv(r: org.apache.spark.sql.Row, c: String): Double = c match {
      case "l_quantity" => r.getDouble(0); case "l_discount" => r.getDouble(1)
      case "l_tax" => r.getDouble(2); case _ => r.getDouble(3)
    }
    val rules = Seq(("l_quantity", "min", 5.0), ("l_quantity", "max", 50.0),
      ("l_discount", "max", 0.08), ("l_tax", "min", 0.0), ("l_extendedprice", "min", 1000.0))
    assert(got.keySet === rules.map(r => (r._1, r._2)).toSet)
    rules.foreach { case (c, op, b) =>
      val viol = li.count(r => if (op == "min") colv(r, c) < b else colv(r, c) > b).toLong
      val (bound, nChecked, nViol, pass) = got((c, op))
      assert(bound === b)
      assert(nChecked === li.length.toLong, s"$c/$op checked")
      assert(nViol === viol, s"$c/$op violations")
      assert(pass === (if (viol == 0) 1 else 0), s"$c/$op pass")
    }
    val passes = got.values.map(_._4).toSeq
    assert(passes.contains(0) && passes.contains(1), "rule fixture must exercise both outcomes")
  }

  test("time range frame: trailing window really spans 2 hours") {
    val rows = ops.Windows.timeRangeFrame(Tables.events(spark, sfDir)).collect()
      .groupBy(_.getLong(0))
    val (_, sample) = rows.maxBy(_._2.length)
    val byTs = sample.sortBy(_.getLong(2))
    byTs.foreach { r =>
      val expect = byTs.count(x =>
        x.getLong(2) >= r.getLong(2) - 7200 && x.getLong(2) <= r.getLong(2))
      assert(r.getLong(3) === expect, s"frame count off at ${r.getLong(1)}")
    }
  }

  test("broadcast join plans a BroadcastHashJoin, no shuffle of the fact side") {
    val plan = ops.Joins.broadcastDim(Tables.nation(spark, sfDir), Tables.region(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sort+limit top-k plans TakeOrderedAndProject (no global sort)") {
    val plan = ops.SetSort.topK(Tables.orders(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("parquet scan prunes columns (ReadSchema only requested cols)") {
    val plan = ops.Scans.scanParquet(Tables.lineitem(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("l_orderkey") && !plan.contains("l_comment"), plan)
  }

  test("filter pushes predicates into the parquet scan") {
    val plan = ops.Scans.filterPred(Tables.lineitem(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("IsNotNull"), plan)
  }

  test("co-purchase pairs: A-Priori prune is lossless vs an unpruned brute recount (r8)") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sfDir)
    val got = ops.Aggregates.copurchasePairs(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force WITHOUT the item prefilter — downward closure says
    // the pruned plan must lose nothing above the support threshold
    val baskets = li.select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (_, es) => es.map(_._2).distinct.sorted }
    val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    baskets.foreach { items =>
      for (i <- items.indices; j <- i + 1 until items.length)
        counts((items(i), items(j))) = counts.getOrElse((items(i), items(j)), 0L) + 1L
    }
    val expect = counts.filter(_._2 >= 3L).toMap
    assert(got === expect, s"pair counts diverged (got ${got.size}, expect ${expect.size})")
    assert(got.nonEmpty)
    // every item inside a frequent pair is itself frequent (closure law)
    val itemFreq = baskets.toSeq.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    got.keys.foreach { case (a, b) =>
      assert(itemFreq(a) >= 3 && itemFreq(b) >= 3)
    }
  }

  test("assoc rules: counts match a brute recount, confidence/lift replay exactly (r8)") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sfDir)
    val rules = ops.Aggregates.assocRules(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7))).toMap
    assert(rules.nonEmpty)
    // brute item/basket counts from the raw baskets
    val baskets = li.select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nBaskets = baskets.map(_._1).distinct.length.toLong
    val itemFreq = baskets.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val pairs = ops.Aggregates.copurchasePairs(li).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every frequent pair yields exactly two directed rules; no extras
    assert(rules.size === 2 * pairs.size)
    def rf6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    pairs.foreach { case ((a, b), s) =>
      for (((x, y), sup) <- Seq((a, b) -> s, (b, a) -> s)) {
        val (gs, na, nc, nb, conf, lift) = rules((x, y))
        assert(gs === sup && na === itemFreq(x) && nc === itemFreq(y) && nb === nBaskets)
        assert(conf === rf6(sup.toDouble / na))
        assert(lift === rf6(sup.toDouble * nb / (na.toDouble * nc.toDouble)))
        assert(conf > 0 && conf <= 1.0)
      }
    }
    // lift symmetry: both directions of a pair share the lift value
    pairs.keys.foreach { case (a, b) =>
      assert(rules((a, b))._6 === rules((b, a))._6)
    }
  }

  test("recency feature replays per-user; a purchase row measures the inter-purchase gap (r9)") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val got = ops.Windows.recencyFeature(Tables.events(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val raw = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val expect = raw.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val s = evs.sortBy(e => (e._4, e._2))
      var last = Long.MinValue
      s.map { e =>
        val v = if (last == Long.MinValue) -1L else (e._4 - last) / 60000000L
        val out = (e._1, e._2, e._3, e._4, v)
        if (e._3 == "purchase") last = e._4 // marker visible only STRICTLY after
        out
      }
    }.sortBy(e => (e._1, e._4, e._2))
    assert(got.toSeq === expect)
    // both regimes present: a real gap and the before-first sentinel
    assert(got.exists(_._5 > 0L) && got.exists(_._5 === -1L))
  }

  test("cohort LTV: curve replays from raw orders and is non-decreasing per cohort (r9)") {
    import org.apache.spark.sql.functions.col
    val got = ops.Aggregates.cohortLtv(Tables.orders(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val raw = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate").isNotNull)
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map { r =>
        // o_orderdate is TIMESTAMP_NTZ → the row carries a LocalDateTime
        // (zone-free, exactly the wall-clock fields year/month read)
        val d = r.getAs[java.time.LocalDateTime](1)
        (r.getLong(0), d.getYear.toLong * 12 + d.getMonthValue,
          math.floor(r.getDouble(2) * 100 + 0.5).toLong)
      }
    val firstYm = raw.groupBy(_._1).map { case (c, os) => c -> os.map(_._2).min }
    val cohorts = firstYm.values.groupBy(identity).map { case (ym, xs) => ym -> xs.size.toLong }
    val perMonth = raw.groupBy(o => (firstYm(o._1), o._2 - firstYm(o._1)))
      .map { case (k, os) => k -> os.map(_._3).sum }
    val expect = perMonth.keys.toSeq.sorted.map { case (cym, m) =>
      val cum = perMonth.filter(p => p._1._1 == cym && p._1._2 <= m).values.sum
      val n = cohorts(cym)
      (cym, m, n, perMonth((cym, m)), cum,
        math.floor(cum.toDouble / n / 100 * 100 + 0.5) / 100)
    }
    assert(got.toSeq === expect)
    // the curve is cumulative: LTV never decreases within a cohort
    got.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(_._2).map(_._6).sliding(2).foreach {
        case Array(a, b) => assert(b >= a, "LTV decreased")
        case _ =>
      }
    }
  }

  test("decile lift: exact cut replay, balanced buckets, weighted lift averages to 1 (r9)") {
    import org.apache.spark.sql.functions.col
    val got = ops.Aggregates.decileLift(Tables.events(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.map(_._1).toSeq === (1L to 10L))
    // driver replay: per-user score cents + heavy-purchaser label
    val raw = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val users = raw.groupBy(_._1).toSeq.map { case (u, es) =>
      val score = es.filter(_._2 != "purchase")
        .map(e => math.floor(e._3 * 100 + 0.5).toLong).sum
      val label = if (es.count(_._2 == "purchase") >= 15) 1L else 0L
      (u, score, label)
    }.sortBy(t => (-t._2, t._1))
    val n = users.length
    val q = n / 10; val rem = n % 10
    val sizes = (0 until 10).map(i => if (i < rem) q + 1 else q)
    val cuts = sizes.scanLeft(0)(_ + _)
    got.zipWithIndex.foreach { case ((_, nu, np, rate, lift), i) =>
      val slice = users.slice(cuts(i), cuts(i + 1))
      assert(nu === slice.length.toLong, s"size@${i + 1}")
      assert(np === slice.map(_._3).sum, s"pos@${i + 1}")
      val totPos = users.map(_._3).sum
      val expRate = math.floor(np.toDouble / nu * 10000 + 0.5) / 10000
      val expLift = math.floor((np.toDouble / nu) / (totPos.toDouble / n) * 10000 + 0.5) / 10000
      assert(rate === expRate && lift === expLift, s"rate/lift@${i + 1}")
    }
    // lift is a relative measure: its user-weighted average is 1
    val wavg = got.map(g => g._5 * g._2).sum / n
    assert(math.abs(wavg - 1.0) < 0.01, s"weighted lift $wavg")
  }

  test("spatial grid join: cell blocking is lossless vs the brute cross-filter (r9)") {
    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val got = ops.Joins.spatialGrid(cust, supp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cs = cust.select("c_custkey").collect().map(_.getLong(0))
    val ss = supp.select("s_suppkey").collect().map(_.getLong(0))
    val expect = (for {
      ck <- cs.toSeq
      sk <- ss.toSeq
      cx = (ck * 2654435761L) % 10000
      cy = (ck * 40503L) % 10000
      sx = (sk * 7919L) % 10000
      sy = (sk * 104729L) % 10000
      d2 = (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
      if d2 <= 150L * 150L
    } yield (ck, sk, d2)).sortBy(t => (t._1, t._2))
    assert(got.toSeq === expect)
    assert(got.nonEmpty, "no pairs within radius — vacuous fixture")
  }

  test("freshness audit: per-slice lag replays from raw events, buckets respect the thresholds (r9)") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val got = ops.DataQuality.freshness(Tables.events(spark, sfDir)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    val raw = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1) % 20, r.getLong(2)))
    val slices = raw.groupBy(e => (e._1, e._2))
    val gUs = raw.map(_._3).max
    assert(got.map(g => (g._1, g._2)).toSet === slices.keySet)
    got.foreach { case (typ, shard, n, lastS, lagMin, bucket) =>
      val us = slices((typ, shard)).map(_._3)
      assert(n === us.length.toLong, s"n@$typ/$shard")
      assert(lastS === us.max / 1000000L)
      assert(lagMin === (gUs - us.max) / 60000000L)
      val expect = if (lagMin < 360) "fresh" else if (lagMin < 1440) "lagging" else "stale"
      assert(bucket === expect, s"bucket@$typ/$shard")
    }
    // lag is measured against the corpus max, so at least one slice is
    // exactly current — the audit's fixed point
    assert(got.exists(_._5 === 0L), "no slice at lag 0 — reference point broken")
  }

  test("sequential-gaps audit: bucket rows replay from raw keys and encode the naive gap list losslessly (r8)") {
    import org.apache.spark.sql.functions.col
    // driver orderkeys are dense — same extract-defect fixture as the
    // registered key: a bucket-spanning range hole + scattered drops
    val orders = Tables.orders(spark, sfDir)
      .filter(!col("o_orderkey").between(400, 440) && col("o_orderkey") % 53 =!= 3)
    val W = 32L
    val rows = ops.DataQuality.sequentialGaps(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val keys = orders.select(col("o_orderkey")).distinct()
      .collect().map(_.getLong(0)).sorted
    val byBucket = keys.groupBy(_ / W)
    assert(rows.map(_._1).toSet === byBucket.keySet)
    rows.foreach { case (b, first, last, n, missIn, runs, lead, trail) =>
      val ks = byBucket(b).sorted
      assert(first === ks.head && last === ks.last && n === ks.length.toLong)
      assert(missIn === ks.last - ks.head + 1 - ks.length)
      val trueRuns = ks.sliding(2).count { case Array(a, c) => c > a + 1; case _ => false }
      assert(runs === trueRuns.toLong, s"gap_runs@$b")
      assert(lead === ks.head - b * W && trail === (b + 1) * W - 1 - ks.last)
    }
    // losslessness: the report reconstructs the naive global missing-key
    // count — cross-bucket gaps decompose as trail + empty buckets + lead
    val naiveMissing = (keys.head to keys.last).length - keys.length
    val sorted = rows.sortBy(_._1)
    val internal = sorted.map(_._5).sum
    val boundary = sorted.sliding(2).collect {
      case Array(a, c) => a._8 + (c._1 - a._1 - 1) * W + c._7
    }.sum
    assert(internal + boundary === naiveMissing.toLong)
    // the TPC-H orderkey synthesis is sparse — the audit must see gaps
    assert(naiveMissing > 0 && internal > 0)
  }
}
