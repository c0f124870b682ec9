package graft

import org.apache.spark.sql.functions._

/** Semantic gates for the link-graph tier. The DuckDB oracle already
  * cross-checks `graph_pagerank` engine-to-engine; this suite adds an
  * INDEPENDENT in-memory re-derivation (plain Long floor arithmetic,
  * no SQL on either side) so a bug shared by both SQL formulations —
  * e.g. a misplaced `div` precedence — cannot slip through, plus the
  * fixed-point invariants that must hold for ANY input graph.
  */
class GraphSpec extends SparkSpec {

  private val scale = 1000000000000L

  /** Driver-side reference: same synthesis law, same floor-division
    * fixed-point iteration, written against Maps instead of frames. */
  private def referenceRanks(docIds: Seq[Long], iters: Int, n: Int): Map[Long, Long] = {
    val edges = docIds.map(id => (id % n, (id * 31 + id / 7) % n)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val nn = nodes.size
    var ranks = nodes.map(_ -> scale / nn).toMap
    for (_ <- 1 to iters) {
      val inc = edges
        .map { case (s, d) => d -> ranks(s) / deg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      ranks = nodes.map(nd =>
        nd -> (scale * 15 / 100 / nn + 85 * inc.getOrElse(nd, 0L) / 100)).toMap
    }
    ranks
  }

  test("graph_pagerank matches the in-memory fixed-point reference exactly") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.pagerank(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val want = referenceRanks(ids, iters = 3, n = 200)
    assert(got.keySet === want.keySet)
    val diffs = got.collect { case (k, v) if want(k) != v => (k, v, want(k)) }
    assert(diffs.isEmpty, s"first mismatches: ${diffs.take(3)}")
    // the synthesis must stay INFORMATIVE: a purely modular edge map
    // degenerates to a permutation whose ranks are all equal, and an
    // all-equal answer would let an aggregation bug pass every gate
    assert(got.values.toSet.size > 100, s"only ${got.values.toSet.size} distinct ranks")
  }

  test("graph_ppr matches an in-memory seeded fixed point; proximity concentrates on seeds (r8)") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.personalizedPagerank(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    // driver-side reference: pagerank recursion with the seeded teleport
    val edges = ids.map(id => (id % 200, (id * 31 + id / 7) % 200)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val seeds = nodes.filter(_ % 17 == 0)
    val ns = seeds.size
    var ranks = nodes.map(nd => nd -> (if (nd % 17 == 0) scale / ns else 0L)).toMap
    for (_ <- 1 to 3) {
      val inc = edges
        .map { case (s, d) => d -> ranks(s) / deg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      ranks = nodes.map(nd =>
        nd -> ((if (nd % 17 == 0) scale * 15 / 100 / ns else 0L)
          + 85 * inc.getOrElse(nd, 0L) / 100)).toMap
    }
    assert(got.keySet === ranks.keySet)
    val diffs = got.collect { case (k, v) if ranks(k) != v => (k, v, ranks(k)) }
    assert(diffs.isEmpty, s"first mismatches: ${diffs.take(3)}")
    // proximity semantics: mean seed rank strictly dominates mean
    // non-seed rank, and plain pagerank disagrees on some non-seed
    val (sd, nsd) = got.partition(_._1 % 17 == 0)
    assert(sd.values.sum / sd.size > nsd.values.sum / nsd.size,
      "seeds do not dominate — teleport restriction had no effect")
    val plain = ops.Graph.pagerank(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nsd.exists { case (k, v) => plain(k) != v })
    // mass stays bounded by the injected teleport mass (floor loss only)
    assert(got.values.sum <= scale)
  }

  test("graph_modularity replays from edges + LPA labels; degree-mass laws hold (r8)") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.modularity(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val labels = ops.Graph.labelPropagation(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val e0 = ids.map(id => (id % 200, (id * 31 + id / 7) % 200)).distinct
    val und = e0.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val m = und.size.toLong
    val deg = (und.map(_._1) ++ und.map(_._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val expect = labels.groupBy(_._2).map { case (lbl, members) =>
      val nodes = members.keySet
      val dsum = nodes.toSeq.map(n => deg.getOrElse(n, 0L)).sum
      val intra = und.count(e => nodes(e._1) && nodes(e._2)).toLong
      val contrib = math.floor(
        (4L * m * intra - dsum * dsum).toDouble / (4.0 * m * m) * 1e9 + 0.5) / 1e9
      lbl -> ((nodes.size.toLong, dsum, intra, contrib))
    }
    assert(got === expect, "modularity diverged from the in-memory replay")
    // mass laws: every degree is in exactly one community, intra ≤ m
    assert(got.values.map(_._2).sum === 2 * m)
    assert(got.values.map(_._3).sum <= m)
    assert(got.values.map(_._1).sum === labels.size.toLong)
  }

  test("graph_reciprocity matches an in-memory transpose count (r8)") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.reciprocity(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val e = ids.map(id => (id % 200, (id * 31 + id / 7) % 200)).distinct
      .filter(p => p._1 != p._2)
    val eset = e.toSet
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    assert(got.keySet === nodes.toSet)
    nodes.foreach { n =>
      val out = e.count(_._1 == n).toLong
      val rec = e.count(p => p._1 == n && eset((p._2, p._1))).toLong
      val (gOut, gRec, gRatio) = got(n)
      assert(gOut === out, s"out@$n")
      if (out == 0) assert(gRec.isEmpty && gRatio.isEmpty, s"deg0@$n")
      else {
        assert(gRec.contains(rec), s"recip@$n")
        assert(gRatio.contains(math.floor(rec.toDouble / out * 1e4 + 0.5) / 1e4), s"ratio@$n")
      }
    }
    // the synthesized graph must carry SOME mutual links or the
    // operator is untested; and not all — asymmetry is the norm
    val ratios = got.values.flatMap(_._3).toSeq
    assert(ratios.exists(_ > 0) && ratios.exists(_ < 1))
  }

  test("graph_pagerank invariants: teleport floor, bounded mass, monotone floor loss") {
    val docs = Tables.documents(spark, sfDir)
    def ranksAt(iters: Int): Map[Long, Long] =
      ops.Graph.pagerank(docs, iters = iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r1 = ranksAt(1); val r3 = ranksAt(3)
    val n = r3.size
    // every node keeps at least the teleport term
    val teleport = scale * 15 / 100 / n
    assert(r3.values.forall(_ >= teleport))
    // floor division only LOSES units: total mass never exceeds scale
    // and never recovers what an earlier iteration dropped
    assert(r3.values.sum <= scale)
    assert(r3.values.sum <= r1.values.sum)
    // mass stays close to scale: per-division loss is < 1 unit, so the
    // total shortfall is bounded by iters * (edges + nodes) units
    assert(r3.values.sum > scale - 3L * (n.toLong * n + n))
  }

  test("graph_components matches an in-memory union-find on the host subgraph") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.components(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: plain union-find over the same synthesis law
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val edges = ids.filter(_ % 7 == 0)
      .map(id => (id % 200, (id * 31 + id / 7) % 200)).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = nodes.map { n => // canonical component id = min member
      n -> nodes.filter(m => find(m) == find(n)).min
    }.toMap
    assert(got === want)
    // non-degenerate: many components, and at least one non-singleton
    val sizes = got.groupBy(_._2).map(_._2.size)
    assert(got.values.toSet.size > 10 && sizes.max > 1,
      s"${got.values.toSet.size} components, max size ${sizes.max}")
  }

  test("graph_pagerank resume is exact: 2 iters + 1 resumed == 3 in one run") {
    val docs = Tables.documents(spark, sfDir)
    // the epoch shape: persist after 2 iterations, resume for 1 more —
    // fixed-point arithmetic makes the equality BIT-exact, so this is
    // ===, not a tolerance check
    val twoThenOne = ops.Graph.pagerankFrom(docs, iters = 1, nNodes = 200,
      init = Some(ops.Graph.pagerank(docs, iters = 2))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val three = ops.Graph.pagerank(docs, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twoThenOne === three)
    // and through the PERSISTED epoch table (the warehouse artifact):
    // build-once semantics + bit-exact resume across the table boundary
    val viaTable = ops.Graph.pagerankResumePersisted(spark, docs,
      epoch = 991L, iters = 2, moreIters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaTable === three)
    // tagged + param-keyed name (r7 review class), still epoch-stable
    val name = ops.Graph.ensureRankTable(spark, docs, epoch = 991L, iters = 2)
    assert(name.endsWith("_e991_i2_n200") && spark.catalog.tableExists(name))
  }

  test("graph_triangles matches an in-memory enumeration and sees real triangles") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.triangles(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val e0 = ids.map(id => (id % 200, (id * 31 + id / 7) % 200)).distinct
    val nodes = (e0.map(_._1) ++ e0.map(_._2)).distinct
    val und = e0.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct.toSet
    val cnt = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
    for ((x, y) <- und; z <- nodes if y < z && und((x, z)) && und((y, z))) {
      cnt(x) += 1; cnt(y) += 1; cnt(z) += 1
    }
    assert(got === cnt.toMap)
    // the synthesized graph must actually CONTAIN triangles (13 at the
    // saturated 200-node space) — an all-zero answer would let a broken
    // wedge join pass, the pagerank-degeneracy lesson applied here
    assert(got.values.sum >= 3 * 3, s"total incidence ${got.values.sum}")
    assert(got.values.exists(_ == 0L), "zero-count nodes must still appear")
  }

  test("graph_neighbor_jaccard matches an in-memory set computation") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.neighborJaccard(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val edges = ids.map(id => (id % 200, (id * 31 + id / 7) % 200)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val indeg = edges.groupBy(_._2).map { case (d, es) => d -> es.size }
    val nbrs = edges.filter(e => indeg(e._2) <= 50)
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val want = (for {
      a <- nbrs.keys.toSeq; b <- nbrs.keys.toSeq if a < b
      inter = (nbrs(a) & nbrs(b)).size if inter >= 1
    } yield {
      val jac = BigDecimal(inter.toDouble / (deg(a) + deg(b) - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a, b, inter.toLong, jac)
    }).sortBy(t => (t._1, t._2))
    assert(got === want)
    // informative output: many pairs, several distinct similarity levels
    assert(got.length > 100 && got.map(_._4).distinct.size >= 3,
      s"${got.length} pairs, ${got.map(_._4).distinct.size} jac levels")
  }

  test("graph_hits matches an in-memory fixed-point reference exactly") {
    import spark.implicits._
    val S = 10000000L
    val docIds = Tables.documents(spark, sfDir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val n = 200
    // same synthesis law + same floor arithmetic against Maps — an
    // independent re-derivation, not a third SQL formulation
    val edges = docIds.map(id => (id % n, (id * 31 + id / 7) % n)).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var h = nodes.map(_ -> S).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val ar = edges.groupBy(_._2).map { case (d, es) => d -> es.map(e => h(e._1)).sum }
      val at = ar.values.sum
      a = nodes.map(nd => nd -> ar.getOrElse(nd, 0L) * S / at).toMap
      val hr = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => a(e._2)).sum }
      val ht = hr.values.sum
      h = nodes.map(nd => nd -> hr.getOrElse(nd, 0L) * S / ht).toMap
    }
    val got = ops.Graph.hits(Tables.documents(spark, sfDir)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === nodes.map(nd => nd -> ((a(nd), h(nd)))).toMap)
    // L1 mass conservation up to floor loss: sums land in (S - n, S]
    val aSum = got.values.map(_._1).sum
    val hSum = got.values.map(_._2).sum
    assert(aSum <= S && aSum > S - nodes.size, aSum)
    assert(hSum <= S && hSum > S - nodes.size, hSum)
  }

  test("graph_pagerank: a sink-free cycle keeps uniform rank exactly") {
    import spark.implicits._
    // doc_ids 7..11 with nNodes=5: src = id%5 = (2,3,4,0,1) and
    // dst = (31·id + id div 7)%5 = (id + 1)%5 = (3,4,0,1,2) — the
    // 5-cycle s → s+1. scale divides evenly by 5 and out-degrees are
    // all 1, so every fixed-point division is exact: uniform rank is a
    // true fixpoint with ZERO floor loss, bit-equal across iterations
    val docs = (7L to 11L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val r = ops.Graph.pagerank(docs, iters = 8, nNodes = 5).collect()
    val vals = r.map(_.getLong(1))
    assert(vals.length == 5 && vals.forall(_ == scale / 5), vals.mkString(","))
  }

  test("graph_pagerank_dangling: mass conserved up to floor loss; no-op on clean graphs") {
    val docs = Tables.documents(spark, sfDir)
    // the dangling variant's graph (dst mod 211 > src mod 200) MUST
    // actually contain dangling nodes, else the law below is vacuous
    val edges = docs.select(
        (col("doc_id") % 200).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % 211).as("dst"))
      .distinct().cache()
    val srcSet = edges.select("src").distinct()
    val nDangling = edges.select(col("dst").as("node")).distinct()
      .join(srcSet.withColumnRenamed("src", "node"), Seq("node"), "left_anti").count()
    assert(nDangling > 0, "fixture graph has no dangling nodes — law vacuous")
    val nNodes = edges.select(col("src").as("n")).union(edges.select(col("dst").as("n")))
      .distinct().count()
    val nEdges = edges.count()
    edges.unpersist()
    // with redistribution, every iteration only loses floor remainders:
    // teleport ≤ n, contrib division ≤ m, damping div 100 ≤ 99n,
    // dangling share div n ≤ n → per-iteration loss < m + 102n; and
    // floors never ADD mass, so total ∈ (S − 3·(m + 102n), S]
    val total = ops.Graph.pagerankDangling(docs, iters = 3)
      .agg(sum(col("rank_units"))).collect()(0).getLong(0)
    val bound = 3L * (nEdges + 102L * nNodes)
    assert(total <= scale && total > scale - bound,
      s"total=$total scale=$scale bound=$bound")
    // WITHOUT redistribution the same graph leaks the dangling mass —
    // strictly less total than the redistributed run
    val leaky = {
      val e = docs.select((col("doc_id") % 200).as("src"),
          ((col("doc_id") * 31 + expr("doc_id div 7")) % 211).as("dst")).distinct()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val nTot = nodes.agg(count(lit(1)).as("n"))
      var ranks = nodes.crossJoin(broadcast(nTot))
        .select(col("node"), expr(s"$scale div n").as("rank"))
      for (_ <- 1 to 3)
        ranks = ops.Graph.step(e, deg, nodes, nTot, ranks).localCheckpoint(eager = false)
      ranks.agg(sum(col("rank"))).collect()(0).getLong(0)
    }
    assert(leaky < total, s"leaky=$leaky redistributed=$total")
    // on the standard dangling-FREE graph the flag is a bit-exact no-op
    val e2 = docs.select((col("doc_id") % 200).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % 200).as("dst")).distinct()
    val deg2 = e2.groupBy("src").agg(count(lit(1)).as("deg"))
    val n2 = e2.select(col("src").as("node")).union(e2.select(col("dst").as("node"))).distinct()
    val nTot2 = n2.agg(count(lit(1)).as("n"))
    val r0 = n2.crossJoin(broadcast(nTot2)).select(col("node"), expr(s"$scale div n").as("rank"))
    val plain = ops.Graph.step(e2, deg2, n2, nTot2, r0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flagged = ops.Graph.step(e2, deg2, n2, nTot2, r0, redistribute = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain === flagged)
  }

  test("graph_label_propagation matches an in-memory deterministic LPA") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.labelPropagation(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // in-memory reference: same synthesis, 3 synchronous rounds,
    // mode-of-neighbor labels with ties to the smallest label
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val e0 = ids.map(id => (id % 200, (id * 31 + id / 7) % 200)).distinct
    val und = e0.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, (e._2, e._1))).distinct
    val nodes = (e0.map(_._1) ++ e0.map(_._2)).distinct
    val neigh = und.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    var labels = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = nodes.map { n =>
        neigh.get(n) match {
          case Some(ns) =>
            val counts = ns.map(labels).groupBy(identity)
              .map { case (l, xs) => (l, xs.size) }
            n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
          case None => n -> labels(n)
        }
      }.toMap
    }
    assert(got === labels, s"first mismatches: ${
      got.collect { case (k, v) if labels(k) != v => (k, v, labels(k)) }.take(3)}")
    // the dynamics must actually form communities: fewer labels than
    // nodes, more than one (an all-same answer would hide a join bug)
    val k = got.values.toSet.size
    assert(k > 1 && k < nodes.size, s"$k communities over ${nodes.size} nodes")
  }

  test("bfs levels match a driver-side breadth-first search (r8)") {
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.bfsLevels(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force over the same synthetic link-graph law
    val edges = docs.select(
        (org.apache.spark.sql.functions.col("doc_id") % 200).as("src"),
        ((org.apache.spark.sql.functions.col("doc_id") * 31 +
          org.apache.spark.sql.functions.expr("doc_id div 7")) % 200).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    var level = Map(0L -> 0L)
    var frontier = Set(0L)
    for (d <- 1L to 4L) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- level.keySet
      level = level ++ frontier.map(_ -> d)
    }
    assert(got === level, s"first mismatches: ${
      (got.keySet ++ level.keySet).filter(k => got.get(k) != level.get(k)).take(3)}")
    // sanity: the seed is level 0 and levels never skip a value
    assert(got(0L) === 0L)
    assert(got.values.toSet === (0L to got.values.max).toSet)
  }

  test("kcore matches a driver-side peel; the bounded unroll reaches the true fixpoint (r8)") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.kcore(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute peel over the same half-corpus synthetic link-graph law
    val edges = docs.filter(col("doc_id") % 2 === 0).select(
        (col("doc_id") % 200).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % 200).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (s, d) => s != d }
    val und = (edges ++ edges.map(_.swap)).distinct
    val adj = und.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    var mem = adj.keySet
    var prev = Set.empty[Long]
    // peel to the TRUE fixpoint, counting rounds — the operator's
    // 6-round unroll must cover it (else the bounded form lies)
    var rounds = 0
    while (mem != prev) {
      prev = mem
      mem = mem.filter(n => (adj(n) & mem).size >= 2)
      rounds += 1
    }
    assert(rounds <= 6, s"fixpoint needs $rounds rounds, unroll has 6")
    val expect = mem.map(n => n -> (adj(n) & mem).size.toLong).toMap
    assert(got === expect, s"first mismatches: ${
      (got.keySet ++ expect.keySet).filter(k => got.get(k) != expect.get(k)).take(3)}")
    // core law: every member keeps >= k neighbors inside the core
    assert(got.values.forall(_ >= 2L))
  }

  test("scc matches a driver-side mutual-reachability brute force (r8)") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.documents(spark, sfDir)
    val rows = ops.Graph.scc(docs).collect()
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotSize = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    // brute: per-node forward BFS over the same directed synthesis law
    val edges = docs.filter(col("doc_id") % 2 === 0).select(
        (col("doc_id") % 250).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % 250).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = edges.filter(e => e._1 != e._2)
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    def reach(n: Long): Set[Long] = {
      var seen = Set.empty[Long]; var frontier = adj.getOrElse(n, Set.empty)
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(m => adj.getOrElse(m, Set.empty)) -- seen
      }
      seen
    }
    val fwd = nodes.map(n => n -> reach(n)).toMap
    val expect = nodes.map { n =>
      val mutual = fwd(n).filter(m => fwd(m).contains(n))
      n -> (mutual + n).min
    }.toMap
    assert(got === expect, s"first mismatches: ${
      (got.keySet ++ expect.keySet).filter(k => got.get(k) != expect.get(k)).take(3)}")
    // size column agrees with the id grouping; ids are least members
    val sizes = expect.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    nodes.foreach(n => assert(gotSize(n) === sizes(expect(n))))
    assert(expect.forall { case (n, id) => id <= n })
    // the graph must exercise the operator: at least one non-trivial SCC
    assert(sizes.values.max > 1, "fixture graph has no cycle — SCC vacuous")
  }

  test("scc: tiny graphs partition every node into class minima") {
    import spark.implicits._
    // a handful of ids under the mod-250 synthesis law: every node
    // appears exactly once, and its id is the minimum of its class
    val tiny = Seq(0L, 3L, 6L, 9L, 12L, 15L).toDF("doc_id")
    val t = ops.Graph.scc(tiny).collect()
    assert(t.nonEmpty)
    assert(t.map(_.getLong(0)).distinct.length === t.length)
    assert(t.map(r => r.getLong(1) <= r.getLong(0)).forall(identity))
    // the class of each id contains it, and its size counts its members
    val byId = t.groupBy(_.getLong(1))
    t.foreach { r =>
      assert(byId(r.getLong(1)).exists(_.getLong(0) == r.getLong(1)))
      assert(r.getLong(2) === byId(r.getLong(1)).length.toLong)
    }
    // a 2-cycle at nNodes = 2: id 7 gives edge 1 → 0, id 8 gives 0 → 1
    val cycle = ops.Graph.scc(Seq(7L, 8L).toDF("doc_id"), nNodes = 2, sparsity = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(cycle === Seq((0L, 0L, 2L), (1L, 0L, 2L)))
  }

  test("scc: equals a driver-side Tarjan on random doc-id subsets (r11)") {
    // the fixture test pins ONE graph; this pins five random ones
    // against a reference Tarjan written here.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val nNodes = 40 + trial * 10
      val ids = Seq.fill(500)(rnd.nextInt(1000000).toLong).distinct
      // mirror the operator's synthesized-edge law exactly
      val pairs = ids.filter(_ % 2 == 0)
        .map(id => (id % nNodes, (id * 31 + id / 7) % nNodes)).distinct
      val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
      val adj = pairs.filter(p => p._1 != p._2).groupBy(_._1)
        .map { case (s, es) => s -> es.map(_._2) }
      // iterative Tarjan
      val index = scala.collection.mutable.Map[Long, Int]()
      val low = scala.collection.mutable.Map[Long, Int]()
      val onStack = scala.collection.mutable.Set[Long]()
      val stack = scala.collection.mutable.Stack[Long]()
      val comp = scala.collection.mutable.Map[Long, Long]()
      var counter = 0
      def strongconnect(v0: Long): Unit = {
        // explicit work stack: (node, child iterator)
        val work = scala.collection.mutable.Stack[(Long, Iterator[Long])]()
        def enter(v: Long): Unit = {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack += v
          work.push((v, adj.getOrElse(v, Seq.empty).iterator))
        }
        enter(v0)
        while (work.nonEmpty) {
          val (v, it) = work.top
          if (it.hasNext) {
            val w = it.next()
            if (!index.contains(w)) enter(w)
            else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            work.pop()
            if (work.nonEmpty) {
              val p = work.top._1
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == index(v)) {
              val members = scala.collection.mutable.Buffer[Long]()
              var w = -1L
              do { w = stack.pop(); onStack -= w; members += w } while (w != v)
              val id = members.min
              members.foreach(m => comp(m) = id)
            }
          }
        }
      }
      nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
      val sizes = comp.values.groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
      val expect = nodes.map(v => (v, comp(v), sizes(comp(v)))).toSet
      val got = ops.Graph.scc(ids.toDF("doc_id"), nNodes = nNodes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expect, s"trial $trial (nNodes=$nNodes): first diffs ${
        ((got -- expect) ++ (expect -- got)).take(3)}")
    }
  }

  test("condensation: quotient DAG matches a driver re-derivation and is acyclic (r9)") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.condensation(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // driver brute: scc ids (trusted — gated by its own test) + edge map
    val ids = ops.Graph.scc(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = docs.filter(col("doc_id") % 2 === 0).select(
        (col("doc_id") % 250).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % 250).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(e => e._1 != e._2)
    val expect = edges.map(e => (ids(e._1), ids(e._2))).filter(p => p._1 != p._2)
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    assert(got === expect, s"first diffs: ${
      (got.keySet ++ expect.keySet).filter(k => got.get(k) != expect.get(k)).take(3)}")
    // the quotient of SCCs is acyclic BY THEOREM — a mutual pair here
    // would mean two components that reach each other, i.e. one SCC
    assert(!got.keySet.exists { case (a, b) => got.contains((b, a)) },
      "condensation contains a 2-cycle — SCC quotient must be a DAG")
    // accounting: cross-component links + intra-component links = all links
    val intra = edges.count(e => ids(e._1) == ids(e._2)).toLong
    assert(got.values.sum + intra === edges.length.toLong)
  }

  test("random walk replays a driver hash-walk; dead ends absorb; trajectories rectangular (r9)") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.documents(spark, sfDir)
    val got = ops.Graph.randomWalk(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = docs.select(
        (col("doc_id") % 200).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % 200).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).sorted }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val expect = nodes.flatMap { start =>
      var cur = start
      (0 to 4).map { t =>
        if (t > 0) cur = adj.get(cur) match {
          case Some(ns) => ns(((cur * 31 + 17L * t) % ns.length).toInt)
          case None => cur // dead end absorbs
        }
        (start, t.toLong, cur)
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.toSeq === expect.toSeq)
    // rectangular grid: every start emits exactly steps+1 rows
    assert(got.groupBy(_._1).values.forall(_.length == 5))
    // the walk actually moves somewhere (non-vacuous)
    assert(got.exists(r => r._2 > 0 && r._3 != r._1))
  }

  test("clustering coefficient: 2T/deg(deg-1) replays from the undirected edge set (r9)") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.documents(spark, sfDir)
    val rows = ops.Graph.clusteringCoeff(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val edges = docs.select(
        (col("doc_id") % 200).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % 200).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = und.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    assert(rows.map(_._1).toSeq === nodes.toSeq) // coverage + node order
    rows.foreach { case (node, deg, tri, coeff) =>
      val nbrs = adj.getOrElse(node, Set.empty[Long])
      assert(deg === nbrs.size.toLong, s"deg@$node")
      val t = nbrs.toSeq.combinations(2).count {
        case Seq(a, b) => adj(a).contains(b)
        case _ => false
      }
      assert(tri === t.toLong, s"tri@$node")
      val expect =
        if (deg < 2) 0.0
        else math.floor(2.0 * t / (deg * (deg - 1)) * 10000.0 + 0.5) / 10000.0
      assert(coeff === expect, s"coeff@$node")
      assert(coeff >= 0.0 && coeff <= 1.0)
    }
    // triangle column agrees with the standalone triangles operator —
    // same core, pinned so a refactor of either can't drift them apart
    val triOp = ops.Graph.triangles(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (node, _, tri, _) => assert(triOp(node) === tri) }
  }

  test("closeness matches a driver-side hop-limited BFS re-derivation (r8)") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = Tables.documents(spark, sfDir)
    val rows = ops.Graph.closeness(docs).collect()
    val edges = docs.select(
        (col("doc_id") % 200).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % 200).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val adj = edges.filter(e => e._1 != e._2)
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    def levels(root: Long): Map[Long, Int] = {
      var seen = Map(root -> 0); var frontier = Set(root)
      for (d <- 1 to 4) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen.keySet
        seen = seen ++ frontier.map(_ -> d)
      }
      seen - root
    }
    assert(rows.map(_.getLong(0)).toSet === nodes.toSet)
    var nonZero = 0
    rows.foreach { r =>
      val lv = levels(r.getLong(0))
      val c = (1 to 4).map(d => lv.count(_._2 == d).toLong)
      val reached = c.sum
      val sumDist = c.zipWithIndex.map { case (n, i) => n * (i + 1) }.sum
      assert(r.getLong(1) === reached, s"reached@${r.getLong(0)}")
      assert(r.getLong(2) === sumDist, s"sum_dist@${r.getLong(0)}")
      def rf6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      if (sumDist > 0) {
        assert(r.getDouble(3) === rf6(reached.toDouble / sumDist))
        nonZero += 1
      } else assert(r.isNullAt(3))
      val harm = c(0) / 1.0 + c(1) / 2.0 + c(2) / 3.0 + c(3) / 4.0
      assert(r.getDouble(4) === rf6(harm), s"harmonic@${r.getLong(0)}")
    }
    assert(nonZero > 0)
  }
}
