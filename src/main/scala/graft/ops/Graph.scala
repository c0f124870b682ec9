package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics over the corpus's synthesized host graph.
  *
  * A crawl pipeline's quality signals include graph centrality (hosts
  * linked by many well-linked hosts are likelier to carry quality text —
  * the classic PageRank prior). The corpus has no link column, so edges
  * are synthesized deterministically from doc ids exactly like
  * [[graft.llm.Dedup.urlDedup]] synthesizes URLs: host(doc) = doc_id mod
  * N, target(doc) = (doc_id·31 + doc_id div 7) mod N, one distinct edge
  * per (host, target) pair. The `div 7` term matters: any PURELY modular
  * map (doc_id·a + b) mod N makes dst a function of src alone — a
  * permutation graph whose PageRank is exactly uniform, so the oracle
  * would prove nothing about the aggregation. Mixing in the quotient
  * gives varying in/out-degrees (measured at sf0.01: out 2–3, in 1–4,
  * 185 distinct rank values spanning 6.6×) while keeping every dst
  * inside the src residue set — no dangling nodes, so rank mass is
  * conserved up to floor loss (GraphSpec pins that invariant). The
  * oracle mirrors the synthesis.
  */
object Graph {

  /** The synthesized host link graph shared by EVERY graph operator —
    * [[pagerank]], [[hits]], [[degreeStats]], [[triangles]],
    * [[neighborJaccard]] — and mirrored by their oracle CTEs: one
    * definition so no consumer can silently diverge onto a different
    * graph. Returns (edges, nodes), both lazily checkpointed — every
    * consumer scans them per iteration. */
  private def linkGraph(documents: DataFrame, nNodes: Int): (DataFrame, DataFrame) =
    linkGraph(documents, nNodes, nNodes)

  /** `nDst > nNodes` widens the dst residue set past the src set, so
    * hosts in [nNodes, nDst) receive links but emit none — the dangling
    * -node synthesis [[pagerankDangling]] runs on. */
  private def linkGraph(documents: DataFrame, nNodes: Int, nDst: Int): (DataFrame, DataFrame) = {
    val edges = documents.select(
        (col("doc_id") % nNodes).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % nDst).as("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    (edges, nodes)
  }

  /** PageRank in FIXED-POINT integer arithmetic (units of 1e-12): rank
    * values are BIGINT unit counts, per-edge contributions are integer
    * divisions (`rank div out_degree`), the damping step is
    * `(85·Σ contrib) div 100`, and the teleport term is
    * `(0.15·SCALE) div N`. Floor division loses the remainder
    * deterministically, so — unlike a double formulation, where the
    * Σ contrib accumulation order varies with shuffle order and engines
    * disagree in the last ulps — every iteration is bit-exact on ANY
    * engine and ANY parallelism, which is what makes an ITERATIVE
    * algorithm oracle-checkable at all (same reproducibility discipline
    * as the IVF/PQ exact-decimal centroid sums, taken one step further:
    * no floats anywhere).
    *
    * Plan shape per iteration (the Pregel-in-SQL form): one broadcast
    * join of the node-sized degree/rank dimensions onto the edge table,
    * one `dst`-keyed aggregation of contributions (map-side partials —
    * the exchange carries ≤ one row per (task, node)), one node-sized
    * left join for the damping update. The edge table is the only
    * data-sized frame and is scanned once per iteration from its lazy
    * checkpoint; ranks frames are node-sized and checkpoint per
    * iteration to keep lineage flat (at 100 TB: ranks persist as a
    * table per epoch and iterations restart from it). Dangling nodes
    * (no out-edges — absent from the standard [[linkGraph]] by
    * construction, its dst set is a subset of the src residues) leak
    * their mass unless `redistribute` is on: the standard fix adds the
    * damped per-node share of the dangling mass, `(85·(inc + D div n))
    * div 100`, still pure fixed-point (D is an exact integer sum; on a
    * dangling-free graph D = 0 and the flag is a bit-exact no-op —
    * GraphSpec pins both laws). [[pagerankDangling]] runs it over a
    * graph that HAS dangling hosts. */
  def pagerank(documents: DataFrame, iters: Int = 3, nNodes: Int = 200): DataFrame =
    pagerankFrom(documents, iters, nNodes, init = None)

  /** [[pagerank]] with dangling-mass redistribution over a link graph
    * that HAS dangling nodes: dst ranges over a LARGER residue set
    * (mod `nDst` > mod `nNodes`), so hosts in [nNodes, nDst) receive
    * links but emit none — the shape a real crawl graph always has
    * (leaf pages, robots-blocked hosts). Oracle-checked: the unrolled
    * fixed-point CTEs mirror the dangling term exactly. Shares
    * [[linkGraph]] and the [[pagerankFrom]] loop — only the residue
    * widths and the redistribute flag differ. */
  def pagerankDangling(documents: DataFrame, iters: Int = 3,
      nNodes: Int = 200, nDst: Int = 211): DataFrame =
    pagerankFrom(documents, iters, nNodes, init = None,
      nDst = nDst, redistribute = true)

  /** [[pagerank]] resumable from a PERSISTED rank table — the 100 TB
    * epoch shape: iterations checkpoint to storage and a later job
    * continues from the stored ranks instead of restarting the chain.
    * Because every step is fixed-point integer arithmetic, resuming is
    * EXACT: k iterations then a resume for m more is bit-identical to
    * k+m in one run (GraphSpec pins this; a float formulation could
    * only assert approximate agreement, which is why the fixed-point
    * choice is also the operational-restart story, not just the
    * oracle story). `init` must carry (node, rank_units) as produced
    * by a prior run. */
  def pagerankFrom(documents: DataFrame, iters: Int, nNodes: Int,
      init: Option[DataFrame], nDst: Int = -1,
      redistribute: Boolean = false): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes, if (nDst > 0) nDst else nNodes)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // N stays a 1-row FRAME broadcast into each update, not a driver-side
    // count(). Construction still runs jobs: under AQE each lazy
    // checkpoint below runs every shuffle stage beneath it while the
    // DataFrame is built (graph_pagerank: 26 construction jobs)
    val nTot = nodes.agg(count(lit(1)).as("n"))

    var ranks = init.map(_.select(col("node"), col("rank_units").as("rank")))
      .getOrElse(nodes.crossJoin(broadcast(nTot))
        .select(col("node"), expr(s"$RankScale div n").as("rank")))
    for (_ <- 1 to iters) {
      // lazy checkpoint per iteration: lineage stays flat (iters chain
      // multiplicatively otherwise) and the next iteration's broadcast
      // reads the materialized node-sized frame, not the whole history
      ranks = step(edges, deg, nodes, nTot, ranks, redistribute)
        .localCheckpoint(eager = false)
    }
    ranks.select(col("node"), col("rank").as("rank_units"))
      .orderBy("node")
  }

  /** PERSONALIZED PAGERANK (r8) — the teleport vector restricted to a
    * SEED SET instead of uniform: rank mass leaks back only to seeds,
    * so scores measure proximity-to-the-seeds, the "more hosts like
    * these trusted ones" crawl-frontier ranking (TrustRank,
    * Gyöngyi et al. VLDB'04) and the recommendation form of pagerank.
    * Same fixed-point integer doctrine as [[pagerank]] — the only
    * change is WHERE the 15% teleport lands: `[node ∈ S]·(15%·scale
    * div |S|)`, with |S| a 1-row broadcast frame like n. Seeds here
    * are the deterministic residue `node % seedMod = 0` (a seed LIST
    * would broadcast identically). Non-seeds can reach rank 0 exactly
    * (nothing teleports to them and floor division truncates) — the
    * spec pins that seeds strictly dominate the uniform prior and
    * that some non-seed ranks differ from plain pagerank. Each
    * iteration is [[pagerank]]'s [[step]] with |S| as its totals and
    * the seed share as its teleport. */
  def personalizedPagerank(documents: DataFrame, iters: Int = 3,
      nNodes: Int = 200, seedMod: Int = 17): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val isSeed = col("node") % seedMod === 0
    val sTot = nodes.filter(isSeed).agg(count(lit(1)).as("ns"))
    def seedShare(units: Long) = when(isSeed, expr(s"$units div ns")).otherwise(lit(0L))
    var ranks = nodes.crossJoin(broadcast(sTot))
      .select(col("node"), seedShare(RankScale).as("rank"))
    for (_ <- 1 to iters) {
      ranks = step(edges, deg, nodes, sTot, ranks, teleport = seedShare(RankScale * 15 / 100))
        .localCheckpoint(eager = false)
    }
    ranks.select(col("node"), col("rank").as("rank_units"))
      .orderBy("node")
  }

  /** HITS hubs & authorities (Kleinberg JACM '99) over the same
    * synthesized host link graph as [[pagerank]] — the SECOND classic
    * link fixed point, and the one a crawl pipeline wants next to
    * PageRank: directories/aggregators score as hubs, canonical content
    * as authorities; link farms score high on both, which is the spam
    * signal. Same execution doctrine as pagerank: per-iteration L1
    * normalization in FIXED-POINT integer units (truncating integer
    * division is bit-identical across engines, so 3 unrolled iterations
    * are oracle-checkable exactly and a resumed run is bit-equal to a
    * straight-through one), edge frame lazily checkpointed and re-scanned
    * per iteration, totals as 1-row broadcast frames — the per-iteration
    * exchange carries node-bounded partial sums, never edges. Unit scale
    * 1e7 keeps every intermediate ≤ ~2e18 (raw mass ≤ n·scale, times
    * scale in the normalize) up to ~20k nodes — the 100× smoke regime;
    * wider graphs lower the scale, same arithmetic. */
  def hits(documents: DataFrame, iters: Int = 3, nNodes: Int = 200): DataFrame = {
    val scale = 10000000L // 1e7 score units
    val (edges, nodes) = linkGraph(documents, nNodes)
    // hubs init uniform; authority has NO init — the first half-step
    // derives it from hubs (a uniform "init" here would be dead code)
    var hubs = nodes.select(col("node"), lit(scale).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // broadcast the node-sized score frame onto the edge scan (the
      // pagerank step() doctrine): edges NEVER shuffle — the only
      // exchanges carry node-keyed partial sums
      val aRaw = edges.join(broadcast(hubs.withColumnRenamed("node", "src")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("ar"))
      val aTot = aRaw.agg(sum(col("ar")).as("at"))
      auth = nodes.join(aRaw, Seq("node"), "left_outer")
        .crossJoin(broadcast(aTot))
        .select(col("node"), expr(s"(coalesce(ar, CAST(0 AS BIGINT)) * $scale) div at").as("a"))
        .localCheckpoint(eager = false)
      val hRaw = edges.join(broadcast(auth.withColumnRenamed("node", "dst")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("hr"))
      val hTot = hRaw.agg(sum(col("hr")).as("ht"))
      hubs = nodes.join(hRaw, Seq("node"), "left_outer")
        .crossJoin(broadcast(hTot))
        .select(col("node"), expr(s"(coalesce(hr, CAST(0 AS BIGINT)) * $scale) div ht").as("h"))
        .localCheckpoint(eager = false)
    }
    nodes.join(auth, Seq("node")).join(hubs, Seq("node"))
      .select(col("node"), col("a").as("auth_units"), col("h").as("hub_units"))
      .orderBy("node")
  }

  /** Connected components over a SPARSE host subgraph (only every
    * `sparsity`-th doc contributes its edge — a filtered link graph is
    * what you get after dropping nofollow/spam edges, and the full
    * synthesized graph is one giant component, which would make the
    * oracle vacuous; the filtered one has 47 components over 118 nodes
    * at sf0.01). Components label each host with its component's min
    * node id — the "domain grouping" pass a crawl pipeline runs before
    * per-site quality aggregation.
    *
    * Reuses [[graft.llm.Dedup.clustersFromPairs]] (driver finish, or
    * Kiveris SoCC'14 large/small-star rounds above its bound) over a
    * different edge source — the clustering engine is generic over any
    * (a_id, b_id) pair list, which is the point of shipping it as a
    * separate operator.
    * Self-loops (synthesis residue at doc_id ≡ 0 mod 1400) are dropped
    * from the PAIR list (the star contract requires a_id < b_id) but
    * their endpoints stay in the node universe via the `corpus`
    * parameter, emerging as singleton components — mirrored exactly in
    * the oracle, where self-loops propagate nothing. */
  def components(documents: DataFrame, nNodes: Int = 200, sparsity: Int = 7): DataFrame = {
    val base = documents.filter(col("doc_id") % sparsity === 0)
      .select((col("doc_id") % nNodes).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % nNodes).as("dst"))
      .distinct()
    val nodes = base.select(col("src").as("doc_id"))
      .union(base.select(col("dst").as("doc_id"))).distinct()
    val pairs = base.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a_id"),
        greatest(col("src"), col("dst")).as("b_id"))
      .distinct()
    graft.llm.Dedup.clustersFromPairs(nodes, pairs)
      .select(col("doc_id").as("node"), col("cluster").as("component"))
      .orderBy("node")
  }

  /** Per-host TRIANGLE COUNTS over the undirected host graph — the
    * local-clustering signal a crawl pipeline uses alongside PageRank
    * (link farms show near-clique local structure: high triangle
    * density at low rank; genuine hub neighborhoods are sparse). Edges
    * are the full synthesized link set, undirected (least/greatest
    * canonicalization), self-loops dropped; a triangle is an id-ordered
    * node triple x<y<z with all three edges present, so each triangle
    * is enumerated exactly once and the count needs no /6 correction.
    *
    * Plan shape: DEGREE-ORDERED orientation (Schank/Wagner '05): each
    * undirected edge {u,v} is oriented toward the higher-(degree, id)
    * endpoint, the wedge join fans out from each node's ORIENTED
    * out-neighborhood (e1.lo = e2.lo), and the closing edge is one more
    * equi-join on the oriented set. Out-degrees under this orientation
    * are O(√m), so wedge mass is bounded by m^{3/2} — the bound that
    * makes triangle counting survive a power-law in-degree tail, where
    * the naive id-ordered wedge join (Σ deg(v)² from its hub-anchored
    * wedges) quadratically explodes on the hub. Orientation is
    * RESULT-INVARIANT: every triangle is still enumerated exactly once
    * (from its minimum-order vertex), so the oracle keeps the id-ordered
    * three-line self-join. The per-node degree dimension is node-sized
    * and broadcast; the three wedge/close joins are node-keyed hash
    * joins with map-side-combinable counts. Output: every node in the
    * edge universe with its triangle count (0 included — absence of
    * triangles is signal, the near-tree neighborhoods). Edges/nodes come
    * from the shared [[linkGraph]] so this can never diverge from the
    * pagerank/hits/degreeStats graph. */
  def triangles(documents: DataFrame, nNodes: Int = 200): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes)
    trianglesFromEdges(edges, nodes)
  }

  /** The degree-ordered triangle core over an arbitrary directed edge
    * set (shared by [[triangles]] and the clustering coefficient). */
  private def trianglesFromEdges(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(eager = false) // scanned by deg + orientation
    // undirected degree per endpoint; ok = the (degree, id) total order
    // key as a STRUCT (lexicographic) — an arithmetic deg*K + id key
    // silently collides once ids reach K, and the edge set's ids are
    // arbitrary
    val ord = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .select(col("node"), struct(col("deg"), col("node").as("id")).as("ok"))
    val oriented = und
      .join(broadcast(ord.select(col("node").as("a"), col("ok").as("ok_a"))), "a")
      .join(broadcast(ord.select(col("node").as("b"), col("ok").as("ok_b"))), "b")
      .select(
        when(col("ok_a") < col("ok_b"), col("a")).otherwise(col("b")).as("lo"),
        when(col("ok_a") < col("ok_b"), col("b")).otherwise(col("a")).as("hi"),
        greatest(col("ok_a"), col("ok_b")).as("ok_hi"))
      .localCheckpoint(eager = false) // all three join legs
    // wedge (u; v, w) anchored at u with ord(v) < ord(w); closed iff the
    // oriented edge v→w exists (ord(v) < ord(w) forces that orientation)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.ok_hi") < col("e2.ok_hi"))
      .join(oriented.as("e3"),
        col("e1.hi") === col("e3.lo") && col("e2.hi") === col("e3.hi"))
      .select(col("e1.lo").as("x"), col("e1.hi").as("y"), col("e2.hi").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    nodes.join(perNode, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("node")
  }

  /** LOCAL CLUSTERING COEFFICIENT (r9) — per node, how close its
    * neighborhood is to a clique: cc = 2·T(v) / (deg(v)·(deg(v)−1)) over
    * the UNDIRECTED distinct-neighbor graph, the per-node refinement of
    * [[triangles]] (which counts T(v) but says nothing about how many
    * wedges COULD have closed). The signal a crawl pipeline reads from
    * it: link farms and mirror clusters sit near cc=1 (everyone links to
    * everyone), organic hubs near 0 — the within-neighborhood density
    * complement to the in-degree-tail spam signal in [[degreeStats]].
    *
    * Plan: the wedge/close joins are exactly [[trianglesFromEdges]]
    * (degree-ordered orientation, each triangle counted once from every
    * vertex via the 3-way explode); the undirected degree frame is
    * node-sized and joins back broadcast. cc is an integer ratio
    * (2T / deg·(deg−1)) emitted through Det.rfloor — no float enters
    * the comparison until the final rounded column; deg<2 nodes (no
    * possible wedge) emit 0.0 by definition rather than NULL, because a
    * quality filter thresholds cc and an isolated host is "not clique-y",
    * not "unknown". Everything is node- or wedge-bounded; the triangle
    * core's m^{3/2} contract is the binding cost (measured on a past
    * scale ladder). */
  def clusteringCoeff(documents: DataFrame, nNodes: Int = 200): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    trianglesFromEdges(edges, nodes)
      .join(broadcast(deg), Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        col("n_triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          Det.rfloor((lit(2.0) * col("n_triangles")) / (col("deg") * (col("deg") - 1)), 4))
          .otherwise(lit(0.0)).as("coeff"))
      .orderBy("node")
  }

  /** Host SIMILARITY by shared out-neighbors (co-citation Jaccard):
    * two hosts that link to the same targets serve related content —
    * the "same-publisher / mirror-site" signal a crawl pipeline uses to
    * group domains before dedup and quality aggregation. For host pair
    * (a, b): inter = |N(a) ∩ N(b)| over out-neighbor sets, jac =
    * inter / (|N(a)| + |N(b)| − inter); `minInter` filters the tail
    * (kept at 1 here — the synthesized graph's intersections max out at
    * 2, so a higher floor would leave only one jac value and a vacuous
    * oracle; 419 pairs / 4 distinct jac values at sf0.01).
    *
    * Scale shape and its known wall: candidate pairs come from an
    * equi-join on the shared TARGET (e1.dst = e2.dst) — the co-citation
    * analog of the shingle self-join, and it blows up the same way: a
    * target with in-degree d contributes d² pairs, so viral targets
    * dominate cost while carrying no discrimination (everyone links to
    * them). The `inDegCap` filter drops targets above the cap BEFORE
    * the self-join — the df-cap rule from the Jaccard tier applied to
    * the link graph, mirrored exactly in the oracle. Degrees join back
    * as a broadcast-sized per-host dimension. */
  def neighborJaccard(documents: DataFrame, nNodes: Int = 200,
                      inDegCap: Int = 50, minInter: Long = 1L): DataFrame = {
    // shared linkGraph edges (already distinct + lazily checkpointed) —
    // deg, the cap filter and both join legs all scan them
    val (edges, _) = linkGraph(documents, nNodes)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val capped = edges.join(
      edges.groupBy("dst").agg(count(lit(1)).as("indeg"))
        .filter(col("indeg") <= inDegCap).select("dst"),
      Seq("dst"), "left_semi")
    val inter = capped.as("e1")
      .join(capped.as("e2"), col("e1.dst") === col("e2.dst"))
      .filter(col("e1.src") < col("e2.src"))
      .groupBy(col("e1.src").as("a"), col("e2.src").as("b"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= minInter)
    inter
      .join(broadcast(deg.select(col("src").as("a"), col("deg").as("deg_a"))), "a")
      .join(broadcast(deg.select(col("src").as("b"), col("deg").as("deg_b"))), "b")
      .select(col("a"), col("b"), col("inter"),
        (round(col("inter") / (col("deg_a") + col("deg_b") - col("inter")), 4) + lit(0.0)).as("jac"))
      .orderBy("a", "b")
  }

  /** DETERMINISTIC RANDOM WALK (r9) — the DeepWalk/node2vec sampling
    * primitive: from every node, a `steps`-hop walk where the hop out
    * of node u at step t picks out-neighbor index
    * `(u·31 + t·17) mod outdeg(u)` over the dst-sorted adjacency — a
    * HASH-driven draw, not an RNG (the `sample_deterministic` rule:
    * retried tasks and both engines must take the same walk; a
    * production embedding pipeline swaps in a seeded splittable hash,
    * same plan). Dead ends (dst-only hosts, outdeg 0) absorb: the walk
    * stays put for its remaining steps — trajectory length stays
    * uniform, the co-occurrence window arithmetic downstream of a
    * DeepWalk stays rectangular.
    *
    * Plan: adjacency ranked once (partitioned window over node-bounded
    * edges), then `steps` UNROLLED left joins — frontier frames are
    * node-sized, edges ride broadcasts (the bfsLevels doctrine), no
    * fixpoint loop because the horizon is a parameter. Output is the
    * full trajectory grid (start × step), the shape a skip-gram
    * window consumes. */
  def randomWalk(documents: DataFrame, nNodes: Int = 200, steps: Int = 4): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src").orderBy("dst")
    val adj = edges.withColumn("idx", row_number().over(w).cast("long"))
      .localCheckpoint(eager = false) // one ranking, `steps` probes
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .localCheckpoint(eager = false)
    var cur = nodes.select(col("node").as("start"), col("node").as("cur"))
    var frames = Seq(cur.select(col("start"), lit(0L).as("step"), col("cur").as("node")))
    for (t <- 1 to steps) {
      cur = cur
        .join(broadcast(deg.select(col("src").as("cur"), col("d"))), Seq("cur"), "left_outer")
        .join(broadcast(adj.select(col("src").as("a_src"), col("idx").as("a_idx"),
            col("dst").as("a_dst"))),
          col("a_src") === col("cur")
            && col("a_idx") === pmod(col("cur") * 31 + lit(17L * t), col("d")) + 1,
          "left_outer")
        .select(col("start"), coalesce(col("a_dst"), col("cur")).as("cur"))
      frames :+= cur.select(col("start"), lit(t.toLong).as("step"), col("cur").as("node"))
    }
    frames.reduce(_ unionByName _).orderBy("start", "step")
  }

  /** Persist a pagerank epoch as a bucketed TABLE and return its name —
    * the [[graft.llm.Dedup.ensureBandIndex]] artifact discipline applied
    * to the iterative tier: the epoch's ranks live in the warehouse
    * (bucketed by node, so the resume join can co-locate), a later job
    * resumes from them via [[pagerankResumePersisted]] without replaying
    * the earlier iterations, and an executor/driver loss between epochs
    * costs at most one epoch of work (the caveat attached to
    * localCheckpoint lineage truncation elsewhere: local checkpoints
    * die with executors; a warehouse table does not). */
  def ensureRankTable(spark: org.apache.spark.sql.SparkSession, documents: DataFrame,
      epoch: Long = 0L, iters: Int = 3, nNodes: Int = 200, buckets: Int = 8): String =
    // tagged + param-keyed like every Warehouse artifact (r7 review
    // class): an epoch-only name would serve one corpus's ranks — or
    // one (iters, nNodes) setting's — to every caller at that epoch
    graft.Warehouse.ensure(spark,
      s"graph_ranks_${graft.Warehouse.srcTag(documents)}_e${epoch}_i${iters}_n$nNodes",
      source = documents) {
      name => pagerank(documents, iters, nNodes)
        .write.bucketBy(buckets, "node").sortBy("node")
        .mode("overwrite").saveAsTable(name)
    }

  /** Resume iterations from the PERSISTED epoch table. Fixed-point
    * arithmetic makes the resume exact: k persisted + m resumed
    * iterations are bit-identical to k+m in one run (GraphSpec pins
    * this through the table round-trip too). */
  def pagerankResumePersisted(spark: org.apache.spark.sql.SparkSession, documents: DataFrame,
      epoch: Long = 0L, iters: Int = 3, moreIters: Int = 1, nNodes: Int = 200): DataFrame = {
    val name = ensureRankTable(spark, documents, epoch, iters, nNodes)
    pagerankFrom(documents, moreIters, nNodes, init = Some(spark.table(name)))
  }

  /** Degree-distribution histogram of the link graph: (direction,
    * degree, n_nodes) for out- and in-degrees. Nodes absent from a
    * side (no in-links) count at degree 0 via a left join against the
    * node set — the histogram covers every node, not just the ones a
    * GROUP BY over edges would see. Two node-sized aggregates over the
    * shared edge frame; the degree frames are node-sized, the
    * histogram degree-sized. The shape a crawl audit reads first:
    * a heavy in-degree tail is the link-spam signal that feeds the
    * [[neighborJaccard]] cap. */
  def degreeStats(documents: DataFrame, nNodes: Int = 200): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes)
    def hist(key: String, direction: String): DataFrame =
      nodes.join(edges.groupBy(col(key).as("node")).agg(count(lit(1)).as("deg")),
          Seq("node"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("deg"))
        .groupBy(col("deg").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(direction).as("direction"), col("degree"), col("n_nodes"))
    hist("src", "out").unionByName(hist("dst", "in"))
      .orderBy("direction", "degree")
  }

  /** Fixed-point rank units of [[pagerank]] and its variants: 1e12. */
  private val RankScale = 1000000000000L

  /** One un-checkpointed power iteration — split out so PlanAuditSpec
    * can audit the per-iteration physical shape (broadcast dims onto
    * edges, map-side partial contribution sum), which the checkpoint
    * boundary would otherwise hide from the final executed plan.
    * `totals` is the 1-row frame crossed onto every node for `teleport`,
    * each node's share of the 15% teleport mass: by default the uniform
    * `15%·scale div n` over [[pagerankFrom]]'s node count, a seed-only
    * share in [[personalizedPagerank]].
    * `redistribute` adds the damped dangling-mass share `D div n` to
    * every node's incoming sum (D = Σ rank over nodes with no
    * out-edge — an exact integer aggregate, 1-row broadcast; 0 on a
    * dangling-free graph, making the flag a bit-exact no-op there);
    * it reads `n` from `totals`. */
  private[graft] def step(edges: DataFrame, deg: DataFrame, nodes: DataFrame,
      totals: DataFrame, ranks: DataFrame, redistribute: Boolean = false,
      teleport: Column = expr(s"${RankScale * 15 / 100} div n")): DataFrame = {
    val contrib = edges
      .join(broadcast(deg), "src")
      .join(broadcast(ranks.withColumnRenamed("node", "src")), "src")
      .select(col("dst").as("node"), expr("rank div deg").as("c"))
    val incoming = contrib.groupBy("node").agg(sum(col("c")).as("inc"))
    val base = nodes.crossJoin(broadcast(totals))
      .join(incoming, Seq("node"), "left_outer")
    if (!redistribute)
      base.select(col("node"),
        (teleport + expr("(85 * coalesce(inc, cast(0 as bigint))) div 100")).as("rank"))
    else {
      val dangling = ranks
        .join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
      base.crossJoin(broadcast(dangling))
        .select(col("node"),
          (teleport
            + expr("(85 * (coalesce(inc, cast(0 as bigint)) + (dm div n))) div 100")).as("rank"))
    }
  }

  /** COMMUNITY DETECTION by label propagation (Raghavan et al. 2007),
    * made deterministic and hence oracle-checkable: synchronous rounds
    * over the UNDIRECTED link graph, each node adopting the most
    * frequent label among its neighbors with ties broken to the
    * SMALLEST label (classic LPA breaks ties randomly — useless for a
    * cross-engine contract), isolated nodes keeping their own id. A
    * FIXED round count (3, the pagerank discipline) rather than
    * convergence detection: "labels after R synchronous rounds" is a
    * well-defined function of the graph, which is what a differential
    * oracle can mirror as unrolled CTEs.
    *
    * Scale shape per round: one edge→label join (labels frame is
    * node-sized — broadcast at these node counts, co-keyed shuffle at
    * web scale), one (node, label) count aggregate, one window top-1
    * with PARTIAL WindowGroupLimit. Node-bounded exchanges; rounds are
    * lazily checkpointed like the pagerank loop. Contrast with
    * [[components]]: CC answers "connected at all"; LPA's mode-of-
    * neighbors dynamics split dense regions apart even inside one
    * component — the community structure a crawl curator caps on. */
  def labelPropagation(documents: DataFrame, rounds: Int = 3,
                       nNodes: Int = 200): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes)
    // undirected view, self-loops dropped: a self-loop lets a node vote
    // for its own label and freezes the dynamics
    val und = edges.filter(col("src") =!= col("dst"))
      .union(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(eager = false)
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val votes = und
        .join(labels.select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("cnt").desc, col("label").asc)
      val adopted = votes
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("node"), col("label").as("new_label"))
      // anchor every round to the ONE checkpointed nodes frame (labels
      // carries exactly the node set, so re-deriving it from the prior
      // round's output would be the same set by a longer lineage)
      labels = nodes
        .join(adopted, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("new_label"), col("node")).as("label"))
        .localCheckpoint(eager = false)
    }
    labels.orderBy("node")
  }

  /** MODULARITY (r8) — Newman's Q for the LPA partition, the "are
    * these communities real" score a curator reads before capping on
    * them: Q = Σ_c (e_c/m − (d_c/2m)²) over the undirected self-loop-
    * free graph (e_c intra-community edges, d_c degree mass, m total
    * edges). Per-community contribution is ONE division of an exact
    * integer numerator — `(4·m·e_c − d_c²) / (4m²)` — so both engines
    * compute identical 9dp values (the gini/assoc-rules lossless-
    * numerator discipline). Plan shape: the undirected edge set and
    * LPA's label frame are both node/edge-bounded; intra-edge counting
    * is two broadcast label joins onto the canonical edge list, the
    * rollup is |labels|-sized. Invariants pinned in GraphSpec:
    * Σ d_c = 2m, Σ e_c ≤ m, each contribution ≤ e_c/m. */
  def modularity(documents: DataFrame, nNodes: Int = 200,
                 rounds: Int = 3): DataFrame = {
    val labels = labelPropagation(documents, rounds, nNodes)
      .select(col("node"), col("label"))
    val (edges, _) = linkGraph(documents, nNodes)
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(eager = false)
    val m = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dc = labels.join(deg, Seq("node"), "left_outer")
      .groupBy("label").agg(
        count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("deg_sum"))
    val ec = und
      .join(broadcast(labels.select(col("node").as("a"), col("label").as("la"))), "a")
      .join(broadcast(labels.select(col("node").as("b"), col("label").as("lb"))), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("intra_edges"))
    val e = coalesce(col("intra_edges"), lit(0L))
    dc.join(ec, Seq("label"), "left_outer").crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("deg_sum"),
        e.as("intra_edges"),
        Det.rfloor(
          (lit(4L) * col("m") * e - col("deg_sum") * col("deg_sum")).cast("double")
            / (lit(4.0) * col("m").cast("double") * col("m").cast("double")),
          9).as("contrib"))
      .orderBy("label")
  }

  /** RECIPROCITY (r8) — per-host fraction of out-links whose reverse
    * edge exists: mutual linking is the link-exchange / mirror-ring
    * spam signal (organic webs are mostly asymmetric), and global
    * reciprocity is a standard digraph statistic. One self-semi-join
    * of the edge list against its own transpose — edge-keyed hash
    * join, no fan-out (each edge matches its unique reverse or
    * nothing); degree-0-after-self-loop-drop hosts keep a row via the
    * node-set left join (ratio null there, mirroring degreeStats). */
  def reciprocity(documents: DataFrame, nNodes: Int = 200): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes)
    val e = edges.filter(col("src") =!= col("dst"))
      .localCheckpoint(eager = false)
    val recip = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("n_recip"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    nodes
      .join(deg, Seq("node"), "left_outer")
      .join(recip, Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        // no out-edges → no reciprocity to speak of: n_recip/ratio null
        // (0/0 would be NaN, and NaN stringification is engine lore)
        when(col("out_deg").isNotNull,
          coalesce(col("n_recip"), lit(0L))).as("n_recip"),
        when(col("out_deg").isNotNull, Det.rfloor(
          coalesce(col("n_recip"), lit(0L)).cast("double")
            / col("out_deg").cast("double"), 4)).as("ratio"))
      .orderBy("node")
  }

  /** BFS LEVELS (r8) — single-source forward reachability with hop
    * count, the traversal primitive under "how far is every host from
    * the seed" crawl-frontier questions. Standard frontier expansion,
    * `maxDepth` synchronous rounds unrolled: frontier and visited are
    * NODE-bounded frames; each round is one join + anti-join, with the
    * frontier explicitly broadcast so the edge table NEVER shuffles
    * (the pagerank step() doctrine — at 100 TB edges are the fact,
    * frontiers are the tiny side). Levels are min-hop by construction:
    * a node joins `visited` the first round it is reached and the
    * anti-join bars any later (longer) assignment — the iterative twin
    * of the oracle's recursive-CTE `MIN(level)`. Oracle-checked: the
    * whole computation is integer arithmetic on the deterministic
    * synthetic link graph. */
  def bfsLevels(documents: DataFrame, source: Long = 0L, nNodes: Int = 200,
                maxDepth: Int = 4): DataFrame = {
    val (edges, _) = linkGraph(documents, nNodes)
    val spark = documents.sparkSession
    var frontier = spark.range(1)
      .select(lit(source).as("node"), lit(0L).as("level"))
      .localCheckpoint(eager = false)
    var visited = frontier
    for (d <- 1 to maxDepth) {
      frontier = edges
        .join(broadcast(frontier.select(col("node").as("src"))), "src")
        .select(col("dst").as("node")).distinct()
        .join(broadcast(visited.select(col("node"))), Seq("node"), "left_anti")
        .select(col("node"), lit(d.toLong).as("level"))
        .localCheckpoint(eager = false)
      visited = visited.unionByName(frontier).localCheckpoint(eager = false)
    }
    visited.orderBy("node")
  }

  /** K-CORE decomposition by iterative peeling (r8) — the density
    * screen under link-farm / spam-cluster detection: the k-core is
    * the maximal subgraph where every node keeps ≥ k neighbors AFTER
    * all lower-degree nodes are removed, a strictly stronger signal
    * than raw degree (a hub wired only to leaves has high degree and
    * an empty 2-core). Synchronous peeling, `rounds` rounds unrolled:
    * recompute within-survivor degree, drop nodes under k, repeat.
    * Output = survivors after `rounds` peels with their within-core
    * degree; a KcoreSpec law pins that one more round changes nothing
    * at this graph (fixpoint reached), so the bounded unroll IS the
    * k-core here — same bounded-iteration contract as [[pagerank]].
    *
    * Scale shape: the undirected edge frame is the only data-sized
    * input and NEVER shuffles — the membership frame (node-bounded,
    * only shrinking) is explicitly broadcast onto both endpoints each
    * round (the [[bfsLevels]] doctrine); the degree aggregate's
    * exchange carries ≤ one (node, count) partial per task. Peeling is
    * monotone (members only shrink), so rounds needed = core number
    * spread, small on real graphs; each round is one job over the
    * lazily-checkpointed membership. */
  def kcore(documents: DataFrame, k: Int = 2, rounds: Int = 6,
            nNodes: Int = 200, sparsity: Int = 2): DataFrame = {
    // half-corpus filtered edge source (the `components` precedent of a
    // second, sparser graph): the full link graph's 3-core keeps 199/200
    // nodes and its 4-core is empty — no density at which peeling shows
    // its cascade — while the half graph's 2-core drops a third of the
    // nodes over a 4-round cascade at sf0.01 (measured; sf0.1 is denser
    // and converges in 1-2 rounds, both well inside the unroll)
    val (edges, nodes) = linkGraph(
      documents.filter(col("doc_id") % sparsity === 0), nNodes)
    val und = edges.filter(col("src") =!= col("dst"))
      .union(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(eager = false)
    def coreDeg(members: DataFrame): DataFrame = und
      .join(broadcast(members.select(col("node").as("src"))), "src")
      .join(broadcast(members.select(col("node").as("dst"))), "dst")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    var members = nodes.localCheckpoint(eager = false)
    // r13 early exit: each round's members are a SUBSET of the last
    // (coreDeg groups over src∈members, dst∈members), so an unchanged
    // COUNT means an unchanged SET means every remaining unrolled round
    // is the identity — stop. Result-identical to the full unroll by
    // induction; the count doubles as the checkpoint's materializing
    // action (the components-loop discipline). sf0.1 converges in 1-2
    // rounds, so this trades ~4 idle rounds (2 broadcast builds + an
    // exchange each) for one count job per live round.
    var mCount = members.count()
    var converged = false
    var round = 0
    while (round < rounds && !converged) {
      round += 1
      members = coreDeg(members).filter(col("deg") >= lit(k))
        .select("node").localCheckpoint(eager = false)
      val n = members.count()
      converged = n == mCount
      mCount = n
    }
    coreDeg(members)
      .select(col("node"), col("deg").cast("long").as("core_deg"))
      .orderBy("node")
  }

  /** STRONGLY CONNECTED COMPONENTS (r8) — mutual reachability over the
    * DIRECTED half-corpus link graph (mod-250 residues; the denser
    * full graph is one giant SCC and the answer is vacuous — the
    * [[kcore]]/[[components]] second-source precedent; at sf0.01 this
    * graph has 210 SCCs over 231 nodes, biggest 9). SCC is what
    * separates a genuine link ring (mutual) from a one-way citation
    * chain — the link-farm primitive [[components]]' undirected view
    * cannot see. Output: one row per node, node-ascending, with
    * `scc_id = least(v, min{u : v ⇄ u})` and the component's size;
    * oracle-checked against a recursive-CTE closure.
    *
    * Bounded model (r14): the node space is the mod-`nNodes` residue
    * ring, so the distinct edge set is ≤ nNodes² whatever the corpus
    * size. The only distributed work is the part that touches data —
    * one scan ending at the edge `distinct` — and the SCC runs
    * driver-side over the collected edges ([[sccBoundedModel]]:
    * iterative Tarjan, one exact pass). At 100 TB the scan dominates. */
  def scc(documents: DataFrame, nNodes: Int = 250, sparsity: Int = 2): DataFrame = {
    val spark = documents.sparkSession
    val (nodes, _, ids) = sccBoundedModel(documents, nNodes, sparsity)
    val sizeOf = nodes.groupBy(ids).map { case (k, vs) => k -> vs.length.toLong }
    import spark.implicits._
    // nodes are pre-sorted and parallelize preserves element order, so
    // the declared node-ascending row order needs no Spark sort
    nodes.toSeq.map(v => (v, ids(v), sizeOf(ids(v))))
      .toDF("node", "scc_id", "scc_size")
  }

  /** The bounded SCC model shared by [[scc]] and
    * [[condensation]]: run the one DATA-sized job (scan → synthesized
    * edge distinct, output ≤ nNodes² rows by the residue-ring
    * parameter), collect it, and solve SCC driver-side with iterative
    * Tarjan. Returns (nodes ascending, self-loop-free distinct edges,
    * node → scc_id map) where scc_id is the component's minimum node,
    * `least(v, min{u : v ⇄ u})`.
    *
    * The nNodes² ceiling holds only for non-negative doc ids (a negative
    * id's `%` residue is negative, widening the ring), so the collect
    * takes at most one row past it and fails naming both numbers. */
  private[graft] def sccBoundedModel(documents: DataFrame, nNodes: Int, sparsity: Int)
      : (Array[Long], Array[(Long, Long)], scala.collection.Map[Long, Long]) = {
    val ceiling = nNodes.toLong * nNodes
    val collected = documents.filter(col("doc_id") % sparsity === 0)
      .select((col("doc_id") % nNodes).as("src"),
        ((col("doc_id") * 31 + expr("doc_id div 7")) % nNodes).as("dst"))
      .distinct()
      .limit(math.min(ceiling + 1, Int.MaxValue.toLong).toInt)
      .collect()
    require(collected.length <= ceiling,
      s"SCC bounded model: more than nNodes² = $ceiling distinct edges at nNodes=$nNodes " +
        "(negative doc_id?) — refusing to collect them to the driver")
    val edges = collected.iterator
      .map(r => (r.getLong(0), r.getLong(1))).filter(e => e._1 != e._2).toArray
    val nodes = collected.iterator
      .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toArray.distinct.sorted
    (nodes, edges, tarjanMinIds(nodes, edges))
  }

  /** Iterative Tarjan over the bounded model: scc_id(v) = min node id
    * of v's component. Explicit work stack (no recursion — a chain of
    * nNodes=10000 would overflow the JVM stack), one pass,
    * O(nodes + edges). */
  private def tarjanMinIds(nodes: Array[Long],
      edges: Array[(Long, Long)]): scala.collection.Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    val empty = Array.empty[Long]
    def strongconnect(v0: Long): Unit = {
      val work = scala.collection.mutable.Stack.empty[(Long, Iterator[Long])]
      def enter(v: Long): Unit = {
        index(v) = counter; low(v) = counter; counter += 1
        stack.push(v); onStack += v
        work.push((v, adj.getOrElse(v, empty).iterator))
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
            val members = scala.collection.mutable.Buffer.empty[Long]
            var w = -1L
            do { w = stack.pop(); onStack -= w; members += w } while (w != v)
            val id = members.min
            members.foreach(m => comp(m) = id)
          }
        }
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
    comp
  }

  /** SCC CONDENSATION DAG (r9) — the quotient graph over [[scc]]'s
    * components: one row per distinct (scc_src → scc_dst) pair of
    * DIFFERENT components, with the count of underlying host edges
    * crossing it. This is the frame a link-farm analysis actually
    * reads: intra-SCC edges (the mutual rings) collapse away and what
    * remains is the acyclic citation structure BETWEEN rings — which
    * farm feeds which, and how thickly.
    *
    * The ids come from [[scc]]'s bounded model, and its collected
    * self-loop-free edge set IS the quotient's input: the quotient is
    * driver arithmetic over ≤ nNodes² rows, and the only Spark job is
    * the data-sized edge distinct. Oracle: the shared SCC CTEs + two id
    * joins and a pair-grain aggregate, all integer. */
  def condensation(documents: DataFrame, nNodes: Int = 250, sparsity: Int = 2): DataFrame = {
    val spark = documents.sparkSession
    val (_, edges, ids) = sccBoundedModel(documents, nNodes, sparsity)
    import spark.implicits._
    edges.iterator
      .map { case (s, d) => (ids(s), ids(d)) }
      .filter { case (a, b) => a != b }
      .toSeq.groupBy(identity).view
      .map { case ((a, b), links) => (a, b, links.size.toLong) }
      .toSeq.sorted
      .toDF("scc_src", "scc_dst", "n_links")
  }

  /** HOP-LIMITED CLOSENESS CENTRALITY (r8) — per host: how many hosts
    * it reaches within `maxDepth` hops, the total hop distance, the
    * classic within-radius closeness (reached/Σdist) and the harmonic
    * sum (Σ 1/d — the form that stays defined on disconnected graphs,
    * Boldi-Vigna "Axioms for Centrality" 2014). The hop cap is the
    * standard scale compromise: exact all-pairs distances are a
    * transitive closure's n² problem with a distance dimension on top,
    * while a 4-hop ball already separates hubs from periphery on a
    * small-diameter web graph.
    *
    * Mechanism: [[bfsLevels]] run from EVERY source at once — the
    * frontier carries (root, node) pairs, node²-bounded like a
    * transitive closure; edges join the broadcast frontier and NEVER
    * shuffle (the pagerank step doctrine). Level counts pivot to c1..c4
    * columns, so each output formula is one fixed AST over exact
    * BIGINTs — deterministic double division only at the end, mirrored
    * by the oracle's recursive-CTE min-level BFS. */
  def closeness(documents: DataFrame, nNodes: Int = 200,
      maxDepth: Int = 4): DataFrame = {
    val (edges, nodes) = linkGraph(documents, nNodes)
    val e = edges.filter(col("src") =!= col("dst"))
    var frontier = nodes.select(col("node").as("root"), col("node"))
      .localCheckpoint(eager = false)
    var visited = frontier.withColumn("level", lit(0L))
    val levels = (1 to maxDepth).map { d =>
      frontier = e
        .join(broadcast(frontier.select(col("root"), col("node").as("src"))), "src")
        .select(col("root"), col("dst").as("node")).distinct()
        .join(broadcast(visited.select(col("root"), col("node"))),
          Seq("root", "node"), "left_anti")
        .localCheckpoint(eager = false)
      val lv = frontier.withColumn("level", lit(d.toLong))
      visited = visited.unionByName(lv).localCheckpoint(eager = false)
      lv
    }
    val cAggs = (1 to maxDepth).map(d =>
      sum(when(col("level") === d, 1L).otherwise(0L)).as(s"c$d"))
    val c = levels.reduce(_ unionByName _)
      .groupBy("root")
      .agg(cAggs.head, cAggs.tail: _*)
    val reached = (1 to maxDepth).map(d => col(s"c$d")).reduce(_ + _)
    val sumDist = (1 to maxDepth).map(d => col(s"c$d") * d).reduce(_ + _)
    val harmonic = (1 to maxDepth).map(d =>
      col(s"c$d").cast("double") / d.toDouble).reduce(_ + _)
    nodes.join(c, col("node") === col("root"), "left")
      .select(col("node") +: (1 to maxDepth).map(d =>
        coalesce(col(s"c$d"), lit(0L)).as(s"c$d")): _*)
      .select(col("node"), reached.as("n_reached"), sumDist.as("sum_dist"),
        when(sumDist > 0, Det.rfloor(
          reached.cast("double") / sumDist.cast("double"), 6)).as("closeness"),
        Det.rfloor(harmonic, 6).as("harmonic"))
      .orderBy("node")
  }
}
