package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, TextAnalysis, TrainingPrep}
import scala.jdk.CollectionConverters._

/** Hostile-corpus gates: the fixture corpus is clean (no nulls, no empty
  * docs), but a 100 TB crawl is not. These tests run the text/dedup tier
  * over the degenerate shapes a real pipeline hits — null text, empty
  * text, whitespace-only, sub-shingle-width, multibyte, and a
  * 10k-token outlier — and pin the load-bearing invariants: nothing
  * throws, degenerate docs never fabricate duplicate pairs, the real
  * duplicate pair is still found, and the prefix twin's parity law holds
  * on hostile input too. Operator null SEMANTICS are intentionally not
  * reshaped here: each op's oracle SQL mirrors its expression tree, so a
  * defensive null-filter on one side only would silently diverge the
  * parity the driver grades.
  */
class HostileInputSpec extends SparkSpec {

  import spark.implicits._

  /** doc_ids 1-4 are degenerate; 5 and 6 are exact duplicates; 7 is
    * multibyte; 8 is a 10k-token outlier (unique tokens, no dup). */
  private lazy val hostile: DataFrame = {
    val big = (1 to 10000).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, null.asInstanceOf[String], "en", "crawl"),
      (2L, "", "en", "crawl"),
      (3L, " \t  ", "en", "crawl"),
      (4L, "one two", "en", "crawl"),
      (5L, "the quick brown fox jumps over the lazy dog again and again", "en", "crawl"),
      (6L, "the quick brown fox jumps over the lazy dog again and again", "en", "crawl"),
      (7L, "héllo wörld héllo wörld héllo wörld ünïcödé test tail here", "de", "crawl"),
      (8L, big, "en", "crawl")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
  }

  private val degenerate = Set(1L, 2L, 3L, 4L)

  test("exact dedup survives hostile docs; the real pair collapses") {
    val out = Dedup.exact(hostile).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) === 2L, s"docs 5/6 must collapse to one survivor: $out")
    assert(!out.contains(6L))
    // every non-duplicate doc survives with n_copies 1 — including the
    // degenerate ones (null text hashes to a null digest partition, empty
    // and whitespace-only to distinct digests; none of them crash)
    assert(Set(1L, 2L, 3L, 4L, 7L, 8L).forall(out.get(_).contains(1L)), out)
  }

  test("ngram pair measures: no pairs from degenerate docs, dup pair at 1.0, parity holds") {
    val jac = Dedup.ngramJaccard(hostile).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(jac.map(p => (p._1, p._2)).toSeq === Seq((5L, 6L)), jac.toSeq)
    assert(jac.head._3 === 1.0)
    val base = Dedup.ngramContainment(hostile)
    val cont = base.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.forall(p => !degenerate(p._1) && !degenerate(p._2)), cont.toSeq)
    assert(cont.map(p => (p._1, p._2)).toSet === Set((5L, 6L), (6L, 5L)), cont.toSeq)
    // the lossless prefix twin must agree row-for-row on hostile input
    val pref = Dedup.ngramContainmentPrefix(hostile)
    assert(base.exceptAll(pref).count() === 0L)
    assert(pref.exceptAll(base).count() === 0L)
  }

  test("minhash and simhash run on hostile docs; minhash finds the dup pair") {
    val cand = Dedup.minhashCandidates(hostile).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((5L, 6L)), cand)
    assert(cand.forall(p => !degenerate(p._1) && !degenerate(p._2)), cand)
    val sh = Dedup.simhash(hostile).collect()
    assert(sh.length === hostile.count())
  }

  test("minhash_sig declares nullable over a non-nullable child; short docs still filtered") {
    import graft.llm.TextOps
    // coalesce(text, '') is non-nullable; sub-shingle-width docs still
    // produce a NULL sig. Without the nullable=true override Catalyst's
    // NullPropagation would rewrite IsNotNull(sig) to true and the elided
    // filter would leak null-sig docs into the band join.
    val sigs = hostile.select(col("doc_id"),
      graft.functions.TextExprs.minhashSig(
        TextOps.shingles(TextOps.tokens(coalesce(col("text"), lit(""))), 3), 16).as("sig"))
    assert(sigs.schema("sig").nullable,
      "minhash_sig over a non-nullable child must still be declared nullable")
    val kept = sigs.filter(col("sig").isNotNull).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // doc 3 (" \t  ") keeps a sig: split-on-space yields 4 junk tokens, so
    // it shingles — harmless (its shingles are unique; see the candidates
    // gate above). Docs 1/2 ("" after coalesce) and 4 (2 tokens) fall
    // below shingle width and MUST be dropped by the isNotNull guard.
    assert(kept === Set(3L, 5L, 6L, 7L, 8L),
      s"sub-shingle-width docs must be filtered, got $kept")
  }

  test("passage and url dedup run on hostile docs without fabricating drops") {
    val pd = Dedup.passageDedup(hostile).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 6 repeats every passage of doc 5 -> keeps nothing; doc 8's
    // passages are all unique -> keeps everything
    val kept = pd.map(t => t._1 -> t._3).toMap
    assert(kept(6L) === 0L, pd.toSeq)
    assert(kept(8L) === pd.find(_._1 == 8L).get._2)
    Dedup.urlDedup(hostile).collect() // synthesized URLs: must not throw
  }

  test("bloom prefilter never loses hostile batch rows; equals the anti-join") {
    // a null text is NOT a duplicate of anything (its digest is null,
    // and null keys never match in the exact anti-join twin) — the
    // bloom branches must route it to the output, not let a three-
    // valued might_contain(NULL) predicate drop it from BOTH branches
    val index = hostile.filter(col("doc_id") >= 5L)
    val batch = hostile.filter(col("doc_id") <= 4L)
      .unionByName(hostile.filter(col("doc_id") === 6L)) // true dup of index doc 5
    val kept = Dedup.bloomPrefilterDedup(index, batch)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L, 4L), s"kept=$kept")
    // and with an empty batch: no rows, no crash
    assert(Dedup.bloomPrefilterDedup(index, batch.limit(0)).count() === 0L)
  }

  test("domain cap and hash split survive hostile docs, no row loss") {
    // null-text quality is NULL ("no signal") — it must rank below every
    // scored doc (nulls last under DESC), never crash the window
    val capped = TrainingPrep.domainCap(hostile, cap = 100).collect()
    assert(capped.length === hostile.count(), "cap above corpus size must keep every doc")
    val last = capped.maxBy(_.getLong(3)) // highest rank in the single domain
    assert(last.getLong(0) === 1L, s"null-text doc must rank last: $last")
    val split = TrainingPrep.splitAssign(hostile).collect()
    assert(split.length === hostile.count())
    assert(split.forall(r => Set("train", "val", "test")(r.getString(1))))
  }

  test("curation capstone: contentless docs drop, everything else survives") {
    // docs 1 (null text) and 2 (empty) produce zero non-empty chunks, so
    // they exit at the scrub stage — the INTENDED semantics (a doc with
    // no content after cleaning carries no training signal), identical
    // in the oracle's CTE chain. Every doc with any content survives a
    // permissive gate and carries a total split assignment.
    val out = TrainingPrep.curate(hostile, minQuality = 0.0, cap = 100).collect()
    assert(out.map(_.getLong(0)).toSet === Set(3L, 4L, 5L, 6L, 7L, 8L), out.toSeq)
    assert(out.forall(r => Set("train", "val", "test")(r.getString(5))))
  }

  test("text family runs on hostile docs; ratio columns never NaN or infinite") {
    // null doubles are legitimate "no signal" for null text; NaN/Inf are
    // arithmetic escapes (0/0, x/0) and never acceptable
    def noBadDoubles(df: DataFrame): Unit = {
      val doubles = df.schema.fields.filter(_.dataType.typeName == "double").map(_.name)
      doubles.foreach { c =>
        val bad = df.filter(isnan(col(c)) || col(c) === Double.PositiveInfinity ||
          col(c) === Double.NegativeInfinity).count()
        assert(bad === 0L, s"$bad NaN/Inf rows in $c of ${df.columns.mkString(",")}")
      }
    }
    val lid = TextAnalysis.langId(hostile)
    noBadDoubles(lid)
    // null text carries no signal: it must classify 'und', not fall
    // through the CASE chain to the last branch (the first-run catch of
    // this spec — both the Spark op and its oracle SQL now guard it)
    val preds = lid.collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(preds(1L) === "und", preds)
    assert(preds(3L) === "und", preds)
    assert(preds(5L) === "en", preds)
    noBadDoubles(TextAnalysis.qualityScore(hostile))
    noBadDoubles(TextAnalysis.tokenCount(hostile))
    noBadDoubles(TextAnalysis.lmScore(hostile))
    noBadDoubles(TextAnalysis.repetition(hostile))
    assert(TextAnalysis.scrub(hostile).count() === hostile.count())
    assert(TextAnalysis.fingerprint(hostile).count() === hostile.count())
    // chunking the 10k-token doc: full coverage, bounded chunk size
    val ch = TextAnalysis.chunk(hostile).filter(col("doc_id") === 8L).collect()
    assert(ch.map(_.getLong(3)).sum >= 10000L)
    assert(ch.forall(_.getLong(3) <= 32L))
  }

  test("training-prep compositions run end-to-end on hostile docs") {
    import graft.llm.TrainingPrep
    // the full pipeline (banded dedup -> language rebalance -> chunk):
    // must not throw, must emit no chunks for degenerate docs, and every
    // emitted chunk carries positive token count and non-empty text
    val prep = TrainingPrep.prepare(hostile).collect()
    assert(prep.forall(r => r.getLong(3) > 0L && r.getString(2).nonEmpty), prep.take(3).toSeq)
    val filt = TrainingPrep.qualityFilter(hostile).collect()
    assert(filt.forall(r => !degenerate(r.getLong(0))), filt.take(3).toSeq)
    // packing: cumulative seq_id never decreases within a language
    val packed = TrainingPrep.packSequences(hostile).collect()
      .map(r => (r.getString(0), r.getLong(4)))
    packed.groupBy(_._1).values.foreach { seq =>
      assert(seq.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)), seq.take(5).toSeq)
    }
    TrainingPrep.qualityMix(hostile).collect() // percentiles over 8 docs: must not throw
  }

  /** Hostile embedding corpus: a 100 TB pipeline sees all-zero vectors
    * (padding rows, dead docs), null embeddings, and short/corrupt
    * arrays. The invariants mirror the text doctrine: nothing throws,
    * degenerate vectors never DOMINATE a ranking (0/0 = NaN is maximal
    * in Spark's sort order) and never FABRICATE dedup drops
    * (NaN >= threshold is TRUE in Spark SQL) — both guarded by the
    * nullif denominator in VectorExprs.nonzeroDenom. */
  private lazy val hostileVecs: DataFrame = {
    val unit = (d: Int) => Seq.tabulate(8)(i => if (i == d) 1.0 else 0.01)
    Seq(
      (0L, unit(0)), (1L, unit(1)), (2L, unit(2)), (3L, unit(3)),
      // near-dup pair: 4 is a tiny perturbation of 0
      (4L, unit(0).updated(7, 0.0101)),
      (5L, Seq.fill(8)(0.0)),               // all-zero: norm 0
      (6L, null.asInstanceOf[Seq[Double]]), // null embedding
      (7L, Seq(1.0, 2.0))                   // short/corrupt array
    ).toDF("vec_id", "v")
  }

  test("embedding search: zero-norm and null vectors never outrank real neighbours") {
    import graft.llm.Similarity
    val e = hostileVecs.withColumnRenamed("v", "embedding")
    val top = Similarity.topkSearch(e, queryId = 0, k = 3).collect()
    // vec 4 (the real near-copy) must win; 5 (zero) and 6 (null) must
    // rank BELOW every finite-cosine candidate, i.e. nowhere in top-3
    // of a 7-candidate field
    assert(top.head.getLong(0) === 4L, top.toSeq)
    assert(!top.map(_.getLong(0)).toSet.exists(Set(5L, 6L)), top.toSeq)
    assert(top.forall(!_.isNullAt(1)), top.toSeq)
    val knn = Similarity.knnJoin(e, nQueries = 2, k = 3).collect()
    assert(knn.forall(r => !Set(5L, 6L)(r.getLong(1))), knn.toSeq)
  }

  test("quantized search: zero/null/corrupt vectors never outrank real neighbours") {
    import graft.llm.Similarity
    val e = hostileVecs.withColumnRenamed("v", "embedding")
    val top = Similarity.quantizedTopk(e, queryId = 0, k = 3).collect()
    // the real near-copy must survive int8 quantization as the winner;
    // the zero vector (scale guard → all-zero codes → null cosine) and
    // the null vector must rank below every finite candidate
    assert(top.head.getLong(0) === 4L, top.toSeq)
    assert(!top.map(_.getLong(0)).toSet.exists(Set(5L, 6L)), top.toSeq)
    assert(top.forall(!_.isNullAt(1)), top.toSeq)
  }

  test("funnel: strict sequencing on hostile events (nulls, disorder, equal ts)") {
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val evs = Seq(
      // clean full funnel
      (10L, "view", t(1)), (10L, "click", t(2)), (10L, "purchase", t(3)),
      // click BEFORE the first view must not count; the equal-ts click
      // must not count either (strictly-after contract); the later one does
      (11L, "click", t(1)), (11L, "view", t(2)), (11L, "click", t(2)),
      (11L, "click", t(3)),
      // purchase before any view: only step 1 is reached
      (12L, "purchase", t(1)), (12L, "view", t(2)),
      // null event type and null timestamp rows advance nothing
      (13L, null.asInstanceOf[String], t(1)),
      (14L, "view", null.asInstanceOf[Timestamp])
    ).toDF("user_id", "event_type", "ts")
    val rows = ops.Behavior.funnelSteps(evs).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(rows === Map(1 -> 3L, 2 -> 2L, 3 -> 1L), rows.toString)
  }

  test("retention cohort: null timestamps flow through without corrupting ratios") {
    import java.sql.Timestamp
    val evs = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:01")),
      (1L, Timestamp.valueOf("2024-01-08 00:00:01")),
      (2L, Timestamp.valueOf("2024-01-01 00:00:02")),
      (2L, null.asInstanceOf[Timestamp])
    ).toDF("user_id", "ts")
    val m = ops.Behavior.retentionCohort(evs).collect()
    val clean = m.filter(!_.isNullAt(1))
    // week 0 holds both users; week 1 retains user 1 at 50%
    assert(clean.exists(r => r.getLong(1) == 0L && r.getLong(2) == 2L), m.toSeq)
    assert(clean.exists(r => r.getLong(1) == 1L && r.getLong(2) == 1L &&
      r.getDouble(4) == 0.5), m.toSeq)
    // ratios stay finite and in (0, 1] even with the null-ts row present
    assert(clean.forall(r => r.getDouble(4) > 0 && r.getDouble(4) <= 1.0), m.toSeq)
  }

  test("embedding dedup: zero-norm pairs are not near-duplicates; real pair collapses") {
    import graft.llm.Dedup
    // a second zero vector shares bucket 0 with vec 5: their 0/0 cosine
    // must NOT count as >= 0.99 (it did under NaN semantics)
    val vecs = hostileVecs.unionByName(Seq((8L, Seq.fill(8)(0.0))).toDF("vec_id", "v"))
    val kept = Dedup.embeddingBucketedDedup(vecs.filter(col("v").isNotNull))
      .collect().map(_.getLong(0)).toSet
    assert(Set(5L, 8L).subsetOf(kept), s"zero vectors were fabricated into drops: $kept")
    assert(!kept.contains(4L), s"real near-dup 4 survived: $kept")
    // delta probe: a zero delta vector probing an index holding a zero
    // vector in the same bucket must survive
    val keptDelta = Dedup.embeddingDeltaDedup(
        index = Seq((100L, Seq.fill(8)(0.0))).toDF("vec_id", "v"),
        delta = Seq((200L, Seq.fill(8)(0.0)), (201L, Seq.tabulate(8)(_.toDouble + 1))).toDF("vec_id", "v"))
      .collect().map(_.getLong(0)).toSet
    assert(keptDelta === Set(200L, 201L), s"zero-vs-zero probe fabricated a drop: $keptDelta")
  }

  test("graph tier: empty and single-doc inputs yield empty/singleton results, never throw") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(ops.Graph.pagerank(empty).collect().isEmpty)
    assert(ops.Graph.components(empty).collect().isEmpty)
    // one doc → one self-referencing host universe: pagerank emits its
    // node(s) with positive rank; components a singleton per node
    val one = Seq((7L, "solo")).toDF("doc_id", "text")
    val pr = ops.Graph.pagerank(one).collect()
    assert(pr.nonEmpty && pr.forall(_.getLong(1) > 0))
    // doc 7 (7 % 7 == 0) contributes the single edge 7 → 18: one
    // two-node component labeled by its min id
    val cc = ops.Graph.components(one).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(7L -> 7L, 18L -> 7L), cc)
    // triangles: empty → empty; a single edge has no wedges — both its
    // endpoints must still emit with count 0 (absence is signal)
    assert(ops.Graph.triangles(empty).collect().isEmpty)
    val tr = ops.Graph.triangles(one).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr === Map(7L -> 0L, 18L -> 0L), tr)
    // neighbor jaccard: a single edge has no co-citing pair — empty,
    // never a fabricated self-pair
    assert(ops.Graph.neighborJaccard(empty).collect().isEmpty)
    assert(ops.Graph.neighborJaccard(one).collect().isEmpty)
    // SCC: empty → empty; the single even doc (id 8 → edge
    // 8 → (8·31+1) % 250 = 249) yields two trivial SCCs
    assert(ops.Graph.scc(empty).collect().isEmpty)
    val two = Seq((8L, "solo")).toDF("doc_id", "text")
    val sc = ops.Graph.scc(two).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sc === Set((8L, 8L, 1L), (249L, 249L, 1L)), s"single edge fabricated a cycle: $sc")
  }

  test("scc bounded model: edges past the nNodes² ceiling fail before the collect") {
    // negative doc ids give negative residues, so nNodes = 2 yields up to
    // 7 distinct edges over {-1, 0, 1} — past the 4-edge ceiling
    val docs = (-20L to 20L).map(i => (i, "x")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException](
      ops.Graph.scc(docs, nNodes = 2, sparsity = 1))
    assert(err.getMessage.contains("nNodes=2") && err.getMessage.contains("nNodes² = 4"),
      err.getMessage)
    // the same ids inside the ring stay under the ceiling and solve
    val ok = (0L to 40L).map(i => (i, "x")).toDF("doc_id", "text")
    assert(ops.Graph.scc(ok, nNodes = 2, sparsity = 1).collect().length === 2)
  }

  test("shared prewarm against a missing sf dir: names every step, throws nothing, writes no table") {
    val missing = java.nio.file.Files.createTempDirectory("graft-prewarm")
      .resolve("no-such-sf").toString
    val warehouse = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    def warehouseDirs: Set[String] =
      if (!java.nio.file.Files.isDirectory(warehouse)) Set.empty
      else {
        val ls = java.nio.file.Files.list(warehouse)
        try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
      }
    def tables: Set[String] = spark.catalog.listTables().collect().map(_.name).toSet
    val (tablesBefore, dirsBefore) = (tables, warehouseDirs)
    val failed = Bench.prewarm(spark, missing)
    assert(failed === Tables.names ++ Seq("events_normalized", "bucketed",
      "events_by_day", "events_compact", "band_index", "bloom_index", "ivf_index", "pq_index", "bpe_model",
      "quantile_hist", "quantile_hist_perturbed"))
    assert(tables === tablesBefore)
    assert(warehouseDirs === dirsBefore)
  }

  test("subset selector: unknown keys fail by name, blanks are trimmed") {
    val err = intercept[IllegalArgumentException](SparkEntry.select(Some("scan_parquet, nope")))
    assert(err.getMessage.contains("nope"), err.getMessage)
    assert(!err.getMessage.contains("scan_parquet"), err.getMessage)
    assert(SparkEntry.select(Some(" scan_parquet ")).keySet === Set("scan_parquet"))
    assert(SparkEntry.select(None).keySet === SparkEntry.queries.keySet)
  }

  test("sequence detect: null ts orders deterministically, null event_type never matches") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: clean consecutive match
      (1L, 10L, t("2025-01-01 00:00:00"), "view"),
      (1L, 11L, t("2025-01-01 00:00:01"), "click"),
      (1L, 12L, t("2025-01-01 00:00:02"), "purchase"),
      // user 2: ALL null ts — (event_id) tiebreak alone must give the
      // total order, and the explicit nulls-first law keeps both
      // engines on the same adjacency
      (2L, 20L, null.asInstanceOf[Timestamp], "view"),
      (2L, 21L, null.asInstanceOf[Timestamp], "click"),
      (2L, 22L, null.asInstanceOf[Timestamp], "purchase"),
      // user 3: null event_type breaks the chain (null = never matches)
      (3L, 30L, t("2025-01-01 00:00:00"), "view"),
      (3L, 31L, t("2025-01-01 00:00:01"), null.asInstanceOf[String]),
      (3L, 32L, t("2025-01-01 00:00:02"), "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = ops.Behavior.sequenceDetect(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(1L -> ((1L, 10L)), 2L -> ((1L, 20L))), out)
    // the adjacency conjunction follows the ACTUAL pattern arity: a
    // 2-step prefix matches users 1 and 2; a 4-step pattern matches
    // nobody (no user has a 4th adjacent event) — the first fielded form
    // hardcoded 3 steps (longer patterns silently truncated, shorter
    // ones crashed)
    val two = ops.Behavior.sequenceDetect(ev, Seq("view", "click")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two === Map(1L -> 1L, 2L -> 1L), two)
    val four = ops.Behavior.sequenceDetect(ev,
      Seq("view", "click", "purchase", "refund")).collect()
    assert(four.isEmpty, four.mkString(";"))
    intercept[IllegalArgumentException](ops.Behavior.sequenceDetect(ev, Seq("view")))
  }

  test("semantic dedup and dsir: degenerate inputs never throw") {
    // fewer vectors than seeds: every vector is its own nearest seed
    // (or joins a mate's cluster); nothing can be dropped among
    // orthogonal vectors
    val tiny = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0))).toDF("vec_id", "v")
    val sd = Dedup.semanticDedup(tiny).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sd === Map(1L -> 1L, 2L -> 2L), sd)
    // identical vectors: cosine 1 ≥ τ, same cluster, same d² — the id
    // tiebreak must keep exactly the LOWER id, not drop both
    val twin = Seq(
      (5L, Seq(1.0, 2.0)), (6L, Seq(1.0, 2.0))).toDF("vec_id", "v")
    val kept = Dedup.semanticDedup(twin).collect().map(_.getLong(0)).toSet
    assert(kept === Set(5L), kept)
    // empty corpus → empty weights; docs with null lang count toward
    // source but never target — weights still emit
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(TrainingPrep.dsirWeights(emptyDocs).collect().isEmpty)
    val nullLang = Seq((1L, "a b c", null: String), (2L, "a b", "en"))
      .toDF("doc_id", "text", "lang")
    val w = TrainingPrep.dsirWeights(nullLang).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(w === Map(1L -> 3L, 2L -> 2L), w)
  }

  test("multimodal samplers: hostile docs decode or fan out to nothing, never throw") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // null text synthesizes a 1-sample/1-frame payload (the synth guards
    // max(len, 1)); the samplers must handle it and every degenerate doc
    val fs = graft.multimodal.Multimodal.frameSample(hostile).collect()
    assert(fs.forall(_.getLong(0) % 3 == 2))
    val aw = graft.multimodal.Multimodal.audioWindows(hostile).collect()
    assert(aw.forall(_.getLong(0) % 3 == 1))
    // the 10k-token outlier (doc 8, kind video) still yields ≤ 4 frames
    assert(fs.filter(_.getLong(0) == 8L).length <= 4)
  }

  test("reporting tier: dataset card on hostile docs; quantile/psi on empty frames") {
    // the card must absorb null/empty text (coalesced digest + token
    // count) and a null-quality doc (empty tokens → null q_units: SUM
    // skips it, n_docs still counts it) without throwing or losing rows
    val card = TrainingPrep.datasetCard(hostile).collect()
    assert(card.map(_.getLong(1)).sum === hostile.count())
    // two identical pairs among 8 docs of one source: 5≡6 (real dups)
    // AND 1≡2 — null text coalesces to "" for the digest, so a null doc
    // and an empty doc are the same zero-content document to the card
    val crawl = card.find(_.getString(0) == "crawl").get
    assert(crawl.getDouble(3) === math.floor(2.0 / 8 * 1e4 + 0.5) / 1e4, crawl)
    // quantile machinery on an EMPTY order frame: no rows, never a throw
    val emptyOrders = Seq.empty[(Long, Double)].toDF("o_orderkey", "o_totalprice")
    assert(ops.Aggregates.quantileRollup(emptyOrders).collect().isEmpty)
    assert(ops.DataQuality.driftPsi(emptyOrders, emptyOrders).collect().isEmpty)
    // one-sided drift: an empty old snapshot against real rows still
    // emits one row per new bucket, every contribution nonnegative
    val one = Seq((1L, 1000.0), (2L, 250000.0)).toDF("o_orderkey", "o_totalprice")
    val psi = ops.DataQuality.driftPsi(emptyOrders, one).collect()
    assert(psi.length === 2 && psi.forall(_.getLong(3) >= 0L))
    // KS on empty frames: no rows, never a throw
    assert(ops.DataQuality.driftKs(emptyOrders, emptyOrders).collect().isEmpty)
  }

  test("lpa and weighted reservoir survive degenerate inputs") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    // LPA on an empty corpus: no edges, no nodes, no rows — no throw
    val emptyDocs = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(ops.Graph.labelPropagation(emptyDocs).collect().isEmpty)
    // one doc → a single 2-node edge (7→18). A synchronous-LPA pair
    // OSCILLATES — each node adopts the other's label every round, the
    // textbook bipartite behavior — and the fixed odd round count makes
    // the swapped state the deterministic answer, not a hang
    val oneDoc = Seq((7L, "x", "en", "crawl", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val lone = ops.Graph.labelPropagation(oneDoc).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lone === Map(7L -> 18L, 18L -> 7L), lone)
    // weighted reservoir on the hostile corpus: zero-length docs weight
    // floors at 1 (ln(u)/0 would be -Inf), every row keeps a finite key,
    // and no stratum exceeds k
    val wr = ops.Aggregates.weightedReservoirByGroup(hostile, k = 3).collect()
    assert(wr.nonEmpty && wr.forall(_.getLong(3) >= 1L), "weight floor violated")
    assert(wr.groupBy(_.getString(0)).values.forall(_.length <= 3))
  }

  test("r9 operators survive hostile shapes: null text/lang, empty frames, tied timestamps") {
    import spark.implicits._
    // collocations over null/empty/whitespace/multibyte text: null
    // tokenization explodes to nothing, no fabricated mass below minCount
    val coll = TextAnalysis.collocations(hostile, minCount = 2, topK = 10).collect()
    assert(coll.nonEmpty && coll.forall(_.getLong(1) >= 2L))
    // interleave with a NULL lang: default weight, NULLS LAST at equal vt
    val nullLang = Seq((100L, "x", null.asInstanceOf[String], "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val mix = TrainingPrep.interleaveMixture(hostile.unionByName(nullLang)).collect()
    assert(mix.length === 9 && mix.exists(r => r.isNullAt(1) && r.getLong(0) === 100L))
    // empty corpus: graph ops return empty frames, never throw
    val emptyDocs = hostile.filter(col("doc_id") < 0)
    assert(ops.Graph.clusteringCoeff(emptyDocs).collect().isEmpty)
    assert(ops.Graph.randomWalk(emptyDocs).collect().isEmpty)
    // spatial grid: the packed-cell stride guard fires LOUDLY on a
    // radius that would alias cells instead of silently corrupting pairs
    intercept[IllegalArgumentException] {
      ops.Joins.spatialGrid(
        Seq((1L, "n", 1, 0.0, "m")).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        Seq((1L, "s", 1, 0.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        radius = 5L)
    }
    // throttle: equal-timestamp ties break on event_id; a lone event per
    // key is kept; the second tied event is within ttl and drops
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t9 = java.sql.Timestamp.valueOf("2024-01-09 00:00:00") // > 72h later
    val ev = Seq(
      (1L, "click", 11L, t0, 0.0), (1L, "click", 10L, t0, 0.0),
      (1L, "click", 12L, t9, 0.0), (2L, "view", 20L, t0, 0.0)
    ).toDF("user_id", "event_type", "event_id", "ts", "value")
    val kept = graft.streaming.Streams.throttleBatch(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(kept.toSeq === Seq((1L, 10L), (1L, 12L), (2L, 20L)), kept.toSeq)
    // freshness and sma-cross on an empty stream: empty, not a throw
    val emptyEv = ev.filter(col("event_id") < 0)
    assert(ops.DataQuality.freshness(emptyEv).collect().isEmpty)
    assert(ops.TimeSeries.smaCross(emptyEv).collect().isEmpty)
    // decile lift where NO user reaches the label threshold: rates are
    // 0, the lift ratio is honestly undefined — NULL, never a throw
    val lift = ops.Aggregates.decileLift(ev).collect()
    assert(lift.forall(r => r.getDouble(3) === 0.0 && r.isNullAt(4)))
  }
}
