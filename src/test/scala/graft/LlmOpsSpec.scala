package graft

import org.apache.spark.sql.functions._
import graft.llm.{Corpus, Dedup, Similarity, TextAnalysis, TrainingPrep}
import graft.multimodal.Multimodal

/** Correctness gates for the oracle-exempt LLM-tier operators (hash- and
  * sketch-based ops DuckDB can't mirror bit-for-bit).
  */
class LlmOpsSpec extends SparkSpec {

  private def documents = Tables.documents(spark, sfDir)
  private def embeddings = Tables.embeddings(spark, sfDir)

  /** The corpus's known duplicate pairs: (id, id+100000) exact copies and
    * (id, id+200000) near copies. */
  private def knownPairs(near: Boolean): Set[(Long, Long)] = {
    val ids = documents.select("doc_id").collect().map(_.getLong(0))
    if (near) ids.filter(_ % 10 == 5).map(i => (i, i + 200000L)).toSet
    else ids.filter(_ % 7 == 0).map(i => (i, i + 100000L)).toSet
  }

  test("dup skew profile is consistent with exact dedup's group structure") {
    val corpus = Corpus.docCorpus(documents)
    val prof = Dedup.dupSkewProfile(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // Σ n_docs over the histogram is exactly the corpus
    assert(prof.map(_._3).sum === corpus.count())
    // the histogram is a regrouping of exact()'s per-survivor n_copies:
    // groups of size g in the profile == survivors with n_copies = g,
    // and Σ n_pairs == Σ n_copies·(n_copies−1)/2 over survivors
    val copies = Dedup.exact(corpus).select("n_copies")
      .collect().map(_.getLong(0))
    val bySize = copies.groupBy(identity).map { case (g, xs) => g -> xs.length.toLong }
    assert(prof.map(t => t._1 -> t._2).toMap === bySize)
    assert(prof.map(_._4).sum === copies.map(g => g * (g - 1) / 2).sum)
  }

  test("minhash candidates include all exact-dup pairs and most near-dup pairs") {
    val cand = Dedup.minhashCandidates(Corpus.docCorpus(documents))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = knownPairs(near = false)
    assert((exact -- cand).isEmpty, s"missed exact dups: ${exact -- cand}")
    val near = knownPairs(near = true)
    val recall = (near & cand).size.toDouble / near.size
    assert(recall >= 0.8, s"near-dup recall $recall < 0.8")
    assert(cand.forall { case (a, b) => a < b }, "unordered or self pairs")
  }

  test("minhash is deterministic across runs") {
    val c1 = Dedup.minhashCandidates(Corpus.docCorpus(documents)).collect().toSeq
    val c2 = Dedup.minhashCandidates(Corpus.docCorpus(documents)).collect().toSeq
    assert(c1 === c2)
  }

  test("fused simhash + shingle fingerprints match the HOF formulations bit-for-bit (r14)") {
    // The r14 compiled one-pass expressions replace the interpreted HOF
    // chains; the pre-r14 formulations are kept HERE as the independent
    // reference — any arithmetic drift in the fused path fails this.
    import org.apache.spark.sql.Column
    val corpus = Corpus.docCorpus(documents)
    val toks = llm.TextOps.tokens(col("text"))
    def votesHof(bits: Int): Column = (0 until bits).map { b =>
      when(
        aggregate(col("hs"), lit(0L), (s, h) =>
          s + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0,
        lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    val hof48 = corpus
      .withColumn("hs", transform(toks, t => functions.TextExprs.rollingFingerprint48(t)))
      .select(col("doc_id"), votesHof(48).as("fp_hof"),
        array_distinct(transform(llm.TextOps.shingles(toks, 3),
          s => functions.TextExprs.rollingFingerprint(s))).as("fps_hof"))
    val hof30 = corpus
      .withColumn("hs", transform(toks, t => functions.TextExprs.rollingFingerprint(t)))
      .select(col("doc_id"), votesHof(30).as("fp30_hof"))
    val fused = corpus.select(col("doc_id"),
      functions.TextExprs.simhashBits(toks, 48, pack48 = true).as("fp_f"),
      functions.TextExprs.simhashBits(toks, 30, pack48 = false).as("fp30_f"),
      functions.TextExprs.shingleFingerprints(toks, 3).as("fps_f"))
    val rows = hof48.join(hof30, "doc_id").join(fused, "doc_id").collect()
    assert(rows.length === corpus.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("fp_hof") === r.getAs[Long]("fp_f"), s"doc ${r.getLong(0)}")
      assert(r.getAs[Long]("fp30_hof") === r.getAs[Long]("fp30_f"), s"doc ${r.getLong(0)}")
      assert(r.getSeq[Long](r.fieldIndex("fps_hof")).toList ===
        r.getSeq[Long](r.fieldIndex("fps_f")).toList, s"doc ${r.getLong(0)}")
    }
    // degenerate inputs: null tokens fold to 0 at the simhash call sites
    // (coalesce) and to null in the raw expression; short docs yield
    // empty shingle sets
    import spark.implicits._
    val edge = Seq((1L, "one two"), (2L, "solo"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val e = edge.select(
      functions.TextExprs.shingleFingerprints(llm.TextOps.tokens(col("text")), 3).as("fps"),
      functions.TextExprs.simhashBits(llm.TextOps.tokens(col("text")), 48, pack48 = true).as("fp"))
      .collect()
    assert(e(0).getSeq[Long](0).toList === Nil)
    assert(e(1).getSeq[Long](0).toList === Nil)
    assert(e(2).isNullAt(0) && e(2).isNullAt(1))
  }

  test("simhash: near-dups within small hamming distance, random pairs far") {
    val fp = Dedup.simhash(Corpus.docCorpus(documents))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val near = knownPairs(near = true).toSeq.map { case (a, b) => hamming(fp(a), fp(b)) }
    val exact = knownPairs(near = false).toSeq.map { case (a, b) => hamming(fp(a), fp(b)) }
    assert(exact.forall(_ == 0), s"exact dup hamming nonzero: $exact")
    val avgNear = near.sum.toDouble / near.size
    // random doc pairs on a 48-bit simhash differ in ~24 bits
    val ids = fp.keys.filter(_ < 100000).toSeq.sorted.take(40)
    val rand = (for (a <- ids; b <- ids if a < b) yield hamming(fp(a), fp(b)))
    val avgRand = rand.sum.toDouble / rand.size
    assert(avgNear < avgRand / 2, s"near avg $avgNear not << random avg $avgRand")
  }

  test("lsh top-k achieves recall >= 0.8 vs brute force across queries") {
    // gate at 0.8 over several query points, matching the minhash
    // candidate gate — a single lucky query would not be evidence
    for (qid <- Seq(0L, 7L, 42L)) {
      val brute = Similarity.topkSearch(embeddings, queryId = qid)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.lshTopK(embeddings, queryId = qid)
        .collect().map(_.getLong(0)).toSet
      val recall = (brute & approx).size.toDouble / brute.size
      assert(recall >= 0.8, s"LSH recall $recall < 0.8 at qid=$qid (brute=$brute approx=$approx)")
    }
  }

  test("ivf top-k achieves recall >= 0.8 vs brute force and is deterministic") {
    for (qid <- Seq(0L, 7L, 42L)) {
      val brute = Similarity.topkSearch(embeddings, queryId = qid)
        .collect().map(_.getLong(0)).toSet
      val r1 = Similarity.ivfTopK(embeddings, queryId = qid).collect().map(_.getLong(0)).toSeq
      if (qid == 0L) {
        val r2 = Similarity.ivfTopK(embeddings, queryId = qid).collect().map(_.getLong(0)).toSeq
        assert(r1 === r2, "IVF not deterministic across runs")
      }
      val recall = (brute & r1.toSet).size.toDouble / brute.size
      assert(recall >= 0.8, s"IVF recall $recall < 0.8 at qid=$qid (brute=$brute approx=$r1)")
    }
  }

  test("persisted ivf epoch serves the exact in-session results with an exchange-free probe") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // same params → identical output: both paths are deterministic and
    // the persisted path must be a pure serving-layer change
    for (qid <- Seq(0L, 7L, 42L)) {
      val live = Similarity.ivfTopK(embeddings, queryId = qid)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val persisted = Similarity.ivfTopKPersisted(spark, embeddings, queryId = qid)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(live === persisted, s"persisted IVF diverged at qid=$qid")
    }
    // the query path plans ZERO shuffle exchanges: centroid model and
    // probe-cell choice are driver-side, the re-rank is a bucket-pruned
    // scan + TakeOrderedAndProject — no training job, no exchange
    val probe = Similarity.ivfTopKPersisted(spark, embeddings, queryId = 0L)
    probe.collect()
    val nEx = probe.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.size
    assert(nEx === 0, s"persisted IVF probe planned $nEx exchanges:\n" +
      probe.queryExecution.executedPlan)
    // second resolve reuses the epoch artifact — no retrain, no rewrite
    val t1 = Similarity.ensureIvfIndex(spark, embeddings)
    val t2 = Similarity.ensureIvfIndex(spark, embeddings)
    assert(t1 === t2)
  }

  test("persisted pq epoch serves the exact in-session results from the stored code tier") {
    for (qid <- Seq(0L, 7L)) {
      val live = Similarity.pqTopk(embeddings, queryId = qid)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val persisted = Similarity.pqTopkPersisted(spark, embeddings, queryId = qid)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(live === persisted, s"persisted PQ diverged at qid=$qid")
    }
    // epoch reuse: second resolve neither retrains nor rewrites
    val t1 = Similarity.ensurePqIndex(spark, embeddings)
    assert(t1 === Similarity.ensurePqIndex(spark, embeddings))
  }

  test("pq top-k achieves recall >= 0.8 vs brute force and is deterministic") {
    // uniform-random test embeddings are PQ's WORST case (no manifold
    // structure for the codebooks to learn), hence the generous default
    // ADC shortlist; the gate mirrors the IVF/LSH ones
    for (qid <- Seq(0L, 7L, 42L)) {
      val brute = Similarity.topkSearch(embeddings, queryId = qid)
        .collect().map(_.getLong(0)).toSet
      val r1 = Similarity.pqTopk(embeddings, queryId = qid).collect().map(_.getLong(0)).toSeq
      if (qid == 0L) {
        val r2 = Similarity.pqTopk(embeddings, queryId = qid).collect().map(_.getLong(0)).toSeq
        assert(r1 === r2, "PQ not deterministic across runs")
      }
      val recall = (brute & r1.toSet).size.toDouble / brute.size
      assert(recall >= 0.8, s"PQ recall $recall < 0.8 at qid=$qid (brute=$brute approx=$r1)")
    }
  }

  test("rerank: two-stage equals brute exactly when the shortlist covers; deterministic (r9)") {
    val k = 10
    val rerank = Similarity.rerankTopk(embeddings, k = k).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.topkSearch(embeddings, k = k).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // the shortlist margin (50 ≫ 10) absorbs int8 rank noise on the
    // fixture: measure coverage, and GIVEN coverage the law is exact
    // equality — stage 2 scores with the brute's own formula
    val shortIds = Similarity.quantizedTopk(embeddings, k = 50).collect()
      .map(_.getLong(0)).toSet
    val covered = brute.map(_._1).count(shortIds.contains)
    assert(covered >= 9, s"int8 shortlist covers only $covered/10 true neighbors")
    if (covered == k) assert(rerank.toSeq === brute.toSeq)
    // exact-cos ordering within the rerank output, and determinism
    rerank.sliding(2).foreach {
      case Array(a, b) => assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      case _ =>
    }
    val again = Similarity.rerankTopk(embeddings, k = k).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(again.toSeq === rerank.toSeq)
  }

  test("collocations: integer-ranked PMI top-100 replays from a driver tokenization (r9)") {
    val rows = TextAnalysis.collocations(documents).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty, "vacuous fixture: no bigram reached minCount")
    val toks = documents.select("text").collect()
      .map(_.getString(0).split(" ", -1).toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val n1 = uni.values.sum
    val bc = toks.flatMap(t => t.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1)))
      .groupBy(identity).map { case (g, xs) => g -> xs.length.toLong }
    val n2 = bc.values.sum
    val expect = bc.toSeq.filter(_._2 >= 5).map { case (g, cxy) =>
      val i = g.indexOf(' ') // tokens carry no spaces: the single interior space
      val (w1, w2) = (g.substring(0, i), g.substring(i + 1))
      val (cx, cy) = (uni(w1), uni(w2))
      val key = cxy * 1000000000000L / (cx * cy)
      val pmi = math.floor(math.log(cxy.toDouble * n1 * n1 / (n2.toDouble * cx * cy))
        * 10000.0 + 0.5) / 10000.0
      (g, cxy, cx, cy, key, pmi)
    }.sortBy(t => (-t._5, t._1)).take(100)
    assert(rows.toSeq === expect)
    // monotone-ln law: a strictly larger integer key can undercut the
    // displayed pmi only by floor slack (one key unit + one rounding step)
    rows.sliding(2).foreach {
      case Array(a, b) if a._5 > b._5 => assert(a._6 >= b._6 - 2e-4,
        s"pmi inversion across key order: $a vs $b")
      case _ =>
    }
  }

  test("fingerprint is order-sensitive and deterministic") {
    val fp = TextAnalysis.fingerprint(documents).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp2 = TextAnalysis.fingerprint(documents).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp === fp2)
    // distinct texts (no dups in raw documents) → fingerprints rarely collide
    val nDistinct = fp.values.toSet.size
    assert(nDistinct >= (fp.size * 0.99).toInt, s"too many collisions: $nDistinct/${fp.size}")
  }

  test("multimodal decode: typed batch pipeline preserves rows and schema") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val items = Multimodal.asMediaItems(documents)
    val feats = Multimodal.decodeFeatures(items)
    assert(feats.count() === documents.count())
    val one = feats.filter(col("doc_id") === 0).collect().head
    assert(one.feature.length === 8)
    assert(Set("image", "audio", "video").contains(one.kind))
    // deterministic stub: same input → same features
    val again = Multimodal.decodeFeatures(items).filter(col("doc_id") === 0).collect().head
    assert(one.feature.toSeq === again.feature.toSeq)
  }

  test("sim_quantized_topk: int8 quantization keeps >= 8/10 of the exact top-10") {
    val embeddings = Tables.embeddings(spark, sfDir)
    val exact = llm.Similarity.topkSearch(embeddings).collect().map(_.getLong(0)).toSet
    val quant = llm.Similarity.quantizedTopk(embeddings).collect().map(_.getLong(0)).toSet
    assert(exact.size === 10 && quant.size === 10)
    val overlap = (exact & quant).size
    assert(overlap >= 8, s"quantized recall too low: $overlap/10 ($quant vs $exact)")
  }

  test("phash64: block semantics exact (bright half sets exactly the high 32 bits)") {
    // 512 source bytes → 16×32 PPM, 512 pixels, 64 blocks of 8: blocks
    // 0-31 all 0x00, blocks 32-63 all 0xFF → global mean 127.5 → exactly
    // the bright half's bits set
    val src = Array.tabulate[Byte](512)(i => if (i < 256) 0 else 0xFF.toByte)
    assert(Multimodal.phash64(Multimodal.synthPpm(src)) === 0xFFFFFFFF00000000L)
    // constant image: no block exceeds the mean → zero hash
    assert(Multimodal.phash64(Multimodal.synthPpm(Array.fill[Byte](512)(7))) === 0L)
    // malformed payload must be a parse error, not garbage bits
    intercept[IllegalArgumentException](Multimodal.phash64("nope".getBytes))
  }

  test("mm_image_phash: exact copies at hamming 0, prefix near-dups found, pairs unique") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val rows = Multimodal.imagePhashPairs(documents).collect()
    assert(rows.nonEmpty)
    // injected exact copies (id → id+100000) must pair at distance 0
    // (a >= 100000 with the same delta is a copy-vs-near-copy pair of one
    // base doc — genuinely nonzero distance, not part of this assertion)
    val exact = rows.filter(r =>
      r.getLong(0) < 100000 && r.getLong(1) - r.getLong(0) == 100000)
    assert(exact.nonEmpty)
    assert(exact.forall(_.getLong(2) === 0L), exact.mkString(","))
    // a structured doc with a same-length prefix overwrite stays within
    // the banded-LSH radius (hand corpus: deterministic by construction)
    import s.implicits._
    val hand = Seq(
      (0L, "a" * 128 + "z" * 128),   // image kind, %15 → near copy injected
      (3L, "z" * 128 + "a" * 128),   // image kind, unrelated shape
      (1L, "ignored: not image kind")).toDF("doc_id", "text")
    val handPairs = Multimodal.imagePhashPairs(hand).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(handPairs.exists { case (a, b, d) => a == 0L && b == 200000L && d <= 8 },
      handPairs.toString)
    // banding emits no self pairs and no duplicate (a,b) rows
    val ids = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.forall { case (a, b) => a < b })
    assert(ids.distinct.length === ids.length)
  }

  test("mm_frame_sample: uniform stride indices, per-frame luma matches the y4m synthesis law") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val rows = Multimodal.frameSample(documents).collect()
    assert(rows.nonEmpty)
    // only video-kind docs (doc_id % 3 == 2) appear; every synthesized
    // clip has 8 frames, so k=4 samples exactly indices 0,2,4,6
    assert(rows.forall(_.getLong(0) % 3 == 2))
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (id, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === Seq(0, 2, 4, 6), s"doc $id")
      assert(rs.forall(_.getInt(2) == 8), s"doc $id n_frames")
    }
    // synthesis law: frame f's luma pixel i is srcByte[(f*wh+i) % n] —
    // recompute a sampled doc's expected means straight from its text
    val docId = byDoc.keys.min
    val src = documents.filter(col("doc_id") === docId)
      .select("text").collect().head.getString(0).getBytes("UTF-8")
    val n = math.max(src.length, 1)
    val wh = 64
    def expected(f: Int): Double =
      (0 until wh).map(i => (src((f * wh + i) % n) & 0xff).toDouble).sum / wh / 255.0
    byDoc(docId).foreach { r =>
      val f = r.getInt(1)
      assert(math.abs(r.getDouble(3) - expected(f)) < 1e-6,
        s"doc $docId frame $f: got ${r.getDouble(3)}, expected ${expected(f)}")
    }
    // short clip: fewer frames than k → deduplicated indices, no repeats
    import s.implicits._
    val shortDoc = Seq((2L, "ab")).toDF("doc_id", "text") // video kind
    val shortRows = Multimodal.frameSample(shortDoc, k = 16).collect()
    val idxs = shortRows.map(_.getInt(1)).toSeq
    assert(idxs == idxs.distinct && idxs.forall(_ < 8), idxs.toString)
  }

  test("mm_scene_cuts: deltas replay from the y4m synthesis law, both flag classes fire (r8)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val rows = Multimodal.sceneCuts(documents).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 3 == 2)) // video kind only
    val texts = documents.filter(col("doc_id") % 3 === 2)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    rows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val src = texts(id).getBytes("UTF-8")
      val n = math.max(src.length, 1)
      val wh = 64
      def luma(f: Int): Double =
        (0 until wh).map(i => (src((f * wh + i) % n) & 0xff).toDouble).sum / wh / 255.0
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (0 until 8), s"doc $id frames")
      sorted.foreach { r =>
        val f = r.getInt(1)
        assert(r.getInt(2) === 8, s"doc $id n_frames")
        assert(math.abs(r.getDouble(3) - luma(f)) < 1e-6, s"doc $id luma@$f")
        if (f == 0) { assert(r.isNullAt(4)); assert(r.isNullAt(5)) }
        else {
          val d = math.abs(luma(f) - luma(f - 1))
          assert(math.abs(r.getDouble(4) - d) < 1e-6, s"doc $id delta@$f")
          // skip the knife-edge: the spec's float path may differ from
          // the decoder's by an ulp exactly at the threshold
          if (math.abs(d - 0.01) > 1e-9)
            assert(r.getInt(5) === (if (d > 0.01) 1 else 0), s"doc $id flag@$f")
        }
      }
    }
    val flags = rows.filter(!_.isNullAt(5)).map(_.getInt(5)).toSeq
    assert(flags.contains(1) && flags.contains(0),
      "threshold must discriminate on this corpus")
  }

  test("mm_audio_windows: rms and zcr match the WAV synthesis law per window") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val rows = Multimodal.audioWindows(documents).collect()
    assert(rows.nonEmpty)
    // only audio-kind docs (doc_id % 3 == 1); 8 windows each
    assert(rows.forall(_.getLong(0) % 3 == 1))
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (id, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (0 until 8), s"doc $id windows")
    }
    // synthesis law: sample_j = (srcByte_j - 128)*256/32768 — recompute
    // one doc's expected windows straight from its text bytes
    val docId = byDoc.keys.min
    val src = documents.filter(col("doc_id") === docId)
      .select("text").collect().head.getString(0).getBytes("UTF-8")
    val n = math.max(src.length, 1)
    def sample(j: Int): Double = ((src(j % src.length) & 0xff) - 128) * 256 / 32768.0
    byDoc(docId).foreach { r =>
      val w = r.getInt(1)
      assert(r.getInt(2) == n, s"doc $docId n_samples")
      val lo = (w.toLong * n / 8).toInt
      val hi = math.max(lo + 1, ((w + 1).toLong * n / 8).toInt)
      val idx = (lo until math.min(hi, n))
      val rms = math.sqrt(idx.map(j => sample(j) * sample(j)).sum / math.max(idx.size, 1))
      val pairs = idx.filter(_ > 0)
      val zcr = if (pairs.isEmpty) 0.0
        else pairs.count(j => sample(j - 1) * sample(j) < 0).toDouble / pairs.size
      assert(math.abs(r.getDouble(3) - rms) < 1e-6, s"doc $docId win $w rms")
      assert(math.abs(r.getDouble(4) - zcr) < 1e-6, s"doc $docId win $w zcr")
    }
    // ASCII text stays strictly below 0x80 → every sample negative → no
    // sign flips anywhere: the zcr law, checked corpus-wide
    assert(rows.forall(_.getDouble(4) == 0.0))
    // non-ASCII bytes (≥ 0xC2 lead bytes decode to POSITIVE samples)
    // exercise the flip path: "aéa" → signs -,+,+,- → 2 flips
    import s.implicits._
    val mixed = Seq((1L, "aéa")).toDF("doc_id", "text") // audio kind
    val zw = Multimodal.audioWindows(mixed).collect()
    assert(zw.map(_.getInt(1)).toSeq == (0 until 4), zw.mkString(","))
    assert(zw.map(_.getDouble(4)).sum > 0, "zcr never fired on mixed-sign samples")
    // short clip (2 samples < 8 windows): clamped to one window per
    // sample, no overlap — the boundary pair lands in window 1 only
    val short2 = Multimodal.audioWindows(Seq((4L, "ab")).toDF("doc_id", "text")).collect()
    assert(short2.length == 2 && short2.map(_.getInt(1)).toSeq == Seq(0, 1))
  }

  test("ngramJaccard dfCap prunes candidates but never invents pairs") {
    val corpus = Corpus.docCorpus(documents)
    def pairs(cap: Option[Int]) =
      Dedup.ngramJaccard(corpus, dfCap = cap).select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(None)
    val capped = pairs(Some(4))
    assert(capped.subsetOf(exact), "dfCap must only remove pairs (Jaccard underestimates)")
    // exact-dup pairs share ALL shingles; boilerplate pruning keeps them
    assert(capped.nonEmpty)
  }

  test("ngramContainment flags a short doc embedded in a long one that Jaccard misses") {
    import spark.implicits._
    // doc 1 (3 shingles) is verbatim inside doc 2 (18 shingles):
    // jaccard = 3/18 = 0.17 — BELOW the 0.5 resemblance bar — but
    // containment(1 in 2) = 3/3 = 1.0. This is the whole point of the
    // asymmetric measure; doc 3 shares nothing.
    val corpus = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e f g h i j k l m n o p q r s t"),
      (3L, "x y z w v u")
    ).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccard(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.isEmpty, s"resemblance should dilute the embedded doc, got $jac")
    val cont = Dedup.ngramContainment(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("prefix-filtered containment is LOSSLESS: identical pairs to the baseline") {
    // the AllPairs prefix filter must be an optimization, not an
    // approximation — row-for-row parity on the real fixture corpus
    val corpus = Corpus.docCorpus(documents)
    val base = Dedup.ngramContainment(corpus)
    val pref = Dedup.ngramContainmentPrefix(corpus)
    assert(base.exceptAll(pref).count() === 0L)
    assert(pref.exceptAll(base).count() === 0L)
  }

  test("containment prefix bound law: lossless and tight vs an exact BigInt oracle") {
    // This arithmetic has been wrong twice (textbook |A|-ceil(t|A|)+1
    // ignored the rounded verify filter; the double-epsilon repair
    // misrounded at exactly n = 20000). Pin the PRODUCTION SQL fragment
    // against an independent exact oracle: o_min(n, t) = the smallest
    // overlap the verify stage admits, found by BigInt search on
    // floor((2*o*1e4 + n) / (2n)) >= t*1e4 — no shared derivation with
    // the ceil-division form under test. Law: the filter must admit
    // rk = requiredLen (lossless) and reject rk = requiredLen + 3
    // (tight up to the documented +-1-ulp guard of 2).
    import spark.implicits._
    val thresholds = Seq(0.5, 0.6667, 0.8, 0.9, 0.95, 0.9999)
    val ns = ((1L to 2000L) ++ (19990L to 20010L) ++ (199995L to 200005L) ++
      Seq(1000000L, 9999999L)).distinct
    def requiredLen(n: Long, t: Double): Long = {
      val T = BigInt(math.round(t * 10000))
      def admits(o: Long): Boolean =
        (BigInt(2) * o * 10000 + n) / (BigInt(2) * n) >= T  // BigInt / floors
      // binary search for the smallest admitted o (admits is monotone in o;
      // o = n is always admitted: rfloor(n/n,4) = 1 >= t)
      var lo = 1L; var hi = n
      while (lo < hi) { val mid = (lo + hi) / 2; if (admits(mid)) hi = mid else lo = mid + 1 }
      n - lo + 1
    }
    for (t <- thresholds) {
      val sql = Dedup.containmentPrefixFilterSql(t)
      val rows = ns.flatMap { n =>
        val req = requiredLen(n, t)
        Seq((n, req, true), (n, req + 3, false)).filter(_._2 >= 1)
      }
      val got = rows.toDF("n", "rk", "expect")
        .withColumn("adm", expr(s"($sql)"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      val bad = got.filter(g => g._3 != g._4)
      assert(bad.isEmpty,
        s"t=$t: ${bad.length} bound violations, first 3: ${bad.take(3).toSeq}")
    }
  }

  test("passage dedup: exact-copy docs lose every passage, totals preserved") {
    val corpus = Corpus.docCorpus(documents)
    val out = Dedup.passageDedup(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.length === corpus.count())
    // an exact copy (+100000) repeats every passage of its original, whose
    // (doc_id, pos) rank is always smaller -> zero survivors
    val copies = out.filter(t => t._1 >= 100000 && t._1 < 200000)
    assert(copies.nonEmpty && copies.forall(_._3 == 0),
      s"exact-copy docs kept passages: ${copies.filter(_._3 != 0).take(3).toSeq}")
    // kept <= total everywhere; survivors' reassembled text is non-empty
    assert(out.forall(t => t._3 <= t._2))
    assert(out.forall(t => (t._3 == 0) == t._4.isEmpty))
  }

  test("url dedup: canonical urls unique, duplicate counts cover the corpus") {
    val out = Dedup.urlDedup(documents).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val urls = out.map(_._2)
    assert(urls.distinct.length === urls.length, "survivor canonical URLs not unique")
    assert(out.map(_._3).sum === documents.count(), "n_dups must partition the corpus")
    assert(urls.forall(u => !u.contains("utm_") && !u.contains("#")))
  }

  test("knn join agrees with single-query top-k search for query 0") {
    val single = Similarity.topkSearch(embeddings, queryId = 0, k = 3)
      .collect().map(_.getLong(0)).toSeq
    val batch = Similarity.knnJoin(embeddings)
      .filter(col("q_id") === 0).orderBy("rn")
      .collect().map(_.getLong(1)).toSeq
    assert(batch === single, s"batch $batch != single $single")
  }

  test("oracle-hash minhash candidates cover every exact-duplicate pair") {
    val corpus = Corpus.docCorpus(documents)
    val cands = Dedup.minhashBandedOracle(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical text -> identical signatures -> every band collides
    val exactPairs = documents.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0))
      .map(d => (d, d + 100000L)).toSet
    val missed = exactPairs -- cands
    assert(missed.isEmpty, s"exact-dup pairs missed by banding: ${missed.take(3)}")
    cands.foreach { case (a, b) => assert(a < b) }
  }

  test("oracle-hash simhash: exact copies collide, near copies stay close") {
    val corpus = Corpus.docCorpus(documents)
    val fps = Dedup.simhashOracle(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactIds = documents.filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    exactIds.foreach { d => assert(fps(d) === fps(d + 100000L), s"copy of $d diverged") }
    val nearIds = documents.filter(col("doc_id") % 10 === 5)
      .select("doc_id").collect().map(_.getLong(0))
    val dists = nearIds.map(d => java.lang.Long.bitCount(fps(d) ^ fps(d + 200000L)))
    assert(dists.sum.toDouble / dists.length <= 6.0,
      s"near-dup mean Hamming distance too large: ${dists.sum.toDouble / dists.length}")
  }

  test("zipf profile: ranks are dense and frequencies non-increasing") {
    val out = TextAnalysis.zipfProfile(documents).collect()
    assert(out.map(_.getLong(0)).toSeq === (1L to out.length))
    val ns = out.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    // shares are individually rounded to 6dp, so the sum can exceed 1 by
    // at most 5e-7 per row
    assert(out.map(_.getDouble(4)).sum <= 1.0 + 5e-7 * out.length)
  }

  test("bucketed semantic dedup keeps originals and drops injected near-dups") {
    val survivors = Dedup.embeddingBucketedDedup(Corpus.vecCorpus(embeddings))
      .collect().map(_.getLong(0)).toSet
    val originals = embeddings.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(originals.subsetOf(survivors), "an original vector was dropped")
    val injected = originals.filter(_ % 10 == 0).map(_ + 100000L)
    val escaped = injected & survivors
    // sign-bit flips can let a few perturbed vectors escape their bucket
    assert(escaped.size <= injected.size / 2,
      s"${escaped.size}/${injected.size} near-dups escaped the bucketing")
  }

  test("lm score: frequencies >= 1, ratios in range, bigram counts correct") {
    val out = TextAnalysis.lmScore(documents).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(2) >= 1.0, s"mean_bf < 1: $r")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    val sample = documents.orderBy("doc_id").select("doc_id", "text").first()
    val expect = sample.getString(1).split(" ").length - 1
    assert(out.find(_.getLong(0) == sample.getLong(0)).get.getLong(1) === expect)
  }

  test("quality-filter pipeline only chunks docs passing BOTH signals") {
    val out = TrainingPrep.qualityFilter(documents).collect()
    assert(out.nonEmpty)
    val chunkedDocs = out.map(_.getLong(0)).toSet
    val q = TextAnalysis.qualityScore(documents).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val bf = TextAnalysis.lmScore(documents).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val expected = q.keySet.filter(d => q(d) >= 0.59 && bf(d) >= 30.0)
    assert(chunkedDocs === expected, "chunked set != docs passing both thresholds")
    assert(expected.size < q.size, "filter dropped nothing — thresholds toothless")
  }

  test("banded clustering groups exact copies with their originals") {
    val corpus = Corpus.docCorpus(documents)
    val clusters = Dedup.nearDupClustersBanded(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactIds = documents.filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    exactIds.foreach { d =>
      val copy = clusters.get(d + 100000L)
      assert(copy.isDefined, s"copy of $d missing from cluster labels")
      assert(copy === clusters.get(d),
        s"copy of $d not in its original's cluster")
    }
    assert(clusters.size === corpus.count())
  }

  test("audio decode branch is a real WAV parser: known PCM -> exact RMS") {
    // synthWav maps byte b to sample (b-128)*256; constant byte 200 →
    // every sample 18432 → RMS of every window exactly 18432/32768
    val const = Multimodal.synthWav(Array.fill(160)(200.toByte))
    val f = Multimodal.decodeWav(const)
    assert(f.length === 8)
    f.foreach(v => assert(math.abs(v - 18432.0 / 32768.0) < 1e-12))
    // silence (byte 128 → sample 0) decodes to zero energy
    Multimodal.decodeWav(Multimodal.synthWav(Array.fill(64)(128.toByte)))
      .foreach(v => assert(v === 0.0))
    // the parser genuinely validates structure, not just length
    val bad = const.clone(); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.decodeWav(bad))
    // a negative/oversized chunk length is a parse error, not a hang:
    // corrupt the fmt chunk's length field (offset 16, little-endian)
    val evil = const.clone()
    evil(16) = 0xF8.toByte; evil(17) = 0xFF.toByte
    evil(18) = 0xFF.toByte; evil(19) = 0xFF.toByte
    intercept[IllegalArgumentException](Multimodal.decodeWav(evil))
    // end-to-end through the batched pipeline: an audio item's features
    // are the WAV-decoded energies, not a byte-hash stub
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val audio = Multimodal.decodeFeatures(Multimodal.asMediaItems(documents))
      .filter(col("kind") === "audio").head()
    assert(audio.feature.forall(v => v >= 0.0 && v <= 1.0),
      "audio features must be PCM RMS energies in [0,1]")
  }

  test("image decode branch is a real PPM parser: known raster -> exact intensity") {
    // synthPpm writes gray pixel = byte; constant 51 → intensity 51/255 = 0.2
    val const = Multimodal.synthPpm(Array.fill(64)(51.toByte))
    val f = Multimodal.decodePpm(const)
    assert(f.length === 8)
    f.foreach(v => assert(math.abs(v - 51.0 / 255.0) < 1e-12))
    // header parsing is genuine: comments tolerated, bad magic rejected
    val withComment = ("P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII") ++
      Array.fill(12)(255.toByte))
    Multimodal.decodePpm(withComment).foreach(v => assert(v === 1.0))
    val bad = const.clone(); bad(1) = '5'.toByte
    intercept[IllegalArgumentException](Multimodal.decodePpm(bad))
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val img = Multimodal.decodeFeatures(Multimodal.asMediaItems(documents))
      .filter(col("kind") === "image").head()
    assert(img.feature.forall(v => v >= 0.0 && v <= 1.0),
      "image features must be mean intensities in [0,1]")
  }

  test("video decode branch is a real y4m parser: known frames -> exact luma means") {
    // synthY4m writes luma pixel = source byte; constant 51 over 8 frames
    // → every frame's mean luma exactly 51/255 = 0.2
    val const = Multimodal.synthY4m(Array.fill(512)(51.toByte))
    val f = Multimodal.decodeY4m(const)
    assert(f.length === 8)
    f.foreach(v => assert(math.abs(v - 51.0 / 255.0) < 1e-12))
    // per-FRAME values decode independently: frame f all-bytes f*30 →
    // 8 distinct exact means in frame order
    val ramp = Multimodal.synthY4m(Array.tabulate(512)(i => ((i / 64) * 30).toByte))
    Multimodal.decodeY4m(ramp).zipWithIndex.foreach { case (v, i) =>
      assert(math.abs(v - (i * 30) / 255.0) < 1e-12, s"frame $i mean")
    }
    // a hand-written C420 stream with chroma subsampling parses too:
    // 2x2 luma [0,255,255,255] + 1+1 chroma bytes per frame
    val c420 = ("YUV4MPEG2 W2 H2 F30:1 C420jpeg\n".getBytes("US-ASCII") ++
      "FRAME\n".getBytes("US-ASCII") ++
      Array[Byte](0, -1, -1, -1) ++ Array[Byte](100, 100))
    Multimodal.decodeY4m(c420).foreach(v =>
      assert(math.abs(v - (3 * 255.0 / 4) / 255.0) < 1e-12))
    // ODD dimensions: C420 chroma planes are ceil(w/2)*ceil(h/2) per the
    // spec — a 3x3 frame carries 9 luma + 2*(2*2) chroma bytes; a naive
    // wh/2 stride would desync the walk and reject this valid stream
    val odd = ("YUV4MPEG2 W3 H3 F30:1 C420\n".getBytes("US-ASCII") ++
      "FRAME\n".getBytes("US-ASCII") ++
      Array.fill[Byte](9)(102.toByte) ++ Array.fill[Byte](8)(7.toByte))
    Multimodal.decodeY4m(odd).foreach(v => assert(math.abs(v - 102.0 / 255.0) < 1e-12))
    // high-bit-depth colorspaces (2 bytes/sample) must be REJECTED, not
    // walked with 8-bit strides
    val p10 = ("YUV4MPEG2 W2 H2 F30:1 C420p10\n".getBytes("US-ASCII") ++
      "FRAME\n".getBytes("US-ASCII") ++ Array.fill[Byte](12)(1.toByte))
    intercept[IllegalArgumentException](Multimodal.decodeY4m(p10))
    // structure genuinely validated: bad magic, missing FRAME marker,
    // truncated frame are parse errors, not garbage features
    val bad = const.clone(); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.decodeY4m(bad))
    intercept[IllegalArgumentException](
      Multimodal.decodeY4m(const.dropRight(10)))
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val vid = Multimodal.decodeFeatures(Multimodal.asMediaItems(documents))
      .filter(col("kind") === "video").head()
    assert(vid.feature.forall(v => v >= 0.0 && v <= 1.0),
      "video features must be mean lumas in [0,1]")
  }

  // The public calls finish small edge sets on the driver; `pinned` is the
  // private[graft] seam (driverMaxEdges < 0) that keeps every round
  // distributed, so the specs below still exercise the star loop itself.
  private val pinned = -1L

  /** Independent second opinion for [[Dedup.clustersFromPairs]]:
    * min-label propagation to its fixpoint on the driver, every node
    * labelled with its component's minimum, node-ascending. It shares
    * neither code nor algorithm with the star rounds or the union-find
    * finish. */
  private def minLabelReference(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val label = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    var changed = true
    while (changed) {
      changed = false
      pairs.foreach { case (a, b) =>
        val m = math.min(label(a), label(b))
        if (label(a) != m || label(b) != m) { label(a) = m; label(b) = m; changed = true }
      }
    }
    nodes.sorted.map(v => v -> label(v))
  }

  private def labelRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Driver actions (Dataset head/count/collect) run by `f`, by funcName,
    * in order — not raw Spark jobs: lazy-localCheckpoint catch-up work
    * spawns internal jobs that are not actions, and a LAZY
    * localCheckpoint reports as funcName="checkpoint" without running
    * any job. A child session isolates the listener. */
  private def actionsDuring(f: org.apache.spark.sql.SparkSession => Unit): Seq[String] = {
    val s2 = spark.newSession()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        if (funcName == "head" || funcName == "count" || funcName == "collect") {
          actions.add(funcName)
        }
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    // the listener bus is async — drain it deterministically before
    // reading the queue (a stability-poll heuristic flaked under load)
    try {
      f(s2)
      org.apache.spark.GraftBus.drain(s2.sparkContext, 30000)
      scala.jdk.CollectionConverters.IterableHasAsScala(actions).asScala.toSeq
    } finally s2.listenerManager.unregister(listener)
  }

  test("large/small-star clusters a chain whose diameter exceeds min-label rounds") {
    import spark.implicits._
    // a 400-long chain: component diameter 400, far beyond the loop's
    // 30-round runaway bound — a diameter-round algorithm could not
    // finish it, large/small-star needs O(log n) rounds
    val n = 400L
    val corpus = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = labelRows(Dedup.clustersFromPairs(corpus, pairs, driverMaxEdges = pinned))
    assert(labels.length === n.toInt)
    assert(labels.map(_._1).toSet === (0L until n).toSet)
    assert(labels.forall(_._2 == 0L), "chain must collapse to root 0")
  }

  test("large/small-star hands a 400-node chain to the driver once its edge count is under the bound") {
    // A connected component of n nodes keeps at least n-1 edges in every
    // round, so a chain given once per link never shrinks (399 edges
    // each round). Given in BOTH orientations it starts at 798 edge
    // rows, and the first round's canonical (big → small) output is 399:
    // with the bound between the two, exactly one round runs distributed
    // and the driver finishes the rest.
    val n = 400L
    val links = (0L until n - 1).map(i => (i, i + 1))
    val both = links ++ links.map(_.swap)
    def run(bound: Long)(s: org.apache.spark.sql.SparkSession): Seq[(Long, Long)] = {
      import s.implicits._
      labelRows(Dedup.clustersFromPairs((0L until n).toDF("doc_id"),
          both.toDF("a_id", "b_id"), driverMaxEdges = bound))
    }
    val expected = (0L until n).map(_ -> 0L)
    var handOff = Seq.empty[(Long, Long)]
    // actions (the pair checkpoint's RDD count is not a Dataset action):
    // initial fingerprint, one round's fingerprint, the guarded edge
    // collect, then the test's own collect of the result
    assert(actionsDuring(s => handOff = run(600L)(s)) ===
      Seq("head", "head", "collect", "collect"))
    assert(handOff === expected)
    // the same answer from the pinned loop, which never collects edges
    var distributed = Seq.empty[(Long, Long)]
    val pinnedActions = actionsDuring(s => distributed = run(pinned)(s))
    assert(pinnedActions.count(_ == "head") > 2 && pinnedActions.count(_ == "collect") === 1,
      pinnedActions)
    assert(distributed === expected)
  }

  test("property: large/small-star == min-label connected components on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // random edge sets over 40 nodes: mixes isolated nodes, stars, chains
    // and dense blobs — the pinned star loop must produce the labelling
    // of the driver-side min-label reference, in row order
    val genEdges: Gen[List[(Long, Long)]] = Gen.listOf(
      for {
        a <- Gen.chooseNum(0L, 39L)
        b <- Gen.chooseNum(0L, 39L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(10)
      .withInitialSeed(org.scalacheck.rng.Seed(7L))
    val ids = 0L until 40L
    val nodes = ids.toDF("doc_id")
    val res = SCTest.check(params, Prop.forAll(genEdges) { edges =>
      val pairs = edges.distinct.toDF("a_id", "b_id")
      labelRows(Dedup.clustersFromPairs(nodes, pairs, driverMaxEdges = pinned)) ==
        minLabelReference(ids, edges)
    })
    assert(res.passed, s"component-equivalence property failed: $res")
  }

  test("property: driver finish == star loop == min-label reference on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    // graphs of 1-40 nodes; pairs are drawn with replacement (duplicate
    // pairs) and usually miss some nodes (isolated nodes). The public
    // call finishes on the driver at this size; the references are the
    // pinned loop and the driver-side min-label propagation, compared in
    // output row order (doc_id ascending).
    val genGraph: Gen[(Long, List[(Long, Long)])] = for {
      n <- Gen.chooseNum(1L, 40L)
      pairs <- Gen.listOf(for {
        a <- Gen.chooseNum(0L, n - 1)
        b <- Gen.chooseNum(0L, n - 1) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n, pairs)
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(10)
      .withInitialSeed(org.scalacheck.rng.Seed(11L))
    val res = SCTest.check(params, Prop.forAll(genGraph) { case (n, edges) =>
      val nodes = (0L until n).toDF("doc_id")
      val pairs = edges.toDF("a_id", "b_id")
      val driver = labelRows(Dedup.clustersFromPairs(nodes, pairs))
      val loop = labelRows(Dedup.clustersFromPairs(nodes, pairs, driverMaxEdges = pinned))
      driver == loop && driver == minLabelReference(0L until n, edges)
    })
    assert(res.passed, s"driver-finish equivalence property failed: $res")
  }

  test("large/small-star convergence runs ONE driver action per round") {
    // bound None = the public call's default bound
    def actionsFor(pairs: Seq[(Long, Long)], bound: Option[Long]): Seq[String] =
      actionsDuring { s2 =>
        import s2.implicits._
        val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toDF("doc_id")
        val edges = pairs.toDF("a_id", "b_id")
        bound.fold(Dedup.clustersFromPairs(nodes, edges))(b =>
          Dedup.clustersFromPairs(nodes, edges, driverMaxEdges = b))
        ()
      }
    val star = Seq((1L, 2L), (1L, 3L))
    val chain = Seq((1L, 2L), (2L, 3L))
    // pinned loop. star {1-2, 1-3}: already a star forest -> fixpoint
    // after 1 round. expected actions = 1 (initial fingerprint, which
    // also materializes the lazy edge checkpoint) + 1 round = 2; the
    // pair checkpoint's RDD count is not a Dataset action. The round-4
    // implementation (exceptAll.count + count per round) cost 2 actions
    // per round and would fail these exact counts.
    assert(actionsFor(star, Some(pinned)).size === 2)
    // chain {1-2, 2-3}: one restructuring round plus the fixpoint round
    // -> 1 + 2 = 3 actions
    assert(actionsFor(chain, Some(pinned)).size === 3)
    // the public call: the RDD count, then the guarded edge collect of
    // the driver finish — no fingerprint, no round
    assert(actionsFor(star, None) === Seq("collect"))
    assert(actionsFor(chain, None) === Seq("collect"))
  }

  test("large/small-star matches min-label propagation on banded candidates") {
    val corpus = Corpus.docCorpus(documents)
    val cand = Dedup.minhashBandedCandidates(corpus)
    val viaStars = labelRows(Dedup.clustersFromPairs(corpus, cand, driverMaxEdges = pinned))
    val reference = minLabelReference(
      corpus.select("doc_id").collect().map(_.getLong(0)).toSeq.distinct,
      cand.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(viaStars === reference)
    assert(reference.exists { case (d, c) => d != c }, "no candidate pair — comparison vacuous")
    // and the public call's driver finish agrees
    assert(labelRows(Dedup.nearDupClustersBanded(corpus)) === reference)
  }

  test("large/small-star over exact Jaccard pairs matches the public nearDupClusters") {
    // dedup_cluster's path above the driver-finish bound: the pinned
    // loop over the same ngramJaccardPairs the public call clusters
    val corpus = Corpus.docCorpus(documents)
    val viaStars = labelRows(
      Dedup.clustersFromPairs(corpus, Dedup.ngramJaccardPairs(corpus), driverMaxEdges = pinned))
    assert(viaStars === labelRows(Dedup.nearDupClusters(corpus)))
    assert(viaStars.exists { case (d, c) => d != c }, "no Jaccard pair — comparison vacuous")
  }

  test("embedding delta dedup: drop same-bucket near-dups, keep bucket escapes and far vectors") {
    import spark.implicits._
    // hand-built vectors exercising every branch (the sf0.01 oracle row
    // for dedup_embedding_delta is 0-vs-0 — every delta rejected — so the
    // SURVIVOR paths need this direct gate):
    //  - vec 10: exact copy of the index vector, same sign bucket -> DROP
    //  - vec 11: same bucket but cosine ~0.47 < 0.99 -> SURVIVE
    //  - vec 12: cosine ~1.0 near-dup whose first component's sign flip
    //    lands it in a DIFFERENT bucket -> SURVIVES by bucket escape (the
    //    documented sign-LSH recall tradeoff)
    val base = Array(1e-4, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    val index = Seq((1L, base.toSeq)).toDF("vec_id", "v")
    val delta = Seq(
      (10L, base.toSeq),
      (11L, Seq(5.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)),
      (12L, Seq(-1e-4, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0))
    ).toDF("vec_id", "v")
    val kept = Dedup.embeddingDeltaDedup(index, delta)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L, 12L))
  }

  test("incremental dedup: exact copies always rejected, near-dup rejection >= 0.8") {
    val corpus = Corpus.docCorpus(documents)
    val survivors = Dedup.incrementalDedup(
        corpus.filter(col("doc_id") < 100000),
        corpus.filter(col("doc_id") >= 100000))
      .collect().map(_.getLong(0)).toSet
    // exact copies (+100000) share every band with their original
    assert(survivors.forall(_ >= 200000L),
      s"exact copies survived the index probe: ${survivors.filter(_ < 200000L)}")
    val near = knownPairs(near = true).map(_._2)
    val rejected = 1.0 - survivors.size.toDouble / near.size
    assert(rejected >= 0.8, s"near-dup rejection $rejected < 0.8")
  }

  test("dedup_exact removes exactly the injected duplicates") {
    val corpus = Corpus.docCorpus(documents)
    val deduped = Dedup.exact(corpus)
    val expectDups = knownPairs(near = false).size
    assert(deduped.count() === corpus.count() - expectDups)
    // survivors are the min doc_id per text: no survivor in the +100000 range
    assert(deduped.filter(col("doc_id").between(100000, 199999)).count() === 0)
  }

  test("bloom prefilter dedup equals the exact anti-join at ANY filter size") {
    val corpus = Corpus.docCorpus(documents)
    val index = corpus.filter(col("doc_id") < 100000)
    val batch = corpus.filter(col("doc_id") >= 100000)
    val expected = batch.select(col("doc_id"), col("n_chars"), md5(col("text")).as("d"))
      .join(index.select(md5(col("text")).as("d")), Seq("d"), "left_anti")
      .select("doc_id", "n_chars").collect().map(_.getLong(0)).toSet
    // well-sized filter AND a pathological 64-bit one (false-positive
    // rate near 1): exactness must not depend on sizing — the bloom has
    // no false negatives and every hit is anti-join-confirmed
    for (bits <- Seq(1L << 20, 64L)) {
      val got = Dedup.bloomPrefilterDedup(index, batch, numBits = bits)
        .collect().map(_.getLong(0)).toSet
      assert(got === expected, s"numBits=$bits")
    }
  }

  test("bloom prefilter dedup: empty index keeps the whole batch") {
    val corpus = Corpus.docCorpus(documents)
    val batch = corpus.filter(col("doc_id") >= 100000)
    val kept = Dedup.bloomPrefilterDedup(corpus.filter(col("doc_id") < 0), batch)
    assert(kept.count() === batch.count())
  }

  test("persisted bloom epoch artifact: built once, reloaded byte-identical, same answer") {
    val corpus = Corpus.docCorpus(documents)
    val index = corpus.filter(col("doc_id") < 100000)
    val batch = corpus.filter(col("doc_id") >= 100000)
    // distinct epoch per test run so the first call genuinely BUILDS
    val epoch = System.currentTimeMillis()
    val built = Dedup.ensureBloomIndex(spark, index, epoch)
    val reloaded = Dedup.ensureBloomIndex(spark, index, epoch)
    assert(built != null && java.util.Arrays.equals(built, reloaded),
      "second epoch call must reload the persisted bytes unchanged")
    val viaArtifact = Dedup.bloomPrefilterDedupPersisted(spark, index, batch, epoch)
      .collect().map(_.getLong(0)).toSeq
    val inMemory = Dedup.bloomPrefilterDedup(index, batch)
      .collect().map(_.getLong(0)).toSeq
    assert(viaArtifact === inMemory)
  }

  test("persisted bloom epoch artifact: empty index persists the null filter") {
    val corpus = Corpus.docCorpus(documents)
    val empty = corpus.filter(col("doc_id") < 0)
    // far from the other artifact test's epoch window (same srcTag —
    // both filters read the same parquet source)
    val epoch = System.currentTimeMillis() + 1000000000L
    assert(Dedup.ensureBloomIndex(spark, empty, epoch) == null) // build path
    assert(Dedup.ensureBloomIndex(spark, empty, epoch) == null) // reload path (0-length file)
    val batch = corpus.filter(col("doc_id") >= 100000)
    assert(Dedup.bloomPrefilterDedupPersisted(spark, empty, batch, epoch).count()
      === batch.count())
  }

  test("pipeline_dedup_ordered: exact stage first, containment on survivors, mutual pairs keep min id") {
    import spark.implicits._
    val long = (1 to 20).map(i => s"x$i").mkString(" ") // 18 shingles
    val corpus = Seq(
      (1L, "a b c d e f g", 13L),        // exact-dup group {1,2}: 1 survives
      (2L, "a b c d e f g", 13L),        //   -> dropped at stage 1
      (3L, "x1 x2 x3 x4 x5", 14L),       // 3 shingles, all inside doc 4 ->
      (4L, long, long.length.toLong),    //   one-way containment, 3 drops
      (5L, "w1 w2 w3 w4 w5 w6 w7", 20L), // mutual pair {5,6}: 4 of 5
      (6L, "w1 w2 w3 w4 w5 w6 w8", 20L), //   shingles shared both ways
      (7L, "totally unrelated content here now", 34L))
      .toDF("doc_id", "text", "n_chars")
    val got = Dedup.orderedDedup(corpus).collect().map(_.getLong(0)).toSeq
    // 2 drops (exact), 3 drops (contained in 4), mutual {5,6} keeps 5
    assert(got === Seq(1L, 4L, 5L, 7L))
  }

  test("semantic dedup (SemDeDup) matches an in-memory reference exactly") {
    val got = Dedup.semanticDedup(Corpus.vecCorpus(embeddings))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rebuild the corpus driver-side: float→double cast then the same
    // perturbation law as Corpus.vecCorpus
    val raw = embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val corpus: Map[Long, Array[Double]] = raw ++ raw.collect {
      case (id, v) if id % 10 == 0 => (id + 100000L) -> v.map(x => x * 1.01 + 0.001)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def rnd(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    // hash-spread seed pick, same multiplicative-hash order as the op
    val seeds = corpus.keys.toSeq
      .sortBy(id => (((id % 2147483648L) * 2654435761L) % 2147483648L, id)).take(8)
    val assign: Map[Long, (Long, Double)] = corpus.map { case (id, v) =>
      val (sid, dd) = seeds.map(s =>
        (s, rnd(dot(v, v) - 2.0 * dot(v, corpus(s)) + dot(corpus(s), corpus(s)), 6)))
        .minBy { case (s, d) => (d, s) }
      id -> (sid, dd)
    }
    val norms = corpus.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    def cos(a: Long, b: Long): Double = {
      val den = norms(a) * norms(b)
      if (den == 0) Double.NegativeInfinity // nonzeroDenom: never a dup
      else rnd(dot(corpus(a), corpus(b)) / den, 4)
    }
    val ids = corpus.keys.toSeq
    val dropped = ids.filter { a =>
      val (ca, da) = assign(a)
      ids.exists { b =>
        b != a && assign(b)._1 == ca && cos(a, b) >= 0.99 &&
          (assign(b)._2 > da || (assign(b)._2 == da && b < a))
      }
    }.toSet
    val want = assign.collect { case (id, (c, _)) if !dropped(id) => id -> c }
    assert(got === want)
    // the op must actually PRUNE: most injected twins lose one member
    // (a twin escapes only if the pair straddles a cluster boundary)
    val injected = raw.keys.filter(_ % 10 == 0).toSeq
    val pruned = injected.count(id => dropped(id) || dropped(id + 100000L))
    assert(pruned >= injected.size * 8 / 10, s"$pruned/${injected.size} twins pruned")
  }

  test("trained semantic dedup: deterministic, prunes twins, separates known blobs") {
    import spark.implicits._
    // two well-separated blobs + an exact near-dup inside each: Lloyd
    // from the WORST seed init must still split the blobs, and the
    // prune keeps the far member. Ids are chosen so the hash-spread
    // pick is genuinely degenerate: under h(id) = (id·2654435761) mod
    // 2³¹ the two lowest ranks among these six are ids 17 and 34 —
    // BOTH in blob A (ranks: 17, 34, 51, 13, 30, 47) — so the k=2
    // init starts one-sided and only the Lloyd iterations can separate
    // the blobs (with iters=0 the plain seed E-step provably cannot)
    val blobs = Seq(
      (17L, Seq(10.0, 0.0, 0.0)), (34L, Seq(10.5, 0.0, 0.0)),
      (51L, Seq(10.4, 0.1, 0.0)),
      (13L, Seq(0.0, 10.0, 0.0)), (30L, Seq(0.0, 10.4, 0.1)),
      (47L, Seq(0.0, 10.5, 0.0))).toDF("vec_id", "v")
    val out = Dedup.semanticDedupTrained(blobs, k = 2, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the two blobs land in different clusters
    val aClusters = Set(17L, 34L, 51L).flatMap(out.get)
    val bClusters = Set(13L, 30L, 47L).flatMap(out.get)
    assert((aClusters & bClusters).isEmpty, out)
    // every blob keeps ≥1 member and near-identical pairs collapse
    assert(aClusters.nonEmpty && bClusters.nonEmpty)
    assert(out.size < 6, s"no pruning happened: $out")

    // corpus: deterministic across runs; the injected twins prune like
    // the seed path (each twin pair loses a member unless it straddles
    // a cluster boundary)
    val vc = Corpus.vecCorpus(embeddings)
    val r1 = Dedup.semanticDedupTrained(vc).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val r2 = Dedup.semanticDedupTrained(vc).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r1 === r2, "Lloyd training must be run-to-run deterministic")
    val survivors = r1.map(_._1).toSet
    val injected = embeddings.select("vec_id").collect().map(_.getLong(0)).filter(_ % 10 == 0)
    val pruned = injected.count(id => !survivors(id) || !survivors(id + 100000L))
    assert(pruned >= injected.length * 8 / 10, s"$pruned/${injected.length} twins pruned")
  }

  test("dsir weights: token counts exact; en scores above non-en per token") {
    val out = TrainingPrep.dsirWeights(documents).collect()
    val meta = documents.select("doc_id", "lang", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out.length == meta.size)
    // n_tokens must equal the whitespace split length (trailing empties
    // kept — Spark's split semantics)
    out.foreach { r =>
      assert(r.getLong(1) == meta(r.getLong(0))._2.split(" ", -1).length.toLong,
        s"token count mismatch for doc ${r.getLong(0)}")
    }
    // the importance signal must separate target from non-target: the
    // mean per-token weight of en docs exceeds the non-en mean (en
    // tokens populate high cnt_t buckets; zh/de/... tokens don't)
    def meanPerTok(en: Boolean) = {
      val rs = out.filter(r => (meta(r.getLong(0))._1 == "en") == en)
      rs.map(r => r.getLong(2).toDouble / r.getLong(1)).sum / rs.length
    }
    assert(meanPerTok(true) > meanPerTok(false),
      s"en ${meanPerTok(true)} !> other ${meanPerTok(false)}")
  }

  test("decontamination flags exactly the train docs sharing a 13-gram with the test split") {
    val got = TrainingPrep.decontaminate(documents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // independent reference: same md5 split law, sliding-window grams
    val rows = documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    def split(id: Long): String = refSplit(id)
    def grams(t: String): Set[String] =
      t.split(" ", -1).sliding(13).filter(_.length == 13).map(_.mkString(" ")).toSet
    val ev = rows.filter(r => split(r._1) == "test").flatMap(r => grams(r._2)).toSet
    val want = rows.filter(r => split(r._1) == "train")
      .map(r => r._1 -> (if (grams(r._2).intersect(ev).nonEmpty) 1 else 0)).toMap
    assert(got === want)
    // the corpus carries NATURAL 13-gram leakage (1 doc at sf0.001, 5 at
    // sf0.01) — the flag must actually fire, and must not fire everywhere
    assert(got.values.sum >= 1 && got.values.sum < got.size / 10,
      s"${got.values.sum}/${got.size} flagged")
  }

  test("contamination report: counts replay from raw grams, flag is the exact 1/20 compare (r8)") {
    val got = TrainingPrep.contaminationReport(documents).collect()
      .map(r => r.getLong(0) -> r).toMap
    val rows = documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    def grams(t: String): Set[String] =
      t.split(" ", -1).sliding(13).filter(_.length == 13).map(_.mkString(" ")).toSet
    val ev = rows.filter(r => refSplit(r._1) == "test").flatMap(r => grams(r._2)).toSet
    val train = rows.filter(r => refSplit(r._1) == "train").toMap
    assert(got.keySet === train.keySet)
    train.foreach { case (id, t) =>
      val g = grams(t); val h = g.intersect(ev)
      val r = got(id)
      assert(r.getLong(1) === g.size.toLong, s"n_grams@$id")
      assert(r.getLong(2) === h.size.toLong, s"n_hits@$id")
      if (g.isEmpty) assert(r.isNullAt(3))
      else assert(r.getDouble(3) ===
        math.floor(h.size.toDouble / g.size * 1e6 + 0.5) / 1e6, s"frac@$id")
      assert(r.getInt(4) === (if (g.nonEmpty && h.size * 20 >= g.size) 1 else 0), s"flag@$id")
    }
    // consistency with the drop-flag twin: contaminated ⟺ n_hits ≥ 1
    val dec = TrainingPrep.decontaminate(documents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (id, r) =>
      assert((r.getLong(2) > 0) === (dec(id) == 1), s"twin@$id")
    }
  }

  test("group split: source-coherent by law, and the doc-level split does straddle sources (r8)") {
    val got = TrainingPrep.splitAssignGrouped(documents).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.nonEmpty)
    // the law itself: split = md5 first-hex-digit of the GROUP key,
    // doc_split the same law on doc_id — so group coherence follows by
    // construction AND by direct check
    got.foreach { case (id, src, sp, dsp) =>
      assert(sp === refSplitKey(src), s"group law@$id")
      assert(dsp === refSplit(id), s"doc law@$id")
    }
    got.groupBy(_._2).foreach { case (src, rs) =>
      assert(rs.map(_._3).distinct.length === 1, s"source $src straddles splits")
    }
    // the leakage argument is non-vacuous on this corpus: at least one
    // source's docs straddle splits under DOC-level hashing
    assert(got.groupBy(_._2).exists(_._2.map(_._4).distinct.length > 1),
      "doc-level split never straddles a source — contrast is vacuous")
    // and the group split keeps all three splits populated
    assert(got.map(_._3).distinct.sorted.toSeq === Seq("test", "train", "val"))
  }

  test("count-min: full sketch replay, estimates dominate exact counts (r8)") {
    val got = graft.ops.Aggregates.countMinTokens(documents).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val params = Seq((31L, 1000000007L), (131L, 999999937L),
      (137L, 999999893L), (257L, 998244353L))
    def fp(s: String, m: Long, mod: Long): Long = {
      var a = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        a = (a * m + cp) % mod
        i += Character.charCount(cp)
      }
      a
    }
    val rows = documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    val tokens = rows.flatMap { case (id, t) => t.split(" ", -1).map(id -> _) }
    // sketch replay: depth×width cell counts from the same folds
    val sketch = new scala.collection.mutable.HashMap[(Int, Long), Long]().withDefaultValue(0L)
    tokens.foreach { case (_, tok) =>
      params.zipWithIndex.foreach { case ((m, mod), i) =>
        sketch((i, fp(tok, m, mod) % 512)) += 1L
      }
    }
    val probe = tokens.collect { case (id, tok) if id % 101 == 0 => tok }.toSet
    val exact = tokens.map(_._2).filter(probe).groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    assert(got.map(_._1).toSet === probe)
    got.foreach { case (tok, nExact, nEst, over) =>
      val want = params.zipWithIndex.map { case ((m, mod), i) =>
        sketch((i, fp(tok, m, mod) % 512)) }.min
      assert(nEst === want, s"est@$tok")
      assert(nExact === exact(tok), s"exact@$tok")
      assert(nEst >= nExact, s"CM lower-bound violated@$tok")
      assert(over === nEst - nExact, s"over@$tok")
    }
  }

  test("count-min delta: stored-epoch merge equals a full replay; serve is bit-stable (r8)") {
    val delta = documents.filter(col("doc_id") % 4 === 2)
      .withColumn("doc_id", col("doc_id") + 500000L)
      .withColumn("text", concat(col("text"), lit(" cm delta probe")))
    val got = graft.ops.Aggregates.countMinDelta(spark, documents, delta).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    // brute replay over base ∪ delta with the same folds
    val params = graft.ops.Aggregates.CmParams
    def fp(s: String, m: Long, mod: Long): Long = {
      var a = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i); a = (a * m + cp) % mod; i += Character.charCount(cp)
      }
      a
    }
    val union = documents.select("doc_id", "text").collect() ++
      delta.select("doc_id", "text").collect()
    val tokens = union.flatMap(r =>
      Option(r.getString(1)).getOrElse("").split(" ", -1).map(r.getLong(0) -> _))
    val sketch = new scala.collection.mutable.HashMap[(Int, Long), Long]().withDefaultValue(0L)
    tokens.foreach { case (_, tok) =>
      params.zipWithIndex.foreach { case ((m, mod), i) =>
        sketch((i, fp(tok, m, mod) % 512)) += 1L
      }
    }
    val probe = tokens.collect { case (id, tok) if id >= 500000 && id % 3 == 0 => tok }.toSet
    assert(got.keySet === probe)
    got.foreach { case (tok, est) =>
      val want = params.zipWithIndex.map { case ((m, mod), i) =>
        sketch((i, fp(tok, m, mod) % 512)) }.min
      assert(est === want, s"est@$tok")
    }
    // the synthesized probe token must see BOTH corpora: 'probe' occurs
    // once per delta doc but also rides the sketch with base mass ≥ 0;
    // 'cm' count must be ≥ the delta size (each delta doc appends one)
    val nDelta = delta.count()
    assert(got("cm") >= nDelta)
    // second resolution serves the same stored epoch bit-for-bit
    val again = graft.ops.Aggregates.countMinDelta(spark, documents, delta).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("langid confusion is exactly the regrouped per-doc langid output (r8)") {
    val per = TextAnalysis.langId(documents).collect()
      .map(r => (r.getString(1), r.getString(6)))
    val got = TextAnalysis.langidConfusion(documents).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val cells = per.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val declared = per.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    assert(got.keySet === cells.keySet)
    got.foreach { case ((d, p), (n, nd, share)) =>
      assert(n === cells((d, p)), s"cell $d/$p")
      assert(nd === declared(d), s"declared $d")
      assert(share === math.floor(n.toDouble / nd * 1e4 + 0.5) / 1e4, s"share $d/$p")
    }
    // shares within a declared class sum to ~1 (rounding each cell)
    got.keys.groupBy(_._1).foreach { case (d, ks) =>
      val s = ks.map(k => got(k)._3).sum
      assert(math.abs(s - 1.0) < 1e-3, s"$d shares sum $s")
    }
  }

  test("gopher flags replay from raw text in exact integers; both keep classes fire (r8)") {
    val got = TextAnalysis.gopherFlags(documents).collect()
      .map(r => r.getLong(0) -> r).toMap
    val rows = documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    val stops = Set("the", "a", "of", "is")
    rows.foreach { case (id, t) =>
      val toks = t.split(" ", -1)
      val n = toks.length.toLong
      val sumLen = toks.map(_.length.toLong).sum
      val nAlpha = toks.count(_.exists(c =>
        (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))).toLong
      val nStop = toks.toSet.intersect(stops).size.toLong
      val r = got(id)
      assert(r.getLong(1) === n, s"n@$id")
      assert(r.getDouble(2) === math.floor(sumLen.toDouble / n * 1e4 + 0.5) / 1e4, s"wlen@$id")
      assert(r.getInt(3) === (if (n >= 50 && n <= 100000) 1 else 0), s"count@$id")
      assert(r.getInt(4) === (if (sumLen >= 3 * n && sumLen <= 10 * n) 1 else 0), s"wband@$id")
      assert(r.getInt(5) === (if (nAlpha * 5 >= n * 4) 1 else 0), s"alpha@$id")
      assert(r.getInt(6) === (if (nStop >= 2) 1 else 0), s"stop@$id")
      assert(r.getInt(7) === (if (r.getInt(3) + r.getInt(4) + r.getInt(5) + r.getInt(6) == 4) 1 else 0))
    }
    val keeps = got.values.map(_.getInt(7)).toSeq
    assert(keeps.contains(0) && keeps.contains(1), "rule set gates nothing on this corpus")
  }

  test("length histogram: buckets, waste and shares replay from raw lengths (r8)") {
    val got = TrainingPrep.lengthHistogram(documents).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val lens = documents.select("text").collect()
      .map(r => Option(r.getString(0)).getOrElse("").split(" ", -1).length.toLong)
    val byBucket = lens.groupBy(_ / 16)
    assert(got.keySet === byBucket.keySet)
    val total = lens.sum
    var cum = 0L
    byBucket.keys.toSeq.sorted.foreach { b =>
      val ls = byBucket(b)
      cum += ls.sum
      val (nDocs, nTok, waste, share) = got(b)
      assert(nDocs === ls.size.toLong, s"docs@$b")
      assert(nTok === ls.sum, s"tokens@$b")
      assert(waste === ls.map(l => ((l + 511) / 512) * 512 - l).sum, s"waste@$b")
      assert(share === math.floor(cum.toDouble / total * 1e4 + 0.5) / 1e4, s"share@$b")
    }
    // the planner frame must have shape: several buckets, share reaching 1
    assert(got.size >= 3)
    assert(got(byBucket.keys.max)._4 === 1.0)
  }

  test("delta intake: verdicts compose the individual screens exactly (r8)") {
    val got = TrainingPrep.deltaIntake(spark, documents).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val corpus = Corpus.docCorpus(documents)
    val baseTexts = corpus.filter(col("doc_id") < 100000)
      .select("text").collect().map(_.getString(0)).toSet
    val delta = corpus.filter(col("doc_id") >= 100000)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.keySet === delta.map(_._1).toSet)
    // exact verdict ⟺ text present in the base corpus
    delta.foreach { case (id, t) =>
      assert((got(id) == "dup_exact") === baseTexts(t), s"exact@$id")
    }
    // near verdict ⟺ (non-exact) AND dropped by the persisted probe —
    // the same stored artifact dedup_delta_index serves from
    val survivors = Dedup.incrementalDedupPersisted(spark,
        corpus.filter(col("doc_id") < 100000),
        corpus.filter(col("doc_id") >= 100000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    delta.foreach { case (id, t) =>
      if (!baseTexts(t)) {
        if (!survivors(id)) assert(got(id) === "dup_near", s"near@$id")
        else assert(got(id) == "keep" || got(id) == "low_quality", s"tail@$id")
      }
    }
    // both dup classes fire, and the LSH recall boundary shows honestly
    // as a (small) keep/low_quality tail instead of silent loss
    val verdicts = got.values.toSet
    assert(verdicts.contains("dup_exact") && verdicts.contains("dup_near"))
  }

  test("shard manifest: byte-stable across runs, agrees with the shuffle-shard law (r8)") {
    // r11 type pin: the three-round driver hash-red traced to the one
    // DECIMAL(38,0) output column; the fingerprint is now a mod-2^62
    // BIGINT and must never regress to decimal (the class of divergence
    // the repo's HUGEINT history documents)
    val schema = TrainingPrep.shardManifest(spark, documents, tag = sfDir).schema
    assert(schema.map(f => f.name -> f.dataType.typeName) === Seq(
      "shard" -> "string", "n_docs" -> "long",
      "n_tokens" -> "long", "content_fp" -> "long"))
    // the delivery self-check defaults OFF since r12 (the r8-r10 flake it
    // instrumented is closed) — arm it here so the read-back-vs-source
    // comparison branch stays exercised by the suite
    val m1 = try {
      spark.conf.set("spark.graft.shardManifest.selfCheck", "true")
      TrainingPrep.shardManifest(spark, documents, tag = sfDir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    } finally spark.conf.unset("spark.graft.shardManifest.selfCheck")
    val m2 = TrainingPrep.shardManifest(spark, documents, tag = sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(m1 === m2, "manifest not reproducible across runs")
    // shard doc counts agree with the shuffle-shard assignment law
    val shards = TrainingPrep.shuffleShard(documents).collect()
      .map(_.getString(2)).groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    assert(m1.view.mapValues(_._1).toMap === shards)
    // nothing lost or duplicated between corpus and written files
    assert(m1.values.map(_._1).sum === documents.count())
    // a different seed is a different epoch-order: manifest moves
    val m3 = TrainingPrep.shardManifest(spark, documents, seed = 7L, tag = sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m3 !== m1.view.mapValues(_._1).toMap)
  }

  test("quality classifier: scores replay from the token fold, keep is the exact sign (r8)") {
    val got = TrainingPrep.qualityClassifier(documents).collect()
      .map(r => r.getLong(0) -> r).toMap
    val rows = documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
    def fp(s: String): Long = {
      var a = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        a = (a * 31 + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      a
    }
    assert(got.keySet === rows.map(_._1).toSet)
    rows.foreach { case (id, t) =>
      val toks = t.split(" ", -1)
      val units = toks.map(s => fp(s) % 2001L - 1000L).sum
      val r = got(id)
      assert(r.getLong(1) === toks.length.toLong, s"n_tokens@$id")
      assert(r.getLong(2) === units, s"units@$id")
      assert(r.getDouble(3) ===
        math.floor(units.toDouble / (toks.length * 1000.0) * 1e6 + 0.5) / 1e6, s"score@$id")
      assert(r.getInt(4) === (if (units > 0) 1 else 0), s"keep@$id")
    }
    // a stand-in model must still DISCRIMINATE: both classes present
    val keeps = got.values.map(_.getInt(4)).toSeq
    assert(keeps.contains(1) && keeps.contains(0))
  }

  test("dsir delta through the persisted count table matches the recompute form exactly") {
    val delta = documents.filter(col("doc_id") % 4 === 1)
      .withColumn("doc_id", col("doc_id") + 400000)
      .withColumn("text", concat(col("text"), lit(" dsir delta probe")))
    // the delta ships WITHOUT a lang column — the advertised nightly
    // ingest shape; only the model side needs language (review fix r6)
    val bareDelta = delta.select("doc_id", "text")
    val persisted = TrainingPrep.dsirDeltaPersisted(spark, documents, bareDelta, epoch = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val recomputed = TrainingPrep.dsirWeightsDelta(documents, bareDelta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // integer fixed-point weights → the equality is exact, not approximate
    assert(persisted === recomputed && persisted.nonEmpty)
    // model table keyed by source tag, epoch AND target lang (r7:
    // the tag stops two corpora at one epoch sharing a model)
    val name = TrainingPrep.ensureDsirTable(spark, documents, epoch = 7L)
    assert(name.endsWith("_e7_en") && spark.catalog.tableExists(name))
  }

  test("substring dedup: exact copies carry dup_share 1.0, uniques 0, near-dups in between") {
    val corpus = Corpus.docCorpus(documents)
    val d = Dedup.substringDup(corpus).cache()
    // the injected exact copies (doc_id ≥ 100000, < 200000) share EVERY
    // sliding gram with their base doc → dup_share exactly 1.0
    val copies = d.filter(col("doc_id") >= 100000 && col("doc_id") < 200000)
    assert(copies.count() > 0)
    assert(copies.filter(col("dup_share") =!= 1.0).count() === 0L)
    // near-dups (≥ 200000: 3-word tail appended) keep all base grams →
    // share strictly positive; tail grams are unique UNLESS two naturally
    // identical base docs both sit in the %10==5 stratum (then their near
    // copies are identical to each other and score 1.0 — the corpus has
    // natural full-dups, so gate the population mean, not every row)
    val nears = d.filter(col("doc_id") >= 200000)
    assert(nears.count() > 0)
    assert(nears.filter(col("dup_share") <= 0.0).count() === 0L)
    val nearMean = nears.agg(avg("dup_share")).head.getDouble(0)
    assert(nearMean > 0.5 && nearMean < 1.0, s"near-dup mean dup_share $nearMean")
    // docs outside every injected dup family still duplicate NATURALLY
    // (the template-generated corpus repeats phrases and even whole docs
    // — measured: 24/500 natural full-dups, mean share 0.088 at
    // sf0.001); that's the signal the screen exists to surface. Gate the
    // aggregate: the lone population's mean load stays far below the
    // injected copies' (exactly 1.0)
    val lone = d.filter(col("doc_id") < 100000 &&
      col("doc_id") % 7 =!= 0 && col("doc_id") % 10 =!= 5)
    val loneMean = lone.agg(avg("dup_share")).head.getDouble(0)
    assert(loneMean < 0.5, s"lone-doc mean dup_share $loneMean")
    d.unpersist()
  }

  test("persisted band index: incremental dedup through the bucketed table matches the recompute form") {
    val corpus = Corpus.docCorpus(documents)
    val index = corpus.filter(col("doc_id") < 100000)
    val delta = corpus.filter(col("doc_id") >= 100000)
    val persisted = Dedup.incrementalDedupPersisted(spark, index, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val recomputed = Dedup.incrementalDedup(index, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(persisted === recomputed)
  }

  test("dedup features: exact-dup pairs score perfect, near-dups near-perfect, bounds hold (r8)") {
    val feats = Dedup.dedupFeatures(Tables.documents(spark, sfDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(feats.nonEmpty)
    // feature bounds on every candidate pair
    feats.values.foreach { case (jac, ham, lr, sl) =>
      assert(jac >= 0.0 && jac <= 1.0 && ham >= 0L && ham <= 48L)
      assert(lr > 0.0 && lr <= 1.0 && (sl == 0L || sl == 1L))
    }
    // injected exact copies (doc_id ≡ 0 mod 7 → +100000) share every
    // band, so the pair MUST be a candidate with perfect features
    // (a < 100000 guard: ids 100000+7k are themselves copies, and
    // (copy_of_x, near_of_x) also differ by exactly 100000)
    val exactPairs = feats.filter { case ((a, b), _) =>
      a < 100000 && a % 7 == 0 && b == a + 100000 }
    assert(exactPairs.nonEmpty, "exact-dup pairs missing from candidates")
    exactPairs.values.foreach { case (jac, ham, lr, sl) =>
      assert(jac === 1.0 && ham === 0L && lr === 1.0 && sl === 1L)
    }
    // near copies (3-token tail appended) that surfaced as candidates
    // score high jaccard and small hamming — the separation a
    // classifier needs
    val nearPairs = feats.filter { case ((a, b), _) =>
      a < 100000 && a % 10 == 5 && b == a + 200000 }
    assert(nearPairs.nonEmpty, "no near-dup candidate pairs surfaced")
    nearPairs.values.foreach { case (jac, ham, _, _) =>
      assert(jac >= 0.5, s"near-dup jaccard $jac")
      assert(ham <= 12L, s"near-dup hamming $ham")
    }
  }
}
