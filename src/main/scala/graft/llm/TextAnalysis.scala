package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators: word/ngram frequency, per-language stats,
  * tf-idf, language-ID heuristic, quality scoring, token counting and
  * document fingerprinting — the text half of a training-data pipeline.
  *
  * Determinism: rankings are over integers (counts, document frequency,
  * lexicographic tiebreaks), never raw doubles; emitted doubles are
  * round(·, 4) of IEEE-identical expressions (SURVEY §7).
  */
object TextAnalysis {

  /** Word frequency: tokenize → explode → count; top-100 by (count desc,
    * word). Classic map-side-combinable aggregation — the shuffle carries
    * one (word, partial count) pair per word per task, not tokens. */
  def tokenizeWordcount(documents: DataFrame): DataFrame =
    documents
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(100)

  /** Zipf rank-frequency profile of the corpus vocabulary: top-k tokens
    * with rank, frequency, the rank·frequency product (≈ constant under
    * Zipf's law) and each token's share of all tokens. The heavy part is
    * the word count (one map-side-combinable shuffle); ranking happens on
    * the k-row result, and the corpus total rides along as a broadcast
    * scalar — no second scan. */
  def zipfProfile(documents: DataFrame, k: Int = 50): DataFrame = {
    val wc = documents
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val total = wc.agg(sum(col("n")).as("total"))
    val top = wc.orderBy(col("n").desc, col("word").asc).limit(k)
    // PARTITION-LESS window, bounded input: it ranks the k-row (k=50)
    // top-list, never the corpus — the single partition holds k rows by
    // construction. One of the three allowed contract sites (HygieneSpec).
    val w = Window.orderBy(col("n").desc, col("word").asc)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(
        col("rank"), col("word"), col("n"),
        (col("rank") * col("n")).as("rank_x_n"),
        graft.ops.Det.rfloor(col("n").cast("double") / col("total"), 6).as("share"))
      .orderBy("rank")
  }

  /** n-gram language-model quality proxy (the poor man's CCNet
    * perplexity): score each document by how common its bigrams are in
    * the corpus — boilerplate scores high, lorem-noise scores low.
    * Emits mean corpus-frequency of the doc's bigram instances and the
    * hapax ratio (bigrams seen exactly once corpus-wide). All-integer
    * moments → one final division, engine-exact with no libm log.
    * Scale shape: bigrams are hashed to the portable 8-byte fingerprint
    * BEFORE the frequency join, so both shuffles carry (id, int64), never
    * bigram strings; identical hashing on the oracle side makes the rare
    * fingerprint collision bit-reproducible rather than a divergence. */
  def lmScore(documents: DataFrame): DataFrame = {
    val inst = documents
      .select(col("doc_id"),
        explode(TextOps.bigrams(TextOps.tokens(col("text")))).as("bg"))
      .select(col("doc_id"),
        graft.functions.TextExprs.rollingFingerprint(col("bg")).as("h"))
    val freq = inst.groupBy("h").agg(count(lit(1)).as("bf"))
    inst.join(freq, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("bf")).cast("double") / count(lit(1))).as("mean_bf"),
        (count_if(col("bf") === 1).cast("double") / count(lit(1))).as("hapax_ratio"))
      .orderBy("doc_id")
  }

  /** Bigram frequency, top-100. */
  def ngramCounts(documents: DataFrame): DataFrame =
    documents
      .select(explode(TextOps.bigrams(TextOps.tokens(col("text")))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(100)

  /** PMI COLLOCATIONS (r9) — the corpus-linguistics staple: bigrams
    * whose words co-occur far more than their unigram frequencies
    * predict (pmi = ln(c_xy·N1² / (N2·c_x·c_y))), the signal behind
    * multi-word-expression vocab entries, tokenizer merge seeding, and
    * boilerplate-phrase detection. `minCount` drops the hapax tail
    * (PMI is noise-maximal at c_xy=1 — a classic failure mode).
    *
    * Ranking discipline is [[tfidf]]'s: the ORDER key is the exact
    * integer `(c_xy·10¹²) div (c_x·c_y)` (order-equivalent to PMI for
    * fixed N1/N2 since ln is monotone), so the top-k cut can never
    * flap on a cross-engine libm last-ulp; the emitted pmi is the
    * rfloor(ln·,4) display value. The 10¹² scale bounds c_xy ≤ 9·10⁶
    * before BIGINT overflow — past that, stage the division
    * ((c_xy·10⁶ div c_x)·10⁶ div c_y), same determinism. The bound is
    * GUARDED at runtime (assert_true folded into the score projection):
    * Spark's non-ANSI multiply would wrap silently and corrupt the
    * top-k where DuckDB raises — the spatialGrid require() discipline,
    * loud on both engines instead of silently divergent.
    *
    * Plan: token mass shuffles once per vocabulary aggregate (unigram +
    * bigram — both map-side combining); the survivor frame after
    * minCount is collocation-sized and the two unigram joins are
    * vocab-keyed hash joins. Final top-k is sort-limit
    * (TakeOrderedAndProject), never a partition-less window. */
  def collocations(documents: DataFrame, minCount: Long = 5, topK: Int = 100): DataFrame = {
    val tok = documents.select(TextOps.tokens(col("text")).as("t"))
      .localCheckpoint(eager = false) // unigram AND bigram passes scan it
    val uni = tok.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // totaled once, joined twice
    val n1 = uni.agg(sum(col("c")).as("n1"))
    val big = tok.select(explode(TextOps.bigrams(col("t"))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cxy"))
      .localCheckpoint(eager = false) // totaled AND filtered
    val n2 = big.agg(sum(col("cxy")).as("n2"))
    big.filter(col("cxy") >= minCount)
      // tokens are whitespace-split, so the bigram's single interior
      // space splits it back losslessly (oracle: split_part)
      .withColumn("w1", substring_index(col("ngram"), " ", 1))
      .withColumn("w2", substring_index(col("ngram"), " ", -1))
      .join(uni.select(col("w").as("w1"), col("c").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("cy")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("ngram"), col("cxy"), col("cx"), col("cy"),
        // `+ ifnull(assert_true(...), 0)` adds exact 0 on every in-bound
        // row and raises before the wrapped product can reach the sort
        // the guard covers BOTH products: the numerator scale
        // (cxy·10^12) and the denominator cx·cy (cx,cy ~3e9 each would
        // wrap BIGINT silently without tripping the cxy bound — r11)
        expr("(cxy * 1000000000000) div (cx * cy) + ifnull(assert_true(" +
          "cxy <= 9223372 and cx <= 9223372036854775807 div cy, " +
          "'collocations: cxy exceeds the 10^12 " +
          "score scale or cx*cy exceeds BIGINT (would wrap) - use the " +
          "staged division ((cxy*10^6 div cx)*10^6 div cy)'), 0)").as("score_key"),
        graft.ops.Det.rfloor(
          log((col("cxy").cast("double") * col("n1") * col("n1")) /
            (col("n2").cast("double") * col("cx") * col("cy"))), 4).as("pmi"))
      .orderBy(col("score_key").desc, col("ngram").asc)
      .limit(topK)
  }

  /** Per-language document stats (count, avg chars, distinct sources). */
  def statsByLang(documents: DataFrame): DataFrame =
    documents
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(col("n_chars"))).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** tf-idf, top-3 terms per document. Ranking is by the integer triple
    * (tf desc, df asc, term asc) — equivalent ordering to tf·ln(N/df) for
    * a fixed N, but immune to cross-engine libm last-bit differences; the
    * emitted score is round(tf·ln(N/df), 4). */
  def tfidf(documents: DataFrame): DataFrame = {
    // corpus size as a broadcast 1-row aggregate INSIDE the plan (no
    // driver-side count() action). NOTE the operator is no longer fully
    // lazy: the tf localCheckpoint below materializes the term counts at
    // CONSTRUCTION time (the price of eviction-proof reuse across the two
    // consumers — see "Cross-tier rules" in ARCHITECTURE.md).
    val nDf = documents.agg(count(lit(1)).cast("double").as("n_docs"))
    // materialize tf once: both the df derivation and the join consume it —
    // without it the explode+groupBy runs twice. localCheckpoint, not
    // persist: disk-backed (no eviction→recompute flap), auto-released by
    // the ContextCleaner — persist leaked the cache entry for the session
    val tf = documents
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    // df is a vocabulary-sized dim — broadcast it so tf is NOT reshuffled
    // on term just to attach document frequencies
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDf))
      // long, not int: DuckDB's row_number() is BIGINT and the strict
      // comparator is type-aware (round-7 check.py type cross-check)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs") / col("df")), 4).as("score"),
        col("rn"))
      .orderBy("doc_id", "rn")
  }

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "is"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "y", "que"))

  /** Language-ID heuristic: stopword-hit ratio per language, argmax with
    * fixed tiebreak order (en,de,fr,es), 'und' when nothing matches. A
    * real pipeline swaps the word lists for char-n-gram profiles — the
    * operator shape (per-row scoring, no shuffle) is identical. */
  def langId(documents: DataFrame): DataFrame = {
    val tok = TextOps.tokens(col("text"))
    val nTok = size(tok)
    val scored = documents.select(
      col("doc_id") +: col("lang").as("lang_declared") +:
        stop.toSeq.sortBy(_._1).map { case (l, words) =>
          graft.ops.Det.rfloor(size(filter(tok, t => t.isin(words: _*))).cast("double") / nTok, 4).as(s"score_$l")
        }: _*)
    scored.withColumn("lang_pred",
      // null scores (null text -> null token array) must be "no signal",
      // not a CASE fallthrough to the last branch ('es')
      when(col("score_en").isNull, "und")
        .when(greatest(col("score_en"), col("score_de"), col("score_fr"), col("score_es")) === 0, "und")
        .when(col("score_en") >= col("score_de") && col("score_en") >= col("score_fr") && col("score_en") >= col("score_es"), "en")
        .when(col("score_de") >= col("score_fr") && col("score_de") >= col("score_es"), "de")
        .when(col("score_fr") >= col("score_es"), "fr")
        .otherwise("es"))
      .orderBy("doc_id")
  }

  /** GOPHER RULE FLAGS (r8) — the classic heuristic rule set (Rae et
    * al. 2021, Appendix A1, adapted to this corpus's single-line
    * shape) as a per-doc FLAG TABLE rather than a score: word-count
    * band, mean-word-length band, alpha-word share, minimum stop-word
    * diversity. Every rule is EXACT integer arithmetic — the bands
    * compare cross-multiplied (`3n ≤ Σlen ≤ 10n`, `5·n_alpha ≥ 4·n`),
    * never a rounded ratio, so the keep decision is bit-identical on
    * any engine (the lossless-bound discipline); mean_wlen is emitted
    * rounded for the human, the FLAG reads the integers. One map-side
    * pass; the flag table is what a curation run stores so every drop
    * is attributable to a rule. */
  def gopherFlags(documents: DataFrame): DataFrame = {
    val toks = TextOps.tokens(coalesce(col("text"), lit("")))
    val n = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (a, x) => a + x)
    val nAlpha = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
    // Gopher's canonical list is (the, be, to, of, and, that, have,
    // with); this corpus's English function-word vocabulary is the
    // langid stop set — same rule, corpus-matched list (with Gopher's
    // list the flag is constant-0 here and gates nothing)
    val stops = Seq("the", "a", "of", "is")
    val nStop = size(array_intersect(array_distinct(toks),
      array(stops.map(lit): _*))).cast("long")
    documents
      .select(col("doc_id"), n.as("n_words"), sumLen.as("sum_len"),
        nAlpha.as("n_alpha"), nStop.as("n_stop_kinds"))
      .select(col("doc_id"), col("n_words"),
        graft.ops.Det.rfloor(col("sum_len").cast("double")
          / col("n_words").cast("double"), 4).as("mean_wlen"),
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int").as("ok_count"),
        (col("sum_len") >= col("n_words") * 3
          && col("sum_len") <= col("n_words") * 10).cast("int").as("ok_wlen"),
        (col("n_alpha") * 5 >= col("n_words") * 4).cast("int").as("ok_alpha"),
        (col("n_stop_kinds") >= 2).cast("int").as("ok_stop"))
      .withColumn("keep",
        (col("ok_count") === 1 && col("ok_wlen") === 1
          && col("ok_alpha") === 1 && col("ok_stop") === 1).cast("int"))
      .orderBy("doc_id")
  }

  /** LANGID CONFUSION MATRIX (r8) — the classifier-eval rollup over
    * [[langId]]: per (declared, predicted) cell count plus the share
    * within the declared class (the per-class recall diagonal). The
    * audit every curation stack runs before trusting a language
    * filter: off-diagonal mass IS the mis-filtered data. Shares the
    * langid prediction (and its oracle CTEs) so the eval can never
    * drift from the classifier it evaluates. Scale: the per-doc score
    * pass is map-side; the rollup exchange carries ≤ |langs|² cells. */
  def langidConfusion(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang_declared")
    langId(documents)
      .groupBy("lang_declared", "lang_pred").agg(count(lit(1)).as("n"))
      .withColumn("n_declared", sum(col("n")).over(w))
      .select(col("lang_declared"), col("lang_pred"), col("n"), col("n_declared"),
        graft.ops.Det.rfloor(
          col("n").cast("double") / col("n_declared").cast("double"), 4).as("share"))
      .orderBy("lang_declared", "lang_pred")
  }

  /** The weighted quality score as a pure per-row Column over a text
    * column — shared by [[qualityScore]] and the domain-cap quota so both
    * rank on the identical rfloor'd value (and both oracle CTEs mirror
    * the same arithmetic). */
  def qualityCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.ops.Det.rfloor(rawQualityCol(text), 4)

  /** The same score as an exact integer in 1e-4 units (`floor(raw·1e4
    * + 0.5)` — precisely `qualityCol`·1e4 by construction): the bucket
    * key for operators that need quality as an equi-groupable integer
    * ([[TrainingPrep.tokenBudget]]'s histogram cut, the upsample
    * tiers) rather than a rounded double. */
  def qualityMilliCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(rawQualityCol(text) * 1e4 + lit(0.5)).cast("long")

  private def rawQualityCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val tok = TextOps.tokens(text)
    val nTok = size(tok).cast("double")
    val uniqRatio = size(array_distinct(tok)).cast("double") / nTok
    val lenSat = least(nTok / lit(100.0), lit(1.0))
    val stopRatio = size(filter(tok, t => t.isin("the", "a", "of", "is"))).cast("double") / nTok
    uniqRatio * 0.5 + lenSat * 0.3 + (lit(1.0) - stopRatio) * 0.2
  }

  /** Quality scoring: unique-token ratio, length saturation, stopword
    * ratio → weighted score. All per-row arithmetic, no shuffle. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val tok = TextOps.tokens(col("text"))
    val nTok = size(tok).cast("double")
    val uniqRatio = size(array_distinct(tok)).cast("double") / nTok
    val lenSat = least(nTok / lit(100.0), lit(1.0))
    val stopRatio = size(filter(tok, t => t.isin("the", "a", "of", "is"))).cast("double") / nTok
    documents.select(
      col("doc_id"),
      size(tok).cast("long").as("n_tokens"),
      graft.ops.Det.rfloor(uniqRatio, 4).as("uniq_ratio"),
      graft.ops.Det.rfloor(lenSat, 4).as("len_sat"),
      graft.ops.Det.rfloor(stopRatio, 4).as("stop_ratio"),
      qualityCol(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** CCNet-style BOILERPLATE REMOVAL: fixed-width token chunks whose
    * corpus document-frequency reaches `minDf` are scrubbed from EVERY
    * document (headers, footers, license blocks — text so common it
    * carries no training signal). The complement of passage dedup: that
    * keeps a repeated passage's FIRST occurrence; this removes all
    * occurrences of sufficiently-common chunks.
    *
    * Scale shape (100 TB): chunk instances are keyed by md5 digest, so
    * the document-frequency aggregate shuffles (digest, doc_id) pairs —
    * 24+8 bytes, never text — with map-side distinct-combine; the
    * boilerplate digest set (df ≥ minDf) is by construction the tiny
    * tail of the frequency distribution, so the scrub anti-join
    * broadcasts it; reassembly is one doc_id-keyed shuffle. */
  /** `passthrough` columns ride the chunker and come back on the output
    * rows. They MUST be functionally dependent on doc_id (doc-grain
    * metadata like `source`/`lang`): the reassembly aggregates at
    * doc_id grain and carries each passthrough as max() inside that
    * group (r14, from the r13 advice) — so a non-doc-grain column can
    * no longer split a document's chunks into several output rows, but
    * a caller passing one would get its per-doc max, which is probably
    * not what they meant. */
  def boilerplateScrub(documents: DataFrame, chunkWords: Int = 8,
                       minDf: Long = 3L,
                       passthrough: Seq[String] = Nil): DataFrame = {
    val tok = TextOps.tokens(col("text"))
    val nChunks = ceil(size(tok).cast("double") / chunkWords).cast("int")
    val extra = passthrough.map(col)
    val chunks = documents
      .withColumn("tok", tok)
      .select(col("doc_id") +: extra :+
        posexplode(transform(sequence(lit(0), greatest(nChunks, lit(1)) - 1), i =>
          concat_ws(" ", slice(col("tok"), i * chunkWords + 1, lit(chunkWords))))): _*)
      .select(col("doc_id") +: extra :+
        col("pos").cast("long").as("cpos") :+ col("col").as("chunk"): _*)
      .filter(length(col("chunk")) > 0)
    val inst = chunks.withColumn("dg", md5(col("chunk")))
    val boiler = inst.select(col("dg"), col("doc_id")).distinct()
      .groupBy("dg").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("dg")
    // r13 one-pass reassembly: the old shape evaluated `inst` three
    // times (df aggregate, anti-join arm, total-count arm) and joined
    // two doc-grain aggregates back together. A LEFT join against the
    // (tiny, broadcast) boilerplate set flags each instance instead,
    // and ONE doc-keyed aggregate computes total/kept/reassembly
    // together — collect_list skips the nulls the flag introduces, so
    // kept-chunk reassembly, kept count (count over the same null
    // pattern) and total count (count(1)) all read the flagged frame
    // once. All-boiler docs reassemble to "" via concat_ws over the
    // empty array, matching the old left-join coalesce exactly.
    val flagged = inst.join(boiler.withColumn("boil", lit(1)), Seq("dg"), "left")
    val keptStruct = when(col("boil").isNull, struct(col("cpos"), col("chunk")))
    // doc_id-ONLY grouping grain (r14): passthrough columns aggregate as
    // max() inside the doc group instead of joining the group key, so
    // the output stays one row per document whatever the caller passes
    // (doc-grain metadata is constant per group — max() is the value)
    val aggs = passthrough.map(p => max(col(p)).as(p)) ++ Seq(
      count(lit(1)).as("n_total"),
      count(keptStruct).as("n_kept"),
      concat_ws(" ",
        transform(array_sort(collect_list(keptStruct)),
          x => x.getField("chunk"))).as("text_clean"))
    flagged.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: extra :+ col("n_total") :+ col("n_kept") :+
        col("text_clean"): _*)
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens and a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation) plus chars-per-token
    * — the usual "how many tokens is this corpus" pipeline stat. */
  def tokenCount(documents: DataFrame): DataFrame = {
    val ws = size(TextOps.tokens(col("text"))).cast("long")
    val re = regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
    documents.select(
      col("doc_id"), ws.as("ws_tokens"), re.as("re_tokens"),
      graft.ops.Det.rfloor(col("n_chars").cast("double") / ws, 4).as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** Document chunking for training pipelines: fixed-size token windows
    * with overlap (stride = chunkSize - overlap). One output row per
    * chunk with its reassembled text and token count. Pure per-row
    * expansion (posexplode of slices) — embarrassingly parallel, no
    * shuffle before the deterministic output sort. */
  def chunk(documents: DataFrame, chunkSize: Int = 32, overlap: Int = 8,
            passthrough: Seq[String] = Nil): DataFrame = {
    // r13 `passthrough`: doc-grain metadata columns (lang, quality, …)
    // ride THROUGH the explode instead of being re-attached by a
    // doc_id self-join afterwards — the join-back pattern re-evaluated
    // the caller's whole upstream lineage a second time (in
    // pipeline_quality_filter that included both score subtrees) and
    // paid an extra exchange. Inner-join-on-unique-doc_id equivalence:
    // each chunk row carries exactly its document's values. text_chunk
    // (empty passthrough) is byte-identical to the r8 form.
    val stride = chunkSize - overlap
    val tok = TextOps.tokens(col("text"))
    val nChunks = ceil((size(tok) - lit(overlap)).cast("double") / stride).cast("int")
    val extra = passthrough.map(col)
    documents
      .withColumn("tok", tok)
      .select(col("doc_id") +: extra :+
        posexplode(transform(sequence(lit(0), greatest(nChunks, lit(1)) - 1), i =>
          slice(col("tok"), i * stride + 1, lit(chunkSize)))): _*)
      .select(Seq(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("long").as("n_tokens")) ++ extra: _*)
      .filter(col("n_tokens") > 0)
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-source language-diversity entropy — the mix-monitoring signal a
    * curation job tracks per slice (a source whose lang entropy collapses
    * is scraping one community; one whose dominant-lang share spikes
    * needs rebalancing — the [[graft.ops.Aggregates.stratifiedSample]]
    * rate dial). Shannon H = -Σ p·ln p over the source's lang
    * distribution, plus the dominant lang with a DETERMINISTIC tie-break
    * (highest count, then lexicographically smallest lang — the agg_mode
    * rule; built-in arg-max tie-breaking is unspecified in both engines).
    * Scale shape: one (source, lang) count aggregate (map-side partial);
    * entropy and the window then run over the tiny count table, never
    * data. ln() is libm-adjacent on both engines — all derived doubles
    * round through the portable floor(x·1e4+0.5) before comparison. */
  def diversityEntropy(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy("source", "lang").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source")
    val ranked = counts
      .withColumn("tot", sum(col("n")).over(w))
      // asc_nulls_last, not asc: Spark defaults nulls-first, DuckDB
      // nulls-last — a null lang (language-ID failure) tying the top
      // count would elect a different top_lang per engine (the
      // langTemperature precedent); oracle mirrors NULLS LAST.
      .withColumn("rk", row_number().over(w.orderBy(col("n").desc, col("lang").asc_nulls_last)))
    ranked
      .groupBy("source")
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        (floor(sum(-(col("n") / col("tot")) * log(col("n") / col("tot"))) * 10000.0 + 0.5) / 10000.0)
          .as("entropy"),
        max(when(col("rk") === 1, col("lang"))).as("top_lang"),
        (floor(max(when(col("rk") === 1, col("n"))) * 10000.0 / sum(col("n")) + 0.5) / 10000.0)
          .as("top_share"))
      .orderBy("source")
  }

  /** PII incidence report — the DETECTION side of the scrub pass
    * ([[scrub]] redacts; this measures, per source, how much PII a corpus
    * slice carries so a curation job can rank sources for exclusion or
    * extra scrubbing). Detects on `text` AS-IS — fixture injection for
    * the synthetic (PII-free) harness corpus lives at the SparkEntry
    * registration site, the text_scrub convention, so the operator stays
    * honest on a real corpus. Detection is a per-row `regexp_count`
    * chain (codegen'd, map-side); the only shuffle is the tiny
    * per-source rollup — at 100 TB this is a map-mostly scan. Patterns
    * stay in the Java∩RE2 common syntax so Spark and DuckDB compile
    * them identically. */
  def piiStats(documents: DataFrame): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val phoneRe = "\\b555-[0-9]{4}\\b"
    documents
      .select(col("source"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(ipRe)).cast("long").as("n_ip"),
        regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phone"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_email")).as("emails"),
        sum(col("n_ip")).as("ips"),
        sum(col("n_phone")).as("phones"),
        sum(when(col("n_email") + col("n_ip") + col("n_phone") > 0, 1L).otherwise(0L)).as("docs_with_pii"))
      .withColumn("pii_rate",
        floor(col("docs_with_pii") * 10000.0 / col("n_docs") + 0.5) / 10000.0)
      .orderBy("source")
  }

  /** PII-style scrubbing: mask email-shaped tokens, long digit runs and
    * hex-ish ids — the redaction pass a training pipeline runs before
    * tokenization. Pure per-row regexp_replace chain (codegen'd). */
  def scrub(documents: DataFrame): DataFrame = {
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
          "[0-9]{6,}", "<NUM>"),
        "\\b[0-9a-f]{16,}\\b", "<HEX>")
    documents.select(
      col("doc_id"), scrubbed.as("scrubbed"),
      (length(col("text")) - length(scrubbed)).cast("long").as("delta_chars"))
      .orderBy("doc_id")
  }

  /** URL canonicalization — the dedup-key normalization a crawl pipeline
    * applies before URL-level dedup: strip the fragment, drop utm_*
    * tracking params, lowercase scheme+host (path/query case preserved).
    * Pure per-row regexp chain (codegen'd, map-side). URLs are
    * synthesized deterministically from doc fields (corpus has no URL
    * column); the oracle mirrors the synthesis and the same regexes. */
  def normalizeUrls(documents: DataFrame): DataFrame = {
    val raw = concat(
      lit("HTTPS://Docs.Example.COM/"), col("lang"), lit("/item/"), col("doc_id"),
      when(col("doc_id") % 3 === 0, lit("?utm_source=feed&id=")).otherwise(lit("?id=")),
      col("doc_id"),
      when(col("doc_id") % 4 === 0, lit("&utm_campaign=x&ref=rss")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit("")))
    documents.select(col("doc_id"), raw.as("url_raw"), canonicalUrl(raw).as("url_norm"))
      .orderBy("doc_id")
  }

  /** The canonicalization chain of [[normalizeUrls]] as a reusable column
    * expression: strip fragment, drop utm_* params, lowercase scheme+host.
    * Also the dedup key of Dedup.urlDedup. */
  def canonicalUrl(raw: Column): Column = {
    val noFrag = regexp_replace(raw, "#.*", "")
    val noUtm = regexp_replace(
      regexp_replace(noFrag, "utm_[a-z]+=[^&]*&", ""),
      "[?&]utm_[a-z]+=[^&]*$", "")
    concat(
      lower(regexp_extract(noUtm, "^[^/]*//[^/]*", 0)),
      regexp_replace(noUtm, "^[^/]*//[^/]*", ""))
  }

  /** Gopher-style repetition signal: per document, the duplicate-bigram
    * fraction (1 − distinct/total) and the top-bigram fraction (most
    * frequent bigram's share) — the two "repetitious document" filters
    * real pretraining pipelines cut on (boilerplate and keyword-stuffed
    * pages score high; prose scores near 0).
    *
    * Scale shape: explode to (doc_id, bigram), count with map-side
    * partial aggregation, fold to one row per doc — two hash shuffles
    * keyed by (doc_id[, bigram]), no skew (doc_id rides every key).
    * Integer counts; ratios via rfloor → bit-stable cross-engine.
    * Documents with <2 tokens have no bigrams and are excluded (nothing
    * to measure), matching the oracle. */
  def repetition(documents: DataFrame): DataFrame = {
    val tok = TextOps.tokens(col("text"))
    val bigrams = documents.select(col("doc_id"),
      explode(TextOps.bigrams(tok)).as("ng")) // non-distinct: frequency-bearing
    bigrams
      .groupBy(col("doc_id"), col("ng")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
        graft.ops.Det.rfloor(
          lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 6)
          .as("dup_frac"),
        graft.ops.Det.rfloor(col("top_c").cast("double") / col("n_ngrams"), 6)
          .as("top_frac"))
      .orderBy("doc_id")
  }

  /** Rolling polynomial fingerprint over the document's bytes:
    * fp = fold(acc·31 + byte) mod 1_000_000_007. Deterministic,
    * order-sensitive (a true fingerprint, unlike a bag-of-words hash);
    * compiled single pass (graft.functions.RollingFingerprint), no
    * shuffle. Oracle-exempt (DuckDB 1.0 has no list fold); gated in
    * LlmOpsSpec. */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      graft.functions.TextExprs.rollingFingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Corpus-level Flesch reading ease per source.
    *
    * Word / sentence / syllable counts are integer `regexp_count`s per
    * row (sentences floor at 1 — the synthetic corpus has no terminal
    * punctuation, so every doc is one sentence; syllables are vowel
    * groups, the standard dictionary-free approximation); the score is
    * computed on the SUMS per source (corpus-level Flesch — ratio of
    * totals, not mean of per-doc scores), so the only floating point
    * is one formula over exact integers. Map-side counting, one small
    * shuffle keyed by source. */
  def readability(documents: DataFrame): DataFrame = {
    val words = size(TextOps.tokens(col("text"))).cast("long")
    val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("long")
    val syllables = regexp_count(col("text"), lit("[aeiouy]+")).cast("long")
    val s = documents
      .select(col("source"), words.as("w"), sentences.as("s"), syllables.as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("s")).as("sentences"), sum(col("y")).as("syllables"))
    val flesch = lit(206.835) -
      lit(1.015) * (col("words").cast("double") / col("sentences").cast("double")) -
      lit(84.6) * (col("syllables").cast("double") / col("words").cast("double"))
    s.select(col("source"), col("n_docs"), col("words"), col("sentences"),
        col("syllables"), graft.ops.Det.rfloor(flesch, 4).as("flesch"))
      .orderBy("source")
  }
}
