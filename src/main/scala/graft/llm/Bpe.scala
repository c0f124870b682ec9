package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: train merges on the corpus, encode
  * documents with them (Sennrich et al. ACL 2016, the GPT-2-style
  * word-internal variant: symbols start as code points, merges never
  * cross a word boundary, no end-of-word marker).
  *
  * Scale split — the part that touches DATA is one aggregation: the
  * word-frequency dict (`groupBy(word).count`, map-side combinable,
  * then a top-N sort-limit: per-partition TakeOrdered, never a global
  * sort). The merge LOOP runs driver-side over that dict — model
  * params, the [[Similarity.ivfTopK]] k-means discipline: its size is
  * (topWords × avg word length), data-size-free. That is exactly how
  * production BPE/unigram trainers scale (SentencePiece trains on a
  * word-count table, not the raw corpus); min-frequency truncation is
  * the topWords cap here. Encoding is a compiled map-side expression
  * ([[graft.functions.BpeExprs]]) with the merge table shipped once per
  * task via the codegen reference array — at 100 TB the encode pass is
  * shuffle-free and stays inside whole-stage codegen.
  *
  * Both operators are oracle-EXEMPT (an iterative data-dependent merge
  * loop is not SQL-expressible); BpeSpec gates them against an
  * independent pair-scan reference, hand-derived fixtures, and the
  * count invariants.
  */
object Bpe {

  /** Greedy merge training over a word-frequency dict. Each round
    * counts every ADJACENT symbol pair occurrence (overlaps included —
    * "aaa" holds (a,a) twice, the Sennrich get_stats rule), weighted by
    * word frequency; the winner is the highest count with ties broken
    * to the lexicographically smallest (left, right) — fully
    * deterministic. Merging rewrites occurrences left-to-right,
    * non-overlapping. Stops early when no pair occurs twice (merging
    * hapax pairs would just memorize the tail). */
  def trainMerges(wordCounts: Seq[(String, Long)], nMerges: Int): Seq[(String, String, Long)] = {
    var words: Seq[(Array[String], Long)] = wordCounts.map { case (w, c) =>
      val syms = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i); val n = Character.charCount(cp)
        syms += w.substring(i, i + n); i += n
      }
      (syms.toArray, c)
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    while (!done && out.size < nMerges) {
      val pc = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        val ((l, r), c) = pc.minBy { case ((l, r), c) => (-c, l, r) }
        if (c < 2) done = true
        else {
          out += ((l, r, c))
          words = words.map { case (syms, wc) =>
            val merged = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                merged += l + r; i += 2
              } else { merged += syms(i); i += 1 }
            }
            (merged.toArray, wc)
          }
        }
      }
    }
    out.toSeq
  }

  /** The distributed half: word counts, top-N by (count desc, word asc)
    * — the boundary tie is deterministic, so the collected dict (and
    * hence the whole model) is reproducible run-to-run and
    * engine-to-engine. */
  private[llm] def topWordCounts(documents: DataFrame, topWords: Int): Seq[(String, Long)] =
    documents
      .select(explode(TextOps.tokens(coalesce(col("text"), lit("")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(topWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Trained merge table: (rank, left, right, pair_count), rank order.
    * NOTE the driver-side collect here is MODEL training, not a data
    * path — the collected frame is the top-N word dict (bounded by the
    * `topWords` parameter, not by data size). */
  def bpeTrain(documents: DataFrame, nMerges: Int = 40, topWords: Int = 2000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    trainMerges(topWordCounts(documents, topWords), nMerges)
      .zipWithIndex
      .map { case ((l, r, c), i) => (i.toLong, l, r, c) }
      .toDF("rank", "left", "right", "pair_count")
      .orderBy("rank")
  }

  /** Encode every doc with the corpus-trained merges: token count, BPE
    * token count (the number a trainer's context-length budget is
    * denominated in), and the first 8 BPE symbols as a visibility head. */
  def bpeEncode(documents: DataFrame, nMerges: Int = 40, topWords: Int = 2000): DataFrame =
    encodeWith(documents,
      trainMerges(topWordCounts(documents, topWords), nMerges).map(t => (t._1, t._2)))

  /** The pure encode pass, shared by the in-session and persisted-model
    * forms: map-side compiled expression, merge table shipped once per
    * task, no shuffle before the presentation sort. */
  private def encodeWith(documents: DataFrame, merges: Seq[(String, String)]): DataFrame =
    documents
      .withColumn("tok", TextOps.tokens(coalesce(col("text"), lit(""))))
      .withColumn("bpe", graft.functions.BpeExprs.bpeEncode(col("tok"), merges))
      .select(col("doc_id"),
        size(col("tok")).cast("long").as("n_words"),
        size(col("bpe")).cast("long").as("n_bpe_tokens"),
        concat_ws("|", slice(col("bpe"), 1, 8)).as("bpe_head"))
      .orderBy("doc_id")

  /** PERSISTED tokenizer epoch — the [[graft.llm.Dedup.ensureBandIndex]]
    * artifact discipline applied to the tokenizer, which is how every
    * production pipeline actually runs BPE: the merge table is trained
    * ONCE per tokenizer release and then applied unchanged to every
    * corpus snapshot for months (retraining per encode job would change
    * token ids under the model's feet). Stores [[bpeTrain]]'s
    * (rank, left, right, pair_count) frame — parameter-sized: nMerges
    * rows — as a warehouse table; returns the table name. */
  def ensureBpeModel(spark: org.apache.spark.sql.SparkSession, documents: DataFrame,
      epoch: Long = 0L, nMerges: Int = 40, topWords: Int = 2000): String =
    // name carries the TRAINING PARAMS too: an epoch-only name would
    // silently serve a 40-merge model to an 80-merge caller and break
    // the bit-equality contract (review finding r7)
    graft.Warehouse.ensure(spark,
      s"text_bpe_model_${graft.Warehouse.srcTag(documents)}_e${epoch}_m${nMerges}_t$topWords",
      source = documents) {
      name => bpeTrain(documents, nMerges, topWords)
        .write.mode("overwrite").saveAsTable(name)
    }

  /** [[bpeEncode]] served from the PERSISTED merge model: the encode job
    * plans ZERO training work — no word-count aggregate, no driver merge
    * loop — just a parameter-sized model-table read and the same
    * compiled map-side encode pass, so output is bit-identical to the
    * in-session form at the same (nMerges, topWords) (BpeSpec pins the
    * equality, the model-table contents, and epoch reuse). At 100 TB
    * this is the only shape that works: training reads the corpus once
    * per epoch; encoding reads it once per snapshot with the model as a
    * broadcast-sized constant. */
  def bpeEncodePersisted(spark: org.apache.spark.sql.SparkSession, documents: DataFrame,
      epoch: Long = 0L, nMerges: Int = 40, topWords: Int = 2000): DataFrame = {
    val name = ensureBpeModel(spark, documents, epoch, nMerges, topWords)
    val merges = spark.table(name).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    encodeWith(documents, merges)
  }

  /** Per-language tokenizer FERTILITY from the persisted model — the
    * metric every tokenizer paper reports per language (mT5, XLM-R,
    * GPT-2 analyses): mean BPE tokens per word, plus code points per
    * BPE token. A merge table trained on an English-heavy dict
    * compresses English well and fragments the tail languages — high
    * fertility = that language pays more context budget per word, the
    * number a vocab-allocation decision runs on. Integer-ratio outputs
    * rounded once (1e-4); one encode pass + a lang-keyed rollup. */
  def bpeFertility(spark: org.apache.spark.sql.SparkSession, documents: DataFrame,
      epoch: Long = 0L, nMerges: Int = 40, topWords: Int = 2000): DataFrame = {
    val name = ensureBpeModel(spark, documents, epoch, nMerges, topWords)
    val merges = spark.table(name).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val tok = TextOps.tokens(coalesce(col("text"), lit("")))
    documents
      .withColumn("bpe", graft.functions.BpeExprs.bpeEncode(tok, merges))
      .select(col("lang"),
        size(tok).cast("long").as("n_words"),
        size(col("bpe")).cast("long").as("n_bpe"),
        coalesce(length(col("text")).cast("long"), lit(0L)).as("n_cp"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("words"),
        sum(col("n_bpe")).as("bpe_tokens"),
        sum(col("n_cp")).as("code_points"))
      .withColumn("fertility",
        floor(col("bpe_tokens").cast("double") / col("words") * 1e4 + 0.5) / 1e4)
      .withColumn("cp_per_token",
        floor(col("code_points").cast("double") / col("bpe_tokens") * 1e4 + 0.5) / 1e4)
      .orderBy("lang")
  }
}
