package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Fns, TextStats}

/** Text analysis for training-data curation: quality scoring,
  * heuristic language ID, token counting, and document
  * fingerprinting. All pure `functions._` compositions — codegen'd,
  * no UDFs, embarrassingly parallel (zero shuffles).
  */
object TextAnalysis {

  // Counts are cast to long: Spark size()/length() return int32 while
  // the DuckDB oracle emits int64 — the compare is dtype-sensitive.
  private def countIn(ws: Column, vals: Seq[String]): Column =
    size(filter(ws, w => vals.map(w === _).reduce(_ || _))).cast("long")

  /** One [[TextStats]] projection — doc_id, n_chars and the `ts`
    * struct, plus `extra` columns — from which [[quality]],
    * [[repetitionMetrics]] and both classifiers derive every word
    * signal, so each signal has exactly one definition. */
  private def withTextStats(docs: DataFrame, idCol: String, textCol: String,
                            extra: Column*): DataFrame =
    docs.select((Seq(col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"),
      TextStats.textStats(col(textCol)).as("ts")) ++ extra): _*)

  // The signal formulas over a withTextStats frame. Ratios are plain
  // double divisions of exact longs, rounded 6dp. NULL text gives a NULL
  // ts: its size/ratio signals are NULL, its repetition ratios 0. An
  // empty text has no characters to take a share of: its per-character
  // ratios are NULL too (under ANSI mode x / 0 throws).
  private def nWords: Column = col("ts.n_words")
  private def avgWordLen: Column =
    round((col("n_chars") - (nWords - 1)) / nWords, 6)
  private def stopwordRatio: Column = round(col("ts.stop_hits") / nWords, 6)
  private def perChar(count: Column): Column =
    round(when(col("n_chars") > 0, count / col("n_chars")), 6)
  private def alphaRatio: Column = perChar(col("ts.alphas"))
  private def topWordRatio: Column =
    round(coalesce(col("ts.top_word") / nWords, lit(0.0)), 6)
  private def distinctWordRatio: Column =
    round(coalesce(col("ts.n_distinct") / nWords, lit(0.0)), 6)
  private def topBigramRatio: Column = round(coalesce(
    when(col("ts.n_bigrams") > 0, col("ts.top_bigram") / col("ts.n_bigrams")),
    lit(0.0)), 6)

  /** Per-document quality signals: size, word stats, stopword /
    * digit / alpha ratios, and a composite score, computed per input
    * row from one [[TextStats]] projection. Ratios are plain double
    * divisions of exact longs → deterministic, rounded 6dp.
    */
  def quality(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    withTextStats(docs, idCol, textCol).select(
      col("doc_id"), col("n_chars"), nWords.as("n_words"),
      avgWordLen.as("avg_word_len"),
      stopwordRatio.as("stopword_ratio"),
      perChar(col("ts.digits")).as("digit_ratio"),
      alphaRatio.as("alpha_ratio"),
      round(least(nWords / lit(100.0), lit(1.0)) * (lit(1.0) - stopwordRatio),
        6).as("quality_score"))

  /** Heuristic language ID by per-language stopword hits with a
    * deterministic priority tie-break. (The synthetic corpus is
    * English-vocabulary word salad, so this returns 'en' or 'und' —
    * the operator shape is what matters: swap the stopword lists for
    * real fastText-style wordlists in production.)
    */
  /** The one stopword-list table [[langId]] and [[ccnetPipeline]]
    * share — a drifting copy would silently split the two language
    * assignments. */
  private val langIdSets = Seq(
    "es" -> Seq("el", "los"), "fr" -> Seq("le", "les"),
    "de" -> Seq("der", "und"), "en" -> Seq("the", "a"))

  /** The stopword-hit columns (one per language, named hits_<lang>)
    * and the priority fold over them — the ONE language-assignment
    * code path [[langId]] and [[ccnetPipeline]] share. */
  private def langHitCols(ws: Column): Seq[(String, Column)] =
    langIdSets.map { case (l, stops) => l -> countIn(ws, stops) }

  private def langPredCol: Column = {
    val ls = langIdSets.map(_._1)
    ls.foldRight(lit("und"): Column) { (l, acc) =>
      when(col(s"hits_$l") > 0 &&
           ls.filter(_ != l)
             .map(o => col(s"hits_$l") >= col(s"hits_$o"))
             .reduce(_ && _), l).otherwise(acc)
    }
  }

  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
        (col(idCol).as("doc_id") +: langHitCols(Fns.words(col(textCol)))
          .map { case (l, c) => c.as(s"hits_$l") }): _*)
      .withColumn("pred_lang", langPredCol)

  /** Gopher-style REPETITION metrics per document — the quality
    * signals a pretraining filter thresholds to drop degenerate
    * (looping, boilerplate, template) text:
    *  - top_word_ratio: occurrences of the most frequent word / total
    *    words (Gopher drops > 0.2-ish);
    *  - distinct_word_ratio: vocabulary size / total words (low =
    *    repetitive);
    *  - top_bigram_ratio: occurrences of the most frequent word
    *    bigram / total bigrams (the strongest loop detector).
    *
    * Plan: one narrow projection — [[TextStats]] counts words and
    * bigrams by their bytes in a single pass per row, so there is no
    * explode, no aggregate and no shuffle. Signals are computed per
    * input ROW: they equal a per-doc_id explode + groupBy only when
    * doc ids are unique (a duplicated id would have its rows' words
    * pooled there). NULL text reports n_words 0 and ratio 0; docs with
    * no bigrams report top_bigram_ratio 0, not null.
    */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame =
    withTextStats(docs, idCol, textCol).select(col("doc_id"),
      coalesce(nWords, lit(0L)).as("n_words"),
      topWordRatio.as("top_word_ratio"),
      distinctWordRatio.as("distinct_word_ratio"),
      topBigramRatio.as("top_bigram_ratio"))

  /** CCNet-style unigram language-model quality score: each document's
    * mean word surprise, avg(-ln p(w)), under the corpus's own unigram
    * distribution. Low = templated/common text, high = rare-word soup;
    * pretraining filters keep the middle band. (CCNet uses a 5-gram
    * KenLM; the unigram variant is the same signal family computable
    * exactly in one pass, with no external model artifact.)
    *
    * Plan: one explode, word frequencies via a map-side-combinable
    * aggregate, a (word)-keyed equi-join back to the token stream
    * (Spark broadcasts the frequency table when the vocabulary is
    * small; at corpus scale it degrades gracefully to a shuffle join —
    * vocabulary grows ~O(corpus^0.5), Heaps' law, so it is never the
    * big side), and a per-doc aggregate. The corpus total rides a
    * broadcast 1-row frame, not a driver collect.
    *
    * Scores round to 4 decimals: the per-doc avg is an order-dependent
    * double sum, and 6 decimals would sit close enough to the
    * cross-engine summation noise to flake a hash comparison.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      explode(Fns.words(col(textCol))).as("w"))
    // Lazy checkpoint: the frequency table feeds BOTH the token-stream
    // join and the corpus-total aggregate, and Spark's exchange reuse
    // does not unify the duplicated subtrees (fresh expr ids) — without
    // it the corpus is scanned a third time just to sum the vocabulary.
    // Materialized once at first action (vocab-sized, ~sqrt(corpus)),
    // reclaimed by the ContextCleaner.
    val freq = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val total = freq.agg(sum("cnt").as("tot"))
    words.join(freq, "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(avg(-log(col("cnt") / col("tot"))), 4).as("lm_score"))
  }

  /** Min-K% probability score (Shi et al. 2023's membership-inference
    * detector, re-expressed over the corpus's own unigram LM): per
    * document, the MEAN SURPRISE OF ITS k% HARDEST TOKENS — documents
    * whose worst tokens are still unsurprising are suspiciously
    * "memorized"/templated (low score); genuinely novel text has a
    * heavy surprise tail (high score). Complements [[lmScore]] (mean
    * over ALL tokens): the top-k% trim isolates the tail the mean
    * dilutes, which is what makes the statistic usable for
    * contamination triage and dedup-residue hunting at corpus scale.
    *
    * Determinism: per-token surprise derives from integer counts
    * (equal counts → bit-equal surprise within an engine), ranking
    * ties break by (word, position) — total order, cross-engine
    * stable; the trimmed mean rounds 4dp ([[lmScore]]'s rule).
    * Plan: one explode, freq join, one window rank per doc, filter
    * to ceil(k·n) rows, per-doc aggregate — no extra corpus pass vs
    * lmScore.
    */
  def minkScore(docs: DataFrame, idCol: String, textCol: String,
                topFrac: Double = 0.2): DataFrame = {
    require(topFrac > 0 && topFrac <= 1)
    val words = docs.select(col(idCol).as("doc_id"),
      posexplode(Fns.words(col(textCol))).as(Seq("pos", "w")))
    val freq = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val total = freq.agg(sum("cnt").as("tot"))
    val scored = words.join(freq, "w")
      .crossJoin(broadcast(total))
      .withColumn("surprise", -log(col("cnt") / col("tot")))
      .withColumn("n_tokens",
        count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("surprise").desc, col("w"), col("pos"))))
      .filter(col("rk") <= ceil(lit(topFrac) * col("n_tokens")))
    scored.groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        count(lit(1)).as("n_topk"),
        round(avg(col("surprise")), 4).as("mink_score"))
  }

  /** Interpolated Kneser-Ney BIGRAM language model trained in-plan
    * and applied as a per-doc quality score — the actual model family
    * CCNet's KenLM filter uses (here at n=2, trained on the corpus
    * itself; [[lmScore]] is the unigram little sibling). With
    * absolute discount D:
    *
    *   P(w2|w1) = (c(w1,w2) - D)/c(w1)
    *            + D · N1+(w1·)/c(w1) · N1+(·w2)/|bigram types|
    *
    * — the continuation-probability backoff that makes KN the
    * strongest count-based smoother. Training IS aggregation: one
    * bigram explode, counts + the three derived tables from the
    * bigram-type table (vocabulary-squared bounded, i.e. tiny vs the
    * corpus), so the ORACLE REPLAYS THE ENTIRE FIT, not just the
    * application. Score = mean over a doc's bigram positions of
    * -log2 P, rounded 4dp (the per-doc avg is an order-dependent
    * double sum — [[lmScore]]'s rule).
    *
    * Plan: explode → bigram counts (map-side combinable) →
    * model-table joins on w1/w2 (bigram-type-sized, never
    * corpus-sized) → (w1,w2)-keyed join back to the token stream →
    * per-doc aggregate. Docs with <2 words surface with n_bigrams=0
    * and NULL score (filterable, never dropped silently).
    */
  def knBigramScore(docs: DataFrame, idCol: String, textCol: String,
                    discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1)
    val ids = docs.select(col(idCol).as("doc_id"), Fns.words(col(textCol)).as("ws"))
    val big = knDocBigrams(ids)
    // Bigram-type table feeds three derived tables + the total — one
    // materialization (vocab²-bounded), not three corpus rescans.
    val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(false)
    val model = knModelFromCounts(c12, discount)
    val scored = big.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log2(col("p_kn"))), 4).as("kn_score"))
    ids.select("doc_id").join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams"))
  }

  /** Per-doc (doc_id, w1, w2) bigram stream from a (doc_id, ws)
    * frame — shared by the in-plan fit and the count builders. */
  private[operators] def knDocBigrams(ids: DataFrame): DataFrame =
    ids.select(col("doc_id"),
        explode(when(size(col("ws")) >= 2,
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => struct(element_at(col("ws"), i).as("w1"),
              element_at(col("ws"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** The whole KN model from the bigram-count table alone: c1,
    * continuation counts, and the type total all DERIVE from c12, so
    * c12 is the one statistic that must persist — and it is ADDITIVE
    * over doc-partitioned shards (bigrams never span documents),
    * which is what makes the store's shard ledger exact. The
    * arithmetic here is the single code path every scorer shares:
    * in-plan, store-frozen, and streaming scores cannot drift. */
  private[operators] def knModelFromCounts(c12: DataFrame,
                                           discount: Double,
                                           groupCols: Seq[String] = Nil)
  : DataFrame = {
    val c1 = c12.groupBy((groupCols :+ "w1").map(col): _*)
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1plus_fwd"))
    val prec = c12.groupBy((groupCols :+ "w2").map(col): _*)
      .agg(count(lit(1)).as("n1plus_prec"))
    val joined = c12.join(c1, groupCols :+ "w1")
      .join(prec, groupCols :+ "w2")
    // one model per group (e.g. per language — CCNet's shape) when
    // groupCols is non-empty; the ungrouped form broadcasts the one
    // scalar type total
    val withTotal =
      if (groupCols.isEmpty)
        joined.crossJoin(broadcast(c12.agg(count(lit(1)).as("b_types"))))
      else
        joined.join(c12.groupBy(groupCols.map(col): _*)
          .agg(count(lit(1)).as("b_types")), groupCols)
    withTotal.select(
      (groupCols.map(col) :+ col("w1") :+ col("w2") :+
        ((col("c12") - lit(discount)) / col("c1") +
          lit(discount) * col("n1plus_fwd") / col("c1") *
            (col("n1plus_prec") / col("b_types"))).as("p_kn")): _*)
  }

  /** The corpus statistic the KN fit needs: the bigram-type count
    * table (w1, w2, c12). */
  def knBigramCounts(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    knDocBigrams(docs.select(col(idCol).as("doc_id"),
        Fns.words(col(textCol)).as("ws")))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))

  // ---------------------------------------------------------------
  // Frozen / persisted KN model (the CCNet model-artifact shape)
  // ---------------------------------------------------------------

  /** The frozen KN scoring artifact: per bigram type, the exact
    * p_kn double the in-plan fit computes (same shared arithmetic),
    * keyed `w1w2`. Driver-bounded by bigram TYPES — the KenLM
    * model-in-memory shape (CCNet ships the trained model to every
    * scorer; a vocabulary-capped corpus keeps this far below corpus
    * scale, and [[knFreeze]]'s `maxTypes` guard fails loudly rather
    * than silently collecting an unbounded table). */
  final case class KnModel(discount: Double, keys: Array[String],
                           probs: Array[Double]) {
    def asMap: Map[String, Double] = keys.zip(probs).toMap
  }

  private def knSep = "\u0001"

  private def knCollectModel(c12: DataFrame, discount: Double,
                             maxTypes: Int): KnModel = {
    val rows = knModelFromCounts(c12, discount)
      .select(concat_ws(knSep, col("w1"), col("w2")).as("k"), col("p_kn"))
      .limit(maxTypes + 1).collect()
    require(rows.length <= maxTypes,
      s"KN model exceeds maxTypes=$maxTypes bigram types — raise the " +
        "cap explicitly or trim the vocabulary first")
    KnModel(discount, rows.map(_.getString(0)), rows.map(_.getDouble(1)))
  }

  /** Freeze the KN model straight from a training corpus (no store). */
  def knFreeze(docs: DataFrame, idCol: String, textCol: String,
               discount: Double = 0.75, maxTypes: Int = 1000000): KnModel =
    knCollectModel(knBigramCounts(docs, idCol, textCol), discount, maxTypes)

  // Persisted KN count store (additive → Dsir-style shard ledger).
  private def knC12Table(root: String) = s"$root/kn_c12"
  private def knParamsTable(root: String) = s"$root/kn_params"
  private def knAppliedTable(root: String) = s"$root/kn_applied"

  /** Persist the KN count model: the bigram-type table as a
    * VersionedStore artifact with the additive shard ledger (the
    * dsirStore/bpeStore pattern) — a corpus shard updates counts
    * WITHOUT a corpus rescan, and [[knFreezeFromStore]] derives the
    * scoring artifact from stored counts alone. */
  def knBuildStore(docs: DataFrame, idCol: String, textCol: String,
                   root: String, discount: Double = 0.75): Unit = {
    import graft.offline.VersionedStore
    require(discount > 0 && discount < 1)
    val spark = docs.sparkSession
    import spark.implicits._
    VersionedStore.overwrite(
      knBigramCounts(docs, idCol, textCol), knC12Table(root))
    VersionedStore.overwrite(Seq(discount).toDF("discount"),
      knParamsTable(root))
    VersionedStore.overwrite(
      Seq("__init__").toDF("shard_id"), knAppliedTable(root))
  }

  /** Fold one corpus shard's bigram counts into the store: additive
    * keyed MERGE on (w1, w2), EXACTLY-ONCE under the engine-wide
    * [[graft.offline.Ledger.ingestOnce]] intent/done protocol (these
    * counts are declared exact — the KN fit's discount arithmetic
    * reads them — so the classic counts-first/ledger-last crash
    * window's silent double-count is not acceptable here). */
  def knUpsertCounts(shardDocs: DataFrame, idCol: String, textCol: String,
                     root: String, shardId: String): Boolean = {
    import graft.offline.Ledger
    val spark = shardDocs.sparkSession
    Ledger.requireFrameFree(shardId)
    if (Ledger.isApplied(spark, knAppliedTable(root), shardId))
      return false
    Ledger.ingestOnce(spark, knAppliedTable(root), knC12Table(root),
      Seq("w1", "w2"), Seq("c12"),
      knBigramCounts(shardDocs, idCol, textCol), shardId)
  }

  /** Retract one previously-ingested shard from the KN count store —
    * the right-to-be-forgotten path every additive count store
    * carries ([[graft.offline.Ledger.retractOnce]]'s intent/done
    * crash protocol): bigram counts subtract exactly, exhausted
    * bigram types are deleted, and a model frozen afterwards equals
    * one that never saw the shard. */
  def knRetractCounts(shardDocs: DataFrame, idCol: String,
                      textCol: String, root: String,
                      shardId: String): Boolean = {
    import graft.offline.Ledger
    val spark = shardDocs.sparkSession
    Ledger.retractOnce(spark, knAppliedTable(root), knC12Table(root),
      Seq("w1", "w2"), Seq("c12"),
      knBigramCounts(shardDocs, idCol, textCol), shardId)
  }

  /** Freeze the scoring artifact from the stored counts — no corpus
    * scan; equals [[knFreeze]] over the union of every ingested shard
    * (counts are exact longs, the p_kn arithmetic is the one shared
    * code path). Zero-count residue rows (a full-retraction crash
    * window — deleteKeys cannot empty a table) are NOT bigram types
    * the corpus has. */
  def knFreezeFromStore(spark: org.apache.spark.sql.SparkSession,
                        root: String, maxTypes: Int = 1000000): KnModel = {
    import graft.offline.VersionedStore
    val discount = VersionedStore.read(spark, knParamsTable(root))
      .head().getDouble(0)
    knCollectModel(VersionedStore.read(spark, knC12Table(root))
        .filter(col("c12") > 0),
      discount, maxTypes)
  }

  /** Streaming-safe KN scoring against a FROZEN model: one pure
    * projection — the bigram keys, probabilities, and the mean
    * -log2 p all computed by higher-order array functions against a
    * literal map, no explode, no join, no aggregation (the
    * qualityFilterFrozen shape, so it runs in a stream's append mode
    * with zero state). Same output schema as [[knBigramScore]];
    * bigrams the model never saw are skipped from the mean exactly
    * as the in-plan scorer's inner join skips them, so on the
    * training corpus the two agree row-for-row (4dp — the per-doc
    * mean is the one order-dependent double, [[lmScore]]'s rule). */
  def knScoreFrozen(docs: DataFrame, idCol: String, textCol: String,
                    model: KnModel): DataFrame = {
    val mdl = map_from_arrays(lit(model.keys), lit(model.probs))
    // word array and prob array are BOUND (Fns.bound): unbound, the
    // split re-ran per bigram and the whole lookup chain re-ran for
    // each of its three consumers below
    val r = Fns.bound(Fns.words(col(textCol)), ws => {
      val keys2 = when(ws.isNotNull && size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1),
          i => concat_ws(knSep, element_at(ws, i), element_at(ws, i + 1))))
        .otherwise(array().cast("array<string>"))
      Fns.bound(
        filter(transform(keys2, k => element_at(mdl, k)), p => p.isNotNull),
        probs => struct(
          size(probs).cast("long").as("n_bigrams"),
          when(size(probs) > 0,
            round(aggregate(probs, lit(0.0d), (a, p) => a - log2(p)) /
              size(probs), 4)).as("kn_score")))
    })
    docs.select(col(idCol).as("doc_id"), r.as("r"))
      .select(col("doc_id"), col("r.n_bigrams").as("n_bigrams"),
        col("r.kn_score").as("kn_score"))
  }

  /** Thresholds for [[qualityClassifier]] — Gopher/C4-flavored
    * defaults; every bound is explicit so a pipeline's keep/drop
    * policy is reviewable configuration, not code. `maxLmScore`
    * defaults unbounded (the lm band is corpus-relative — callers set
    * it from their corpus's distribution).
    */
  case class QualityThresholds(
      minWords: Long = 50L, maxWords: Long = 100000L,
      minAvgWordLen: Double = 3.0, maxAvgWordLen: Double = 10.0,
      minAlphaRatio: Double = 0.6, minStopwordRatio: Double = 0.0,
      maxTopWordRatio: Double = 0.2, maxTopBigramRatio: Double = 0.18,
      minDistinctRatio: Double = 0.3,
      minLmScore: Double = 0.0,
      maxLmScore: Double = Double.PositiveInfinity)

  /** Composite quality CLASSIFIER — the keep/drop decision a
    * pretraining pipeline actually executes, folding the engine's
    * per-doc signals ([[quality]] size/ratio stats, Gopher-style
    * [[repetitionMetrics]], the CCNet-style [[lmScore]] band) into one
    * boolean plus the FIRST failing rule as `drop_reason` (fixed
    * evaluation order → deterministic attribution; null when kept).
    *
    * All comparisons run on the same rounded signals the component
    * operators output, so the decision is bit-reproducible across
    * engines wherever the component oracles are. Plan: the size,
    * ratio and repetition signals come from ONE narrow [[TextStats]]
    * projection (per input row; equal to the components' per-doc_id
    * aggregates when doc ids are unique); only [[lmScore]], which
    * needs corpus-wide word counts, is computed separately and joined
    * on doc_id. Docs whose signals are missing (NULL text never
    * reaches the lm explode) fail the word_count rule rather than
    * passing silently.
    */
  def qualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                        th: QualityThresholds = QualityThresholds())
  : DataFrame = {
    val sig = withTextStats(docs, idCol, textCol).select(signalCols: _*)
    val l = lmScore(docs, idCol, textCol).select("doc_id", "lm_score")
    attachDecision(sig.join(l, Seq("doc_id"), "left_outer"), th)
  }

  /** The classifier signals except lm_score, over a withTextStats
    * frame — shared by the batch and frozen classifiers. */
  private def signalCols: Seq[Column] = Seq(col("doc_id"),
    nWords.as("n_words"), avgWordLen.as("avg_word_len"),
    stopwordRatio.as("stopword_ratio"), alphaRatio.as("alpha_ratio"),
    topWordRatio.as("top_word_ratio"),
    distinctWordRatio.as("distinct_word_ratio"),
    topBigramRatio.as("top_bigram_ratio"))

  /** The shared keep/drop CASE over identically-named signal columns —
    * one rule order for the batch and frozen classifiers, so the two
    * can never drift. */
  private def attachDecision(signals: DataFrame, th: QualityThresholds)
  : DataFrame = {
    val reason =
      when(col("n_words").isNull ||
        col("n_words") < th.minWords || col("n_words") > th.maxWords,
        "word_count")
      .when(col("avg_word_len") < th.minAvgWordLen ||
        col("avg_word_len") > th.maxAvgWordLen, "word_length")
      .when(col("alpha_ratio") < th.minAlphaRatio, "alpha_ratio")
      .when(col("stopword_ratio") < th.minStopwordRatio, "stopword_ratio")
      .when(col("top_word_ratio") > th.maxTopWordRatio, "top_word")
      .when(col("top_bigram_ratio") > th.maxTopBigramRatio, "top_bigram")
      .when(col("distinct_word_ratio") < th.minDistinctRatio,
        "distinct_words")
      .when(col("lm_score").isNull ||
        col("lm_score") < th.minLmScore || col("lm_score") > th.maxLmScore,
        "lm_score")
      .otherwise(lit(null).cast("string"))
    signals.withColumn("drop_reason", reason)
      .withColumn("keep", col("drop_reason").isNull)
  }

  /** Derive the frozen scoring artifact for
    * [[qualityClassifierFrozen]]: the corpus's `topK` words by count
    * plus the FULL corpus token total (the total covers every token,
    * truncated or not, so frequent-word probabilities stay exact and
    * dropped tail words fall back to the OOV count). One aggregate
    * over the corpus, a topK-bounded driver collect — the artifact is
    * model-sized, version it like one.
    */
  def freezeVocabulary(docs: DataFrame, idCol: String, textCol: String,
                       topK: Int): (Map[String, Long], Long) = {
    require(topK > 0, "topK must be positive")
    val freq = docs.select(explode(Fns.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val total = freq.agg(sum("cnt")).head().getLong(0)
    val top = freq.orderBy(col("cnt").desc, col("w")).limit(topK)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (top, total)
  }

  /** STREAMING-SAFE variant of [[qualityClassifier]]: the same policy
    * as a pure per-row projection — no explode, no per-doc aggregation
    * state, no shuffle — so it applies to a Structured Streaming
    * source in append mode with ZERO state, the shape a production
    * filter takes when new shards arrive continuously.
    *
    * The corpus-relative lm signal scores against a FROZEN vocabulary
    * `(word -> count, totalTokens)` derived OFFLINE (the CCNet shape:
    * the scoring model is a versioned artifact, not recomputed per
    * shard); unseen words fall back to `oovCount`. The vocabulary
    * inlines as a map literal, so size it like a model artifact
    * (top-K words + OOV), not a full open vocabulary. Every other
    * signal comes from the same [[TextStats]] projection and formulas
    * as the batch classifier, and the decision CASE is literally
    * shared, so frozen(batch-vocab) == batch on every signal except
    * lm_score's summation order (both round to 4dp — spec-proven
    * equal on the gate corpus).
    */
  def qualityClassifierFrozen(docs: DataFrame, idCol: String,
                              textCol: String, vocab: Map[String, Long],
                              totalTokens: Long, oovCount: Long = 1L,
                              th: QualityThresholds = QualityThresholds(),
                              keepText: Boolean = false)
  : DataFrame = {
    require(totalTokens > 0, "totalTokens must be positive")
    val t = col(textCol)
    val vocabMap = typedLit(vocab)
    val sig = withTextStats(docs, idCol, textCol, t.as("_text"),
        Fns.words(t).as("ws"))
      .select(signalCols ++ Seq(col("_text"), round(
        aggregate(transform(col("ws"),
            w => -log(coalesce(element_at(vocabMap, w), lit(oovCount))
              / lit(totalTokens.toDouble))),
          lit(0.0), (acc, x) => acc + x) / size(col("ws")), 4)
        .as("lm_score")): _*)
    val cols = Seq("doc_id", "n_words", "avg_word_len", "stopword_ratio",
      "alpha_ratio", "top_word_ratio", "distinct_word_ratio",
      "top_bigram_ratio", "lm_score", "drop_reason", "keep")
    val out = attachDecision(sig, th)
    // keepText: curation chains (e.g. the streaming curate pipeline)
    // need the gated text downstream; the default output is unchanged
    if (keepText) out.select((cols.map(col) :+ col("_text").as("text")): _*)
    else out.select(cols.map(col): _*)
  }

  /** CCNet-style perplexity bucketing: each document's EXACT percent
    * rank of [[lmScore]] over the corpus, split into head (most
    * fluent / lowest surprise), middle, and tail at the given
    * percent-rank cuts — the standard corpus partition for
    * quality-weighted sampling (CCNet trains on the head/middle).
    *
    * Rank is the distributed prefix sum over DISTINCT score values
    * (FeatureEng.runningTotal — the same machinery as quantileLabel:
    * no global sort window, no SinglePartition funnel), with pr =
    * |strictly below| / (n-1), i.e. SQL PERCENT_RANK exactly, so the
    * oracle is a plain window. Ties share one pr by construction.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        loCut: Double = 1.0 / 3, hiCut: Double = 2.0 / 3)
  : DataFrame = {
    require(0 <= loCut && loCut <= hiCut && hiCut <= 1.0,
      s"cuts must satisfy 0 <= lo <= hi <= 1, got [$loCut, $hiCut]")
    // consumed twice (total count + the rank join) — one materialization
    val scores = lmScore(docs, idCol, textCol).localCheckpoint(false)
    val counts = scores.groupBy("lm_score").agg(count(lit(1)).as("cnt"))
    val rt = FeatureEng.runningTotal(counts, "lm_score", "cnt")
    val total = scores.count()
    val below = rt.select(col("ord").as("lm_score"),
      (col("running_total") - col("val")).as("below"))
    scores.join(below, "lm_score")
      .withColumn("pr", round(
        when(lit(total) > 1L,
          col("below") / (lit(total) - 1).cast("double"))
          .otherwise(lit(0.0)), 6))
      .withColumn("ppl_bucket",
        when(col("pr") < loCut, "head")
          .when(col("pr") < hiCut, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lm_score"), col("pr"), col("ppl_bucket"))
  }

  /** CCNet's ACTUAL corpus partition: perplexity head/middle/tail
    * WITHIN EACH LANGUAGE (the pipeline buckets per-language — a
    * fluent Spanish doc must not land in the tail because the corpus
    * is mostly English). Per-doc lm_score as [[lmScore]]; percent
    * rank is per-group: pr = |strictly below within lang| /
    * (n_lang − 1), ties share a pr.
    *
    * Scale shape: the corpus reduces to a (lang, lm_score) COUNT
    * table (map-side combinable, bounded by langs × distinct scores
    * — vocabulary-scale, not corpus-scale); the per-lang running
    * total is a window over THAT table (partitions are
    * distinct-score-sized — no corpus row ever crosses a window),
    * joined back broadcast-style. One corpus scan beyond the LM fit.
    */
  def perplexityBucketsByLang(docs: DataFrame, idCol: String,
                              textCol: String, langCol: String,
                              loCut: Double = 1.0 / 3,
                              hiCut: Double = 2.0 / 3): DataFrame = {
    require(0 <= loCut && loCut <= hiCut && hiCut <= 1.0,
      s"cuts must satisfy 0 <= lo <= hi <= 1, got [$loCut, $hiCut]")
    val scores = lmScore(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"),
        col(langCol).as("lang")), "doc_id")
      .localCheckpoint(false) // feeds the counts AND the rank join
    val counts = scores.groupBy("lang", "lm_score")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy("lm_score")
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = counts
      .withColumn("below", sum("cnt").over(w) - col("cnt"))
      .withColumn("n_lang",
        sum("cnt").over(Window.partitionBy("lang")))
    // ranked is (lang × distinct score)-sized — vocabulary scale by
    // construction, so the join back to the corpus broadcasts
    scores.join(broadcast(ranked), Seq("lang", "lm_score"))
      .withColumn("pr", round(
        when(col("n_lang") > 1L,
          col("below") / (col("n_lang") - 1).cast("double"))
          .otherwise(lit(0.0)), 6))
      .withColumn("ppl_bucket",
        when(col("pr") < loCut, "head")
          .when(col("pr") < hiCut, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("lm_score"), col("pr"),
        col("ppl_bucket"))
  }

  /** CCNet END-TO-END (Wenzek et al. 2020's actual pipeline shape,
    * the capstone over q_lang_id + q_kn_lm + q_ccnet_buckets):
    * heuristic language ID → a PER-LANGUAGE interpolated Kneser-Ney
    * bigram LM trained in-plan (every count table keyed by the
    * predicted language — a separate LM per language, exactly
    * CCNet's per-language KenLM models) → per-language perplexity
    * terciles → keep head + middle. ONE declarative plan; every
    * stage replays in the oracle (the language assignment, the whole
    * per-lang KN fit, the rank arithmetic, the keep gate).
    *
    * Docs with fewer than 2 words have no bigrams, hence no
    * perplexity, hence no rank — they are DROPPED here (declared:
    * CCNet length-gates before its LM; route such docs through
    * [[qualityFilter]]'s explicit minWords gate if they need a
    * decision). 'und'-language docs form their own LM group rather
    * than polluting a real language's perplexity distribution.
    *
    * Scale shape: the LM fit is the same vocabulary²-bounded
    * aggregate family as [[knBigramScore]] with `lang` riding every
    * key (counts map-side combine; model joins are bigram-type-sized);
    * the tercile ranks run over the (lang, kn_score) COUNT table —
    * vocabulary-scale windows, no corpus row crosses one (the
    * [[perplexityBucketsByLang]] shape); the rank table broadcasts
    * back. Output: (doc_id, lang, n_bigrams, kn_score, pr,
    * ppl_bucket) for kept docs.
    */
  def ccnetPipeline(docs: DataFrame, idCol: String, textCol: String,
                    discount: Double = 0.75, loCut: Double = 1.0 / 3,
                    hiCut: Double = 2.0 / 3): DataFrame = {
    require(discount > 0 && discount < 1)
    require(0 <= loCut && loCut <= hiCut && hiCut <= 1.0,
      s"cuts must satisfy 0 <= lo <= hi <= 1, got [$loCut, $hiCut]")
    // one corpus scan: words + language hits together — the SHARED
    // langHitCols/langPredCol assignment (a drifting copy would
    // silently split this pipeline's languages from q_lang_id's)
    val ws = Fns.words(col(textCol))
    val ids = docs.select(
        (col(idCol).as("doc_id") +: ws.as("ws") +:
          langHitCols(ws).map { case (l, c) => c.as(s"hits_$l") }): _*)
      .withColumn("lang", langPredCol)
      .select("doc_id", "ws", "lang")
    ccnetFromIds(ids, discount, loCut, hiCut)
  }

  /** [[ccnetPipeline]] with the PRODUCTION language assigner: the
    * frozen fastText-multiclass scorer
    * ([[FtClassify.scoreFrozenMc]]'s argmax label — CCNet's actual
    * langid is a fastText model, not a stopword heuristic) in place
    * of the in-plan heuristic, feeding the IDENTICAL per-language
    * KN fit + tercile + keep body (the declared-twin pattern every
    * frozen scorer follows: spec-held row-equal to the heuristic
    * pipeline on the docs where the two assigners agree — restrict
    * to the agreeing subset and the pipelines are the same function).
    * The scorer is ONE gram-pass projection; its labels join the
    * word projection on doc_id (one keyed shuffle the heuristic path
    * avoids — the price of a pluggable assigner). Docs the scorer
    * drops (no words) are dropped here too, matching the <2-word
    * drop downstream. */
  def ccnetPipelineFt(docs: DataFrame, idCol: String, textCol: String,
                      model: FtClassify.FtMcModel,
                      discount: Double = 0.75, loCut: Double = 1.0 / 3,
                      hiCut: Double = 2.0 / 3): DataFrame = {
    require(discount > 0 && discount < 1)
    require(0 <= loCut && loCut <= hiCut && hiCut <= 1.0,
      s"cuts must satisfy 0 <= lo <= hi <= 1, got [$loCut, $hiCut]")
    val pred = FtClassify.scoreFrozenMc(docs, idCol, textCol, model)
      .select(col("doc_id"), col("pred_label").as("lang"))
    val ids = docs.select(col(idCol).as("doc_id"),
        Fns.words(col(textCol)).as("ws"))
      .join(pred, "doc_id")
    ccnetFromIds(ids, discount, loCut, hiCut)
  }

  /** The ONE CCNet body both language assigners feed: per-language
    * KN fit (lang rides every model key through the shared
    * [[knModelFromCounts]] arithmetic), per-language perplexity
    * terciles over the (lang, kn_score) COUNT table, head+middle
    * keep. `ids` = (doc_id, ws, lang). */
  private def ccnetFromIds(ids: DataFrame, discount: Double,
                           loCut: Double, hiCut: Double): DataFrame = {
    val big = knDocBigrams(ids.select(col("doc_id"), col("ws")))
      .join(ids.select(col("doc_id"), col("lang")), "doc_id")
    val c12 = big.groupBy("lang", "w1", "w2")
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint(false) // feeds 3 derived tables + the total
    val model = knModelFromCounts(c12, discount, Seq("lang"))
    val scored = big.join(model, Seq("lang", "w1", "w2"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log2(col("p_kn"))), 4).as("kn_score"))
      .localCheckpoint(false) // feeds the counts AND the rank join
    // per-language terciles over the (lang, kn_score) COUNT table
    val counts = scored.groupBy("lang", "kn_score")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy("kn_score")
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = counts
      .withColumn("below", sum("cnt").over(w) - col("cnt"))
      .withColumn("n_lang",
        sum("cnt").over(Window.partitionBy("lang")))
    scored.join(broadcast(ranked), Seq("lang", "kn_score"))
      .withColumn("pr", round(
        when(col("n_lang") > 1L,
          col("below") / (col("n_lang") - 1).cast("double"))
          .otherwise(lit(0.0)), 6))
      .withColumn("ppl_bucket",
        when(col("pr") < loCut, "head")
          .when(col("pr") < hiCut, "middle")
          .otherwise("tail"))
      .filter(col("ppl_bucket") =!= "tail") // the CCNet keep
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("kn_score"), col("pr"), col("ppl_bucket"))
  }

  /** ZIPF-FIT corpus health report (one row): OLS of ln(count) on
    * ln(rank) over the word frequency table — natural text fits a
    * power law with slope ≈ −1 (Zipf 1949); a templated/synthetic/
    * deduplication-damaged corpus shows a slope far from −1 or a low
    * R², making this the "is the corpus language-shaped" gate next
    * to q_tok_stats and q_corpus_report.
    *
    * DETERMINISM (the engine's exact-sum idiom): rank is a total
    * order (count desc, word asc); each per-row OLS term (ln r,
    * ln c, their products) is ONE double round-trip over exact
    * integers, rounded to micros per row, then summed EXACTLY as
    * longs; the closed-form slope/intercept/R² derive from the six
    * exact sums at the end with one shared expression text, so the
    * oracle replays bit-for-bit. Degenerate fits (V = 1, or zero
    * variance) surface as NULLs, never NaN.
    *
    * Scale shape: one corpus scan to the vocabulary-sized frequency
    * table (map-side combinable); the rank window runs over THAT
    * table (vocabulary ~ corpus^0.5, Heaps' law — documented
    * SinglePartition over a model-sized frame, the freezeVocabulary
    * precedent); the report is one aggregate row.
    */
  def zipfFit(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val freq = docs.select(explode(Fns.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val ranked = freq.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("w")))
        .cast("long"))
    val sums = ranked.select(
        expr("CAST(round(1e6 * ln(rank)) AS BIGINT)").as("xm"),
        expr("CAST(round(1e6 * ln(cnt)) AS BIGINT)").as("ym"),
        expr("CAST(round(1e6 * ln(rank) * ln(cnt)) AS BIGINT)").as("xym"),
        expr("CAST(round(1e6 * ln(rank) * ln(rank)) AS BIGINT)").as("xxm"),
        expr("CAST(round(1e6 * ln(cnt) * ln(cnt)) AS BIGINT)").as("yym"),
        col("cnt"))
      .agg(count(lit(1)).as("v"), sum("cnt").as("n_tokens"),
        sum("xm").as("sx"), sum("ym").as("sy"), sum("xym").as("sxy"),
        sum("xxm").as("sxx"), sum("yym").as("syy"),
        min("ym").as("minym"), max("ym").as("maxym"))
    sums.select(col("v").as("vocab"), col("n_tokens"),
      expr(zipfSlopeSql).as("slope"),
      expr(zipfInterceptSql).as("intercept"),
      expr(zipfR2Sql).as("r2"))
  }

  /** The closed-form OLS expressions over the six exact sums — ONE
    * text shared verbatim by the Spark plan and the DuckDB oracle
    * (they cannot drift). */
  // Degeneracy guards test the EXACT integer sources — v for the
  // rank axis, the MICRO-y range (min(ym) = max(ym)) for the count
  // axis: counts that differ but round to the same micro ln value
  // are zero-variance in the regression's actual y-space, so a
  // raw-count range test would let a garbage residue ratio through
  // as R² (and a sum-based zero test fails the other way — per-row
  // rounding leaves ≤1e-6 residues in the sums).
  private[graft] val zipfSlopeSql: String =
    """CASE WHEN v <= 1 THEN NULL
      |ELSE round((v * (sxy / 1e6) - (sx / 1e6) * (sy / 1e6))
      |  / (v * (sxx / 1e6) - (sx / 1e6) * (sx / 1e6)), 6) END"""
      .stripMargin.replace("\n", " ")
  private[graft] val zipfInterceptSql: String =
    """CASE WHEN v <= 1 THEN NULL
      |ELSE round((sy / 1e6 - ((v * (sxy / 1e6) - (sx / 1e6) * (sy / 1e6))
      |  / (v * (sxx / 1e6) - (sx / 1e6) * (sx / 1e6))) * (sx / 1e6)) / v,
      |  6) END""".stripMargin.replace("\n", " ")
  private[graft] val zipfR2Sql: String =
    """CASE WHEN v <= 1 OR minym = maxym THEN NULL
      |ELSE round((v * (sxy / 1e6) - (sx / 1e6) * (sy / 1e6))
      |  * (v * (sxy / 1e6) - (sx / 1e6) * (sy / 1e6))
      |  / ((v * (sxx / 1e6) - (sx / 1e6) * (sx / 1e6))
      |   * (v * (syy / 1e6) - (sy / 1e6) * (sy / 1e6))), 6) END"""
      .stripMargin.replace("\n", " ")

  /** Token counting: whitespace tokens, a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation), and the
    * chars/4 heuristic LLM-token estimate.
    */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol).as("doc_id"),
      length(t).cast("long").as("n_chars"),
      size(Fns.words(t)).cast("long").as("ws_tokens"),
      size(regexp_extract_all(t, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("re_tokens"),
      floor((length(t) + 3) / 4).cast("long").as("est_bpe_tokens"))
  }

  /** C4-style cleaning filter: keep documents passing all quality
    * gates (word-count band, mean word length band, bounded digit /
    * stopword ratios). Pure narrow transformation — composes with
    * dedup keep-lists for the full curation pipeline. Returns the
    * surviving doc ids with their quality row.
    */
  def cleanFilter(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 10, maxWords: Int = 100000,
                  minAvgWordLen: Double = 2.0, maxAvgWordLen: Double = 12.0,
                  maxDigitRatio: Double = 0.3,
                  maxStopwordRatio: Double = 0.6): DataFrame =
    quality(docs, idCol, textCol)
      .filter(col("n_words").between(minWords, maxWords) &&
        col("avg_word_len").between(minAvgWordLen, maxAvgWordLen) &&
        col("digit_ratio") <= maxDigitRatio &&
        col("stopword_ratio") <= maxStopwordRatio)

  /** Sliding-window document chunking — the RAG / pretraining prep
    * step: each document becomes ceil(max(n−window,0)/stride)+1
    * chunks of up to `window` whitespace tokens, consecutive chunks
    * overlapping by `window − stride` tokens so no span is lost at a
    * boundary. Pure generate-and-project (explode over a sequence
    * literal): no shuffle, no state, linear in corpus size — each
    * task chunks its own documents.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    docs.select(col(idCol).as("doc_id"), Fns.words(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
      .filter(col("n") > 0) // NULL text → NULL n → dropped here
      .withColumn("chunk_idx", explode(sequence(lit(0),
        greatest(ceil((col("n") - window).cast("double") / stride)
          .cast("int"), lit(0)))))
      // every generated start is in-bounds: the last chunk_idx is
      // ceil((n−window)/stride), whose start is ≤ n−window+stride−1
      // ≤ n−1 because stride ≤ window (enforced above)
      .withColumn("start", col("chunk_idx") * stride)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("ws"), col("start") + 1, lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), col("n") - col("start")).cast("long")
          .as("n_tokens"))
  }

  /** TF-IDF keyword extraction: the `topK` most characteristic terms
    * per document, scored (tf / doc_len) · (ln((N+1)/(df+1)) + 1)
    * (the smoothed-idf form, so corpus-universal terms score low but
    * never negative). The relevance/keyword primitive of a curation
    * pipeline — cluster labeling, topic filtering, index building.
    *
    * Scale shape: ONE tokenize/explode pass feeding one (doc, term)
    * aggregate, from which doc lengths and document frequencies both
    * derive (no count-distinct, no second explode); the corpus size
    * is a broadcast scalar. The term-df join shuffles on term, then
    * everything else stays on the doc_id partitioning — the final
    * window reuses the dlen join's exchange.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
            topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val words = base
      .select(col("doc_id"), explode(Fns.words(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // dlen and df both derive from the (doc, term) aggregate, NOT from
    // a second pass over `words`: the corpus is tokenized once, and the
    // three consumers of `tf` share its exchange (ReusedExchange).
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfreq, "term")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        (col("tf") / col("dlen")) *
          (log((col("n_docs") + 1) / (col("df") + 1)) + 1), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select("doc_id", "term", "tfidf")
  }

  /** Normalized document fingerprint: lowercase, collapse whitespace,
    * trim, md5 — the canonical near-exact-dup key.
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      md5(trim(regexp_replace(lower(col(textCol)), " +", " ")))
        .as("fingerprint"))

  /** MOSS-style WINNOWING fingerprints (Schleimer et al., SIGMOD
    * 2003): md5 each k-word gram, slide a w-gram window over the gram
    * sequence, and keep each window's MINIMUM hash. The winnowing
    * guarantee: any run of >= k+w-1 shared words between two
    * documents yields at least one shared fingerprint — full
    * shingling's detection floor at ~1/w of its fingerprint volume,
    * which is what makes fingerprint indexes tractable at corpus
    * scale. Documents shorter than k words emit nothing; documents
    * with fewer than w grams emit their single overall minimum.
    *
    * Returns one row per distinct (doc_id, fp). Pure projection +
    * explode — no join, no shuffle; candidate pairs come from the
    * same inverted-index equi-join the other dedup families use
    * (group by fp, cap hyper-frequent fps like ngramJaccard's maxDf).
    * md5 hex minima are portable (lexicographic ASCII order in any
    * engine) — swap ShingleHash in production when oracle portability
    * is not needed.
    */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
             k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
    val ws = filter(Fns.words(col(textCol)), x => x =!= "")
    // guard short docs: sequence(1, 0) DESCENDS in Spark
    val gIdx = when(size(ws) >= k, sequence(lit(1), size(ws) - (k - 1)))
      .otherwise(array())
    val grams = transform(gIdx,
      i => md5(array_join(slice(ws, i, lit(k)), " ")))
    docs.select(col(idCol).as("doc_id"), grams.as("g"))
      .withColumn("wi", when(size(col("g")) >= 1,
        sequence(lit(1), greatest(lit(1), size(col("g")) - (w - 1))))
        .otherwise(array()))
      .select(col("doc_id"), explode(array_distinct(transform(col("wi"),
        j => array_min(slice(col("g"), j, lit(w)))))).as("fp"))
  }

  /** Corpus-level frequent n-gram mining — the boilerplate DISCOVERY
    * diagnostic that pairs with the cutting passes (lineDedup /
    * overlapSpans): the k n-grams appearing in the most documents,
    * with document frequency and total occurrence count, tie-broken
    * (df desc, count desc, ngram asc) so the result is a total order.
    *
    * Scale shape: one explode, then TWO-LEVEL aggregation — per
    * (ngram, doc) occurrence counts first (map-side combine collapses
    * a document's repeats before anything shuffles), then per-ngram
    * (df, cnt) from the pair counts. This carries strictly less
    * shuffle volume than count_distinct, whose Expand doubles every
    * occurrence row. The global top-k runs as orderBy+limit, which
    * Spark executes as TakeOrderedAndProject — each partition keeps
    * its own k and the driver merges k·partitions rows, never a
    * single-partition sort of the full n-gram table.
    */
  def topNgrams(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 3, k: Int = 20): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")
    // the word array is BOUND so the split+filter runs once per row —
    // an unbound capture re-evaluates it per gram (Fns.bound's doc)
    val grams = Fns.bound(filter(Fns.words(col(textCol)), w => w =!= ""),
      ws => {
        // guard short docs explicitly: sequence(1, 0) DESCENDS in
        // Spark, so the no-gram case must be an empty array
        val idx = when(size(ws) >= n, sequence(lit(1), size(ws) - (n - 1)))
          .otherwise(array())
        transform(idx, i => array_join(slice(ws, i, lit(n)), " "))
      })
    docs.select(col(idCol).as("doc_id"), explode(grams).as("ngram"))
      .groupBy("ngram", "doc_id").agg(count(lit(1)).as("occ"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("df"), sum(col("occ")).as("cnt"))
      .orderBy(col("df").desc, col("cnt").desc, col("ngram").asc)
      .limit(k)
  }

  /** The default PII rule chain: (name, pattern, replacement), applied
    * IN ORDER — emails first so their digit runs can't be half-eaten
    * by the numeric rules, IPv4 before the bare digit-run rule for the
    * same reason. Patterns stick to character classes + bounded
    * repetition (no lookaround, no backrefs) so they mean the same
    * thing under Java regex here and RE2 in external validators.
    */
  val PiiRules: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("id", "[0-9]{9,}", "<ID>"))

  /** PII redaction — the anonymization pass every shareable training
    * corpus needs (the CCNet/Dolma pipelines run exactly this shape):
    * each rule's matches are replaced with its marker token, rules
    * applied as a staged fold so a later rule sees the earlier rules'
    * output, never their raw matches. Emits the redacted text plus a
    * per-rule match count, counted against the text AS THAT RULE SAW
    * IT (so the counts sum to the number of replacements actually
    * made, even when rule domains overlap).
    *
    * Pure projection — every rule is a codegen'd `regexp_replace` /
    * `regexp_count`, zero shuffles, linear in corpus size; at 100 TB
    * this runs at parquet-scan speed per partition.
    */
  def redactPii(docs: DataFrame, idCol: String, textCol: String,
                rules: Seq[(String, String, String)] = PiiRules)
  : DataFrame = {
    require(rules.nonEmpty, "need at least one redaction rule")
    require(rules.map(_._1).distinct.size == rules.size,
      "rule names must be unique — each emits its own n_<name> column")
    // replacements are literal tokens: Spark's regexp_replace treats
    // $<digit> in the replacement as a group reference
    require(rules.forall(!_._3.contains("$")),
      "replacement tokens must not contain '$' (group-reference syntax)")
    val staged = rules.scanLeft(col(textCol)) { case (t, (_, pat, repl)) =>
      regexp_replace(t, lit(pat), lit(repl))
    }
    val counts = rules.zip(staged).map { case ((name, pat, _), seen) =>
      regexp_count(seen, lit(pat)).cast("long").as(s"n_$name")
    }
    docs.select(
      (col(idCol).as("doc_id") +: staged.last.as("text_redacted") +:
        counts): _*)
  }

  /** Corpus DATA-CARD report: per-dimension-tuple (e.g. source ×
    * lang) document count, whitespace-token and character volumes,
    * and mean document length — the composition summary every
    * released training corpus ships with (and the denominator table
    * domain-mixing decisions read from). One scan, one map-side-
    * combining shuffle, |dim tuples| result rows — at 100 TB this is
    * the cheapest query in the suite.
    */
  def corpusReport(docs: DataFrame, textCol: String,
                   dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "report needs at least one dimension")
    docs.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("ws_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        round(avg(length(col(textCol))), 6).as("avg_chars"))
  }

  /** K-ANONYMOUS data card: [[corpusReport]] with small-cell
    * suppression — any cell describing fewer than `k` documents keeps
    * its dimension values but NULLs every measure and raises
    * `suppressed` (the standard statistical-disclosure-control rule:
    * a "corpus slice of 2 docs from source X in language Y" row can
    * identify its members' contributions; publishing the cell's
    * existence without its measures cannot). The row is kept, not
    * dropped — downstream consumers must see that a cell exists and
    * was withheld, or sums over published cells silently lie.
    *
    * Same single map-side-combinable aggregate as corpusReport; the
    * suppression is a projection on top.
    */
  def corpusReportKAnon(docs: DataFrame, textCol: String,
                        dims: Seq[String], k: Long): DataFrame = {
    require(k >= 1)
    val rep = corpusReport(docs, textCol, dims)
    val sup = col("n_docs") < k
    rep.select(dims.map(col) ++ Seq(
      when(!sup, col("n_docs")).as("n_docs"),
      when(!sup, col("ws_tokens")).as("ws_tokens"),
      when(!sup, col("n_chars")).as("n_chars"),
      when(!sup, col("avg_chars")).as("avg_chars"),
      sup.as("suppressed")): _*)
  }

  /** VOCABULARY DRIFT between two corpus slices — the crawl-over-crawl
    * monitoring number: Population Stability Index over the word
    * distribution, binned to the top-K combined-count words plus one
    * `<other>` bucket so the bin space is bounded and comparable
    * across runs (open-vocabulary PSI would make every new hapax its
    * own bin). Same smoothing family as [[graft.stats.Profiler
    * .psiDrift]] (+0.5 per bin); per-bin contributions are rounded to
    * 6dp and summed as exact decimal, so the total is independent of
    * bin add-order on any engine (the DSIR dot-product discipline).
    * Returns one row (n_bins, tokens_a, tokens_b, psi). Callers
    * filter `docs` to the two slices; `isA` selects side A.
    *
    * Scale shape: one explode into a map-side-combinable word-count
    * aggregate; top-K via TakeOrderedAndProject (no global sort, no
    * single-partition funnel); the bin table is K+1 rows from there on.
    */
  def corpusDrift(docs: DataFrame, textCol: String, isA: Column,
                  topK: Int = 1000): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    // rows where isA is NULL belong to neither side: without the
    // filter their words would count into neither ca nor cb yet still
    // occupy top-K bins as (0,0) rows, silently perturbing n_bins and
    // the smoothing mass
    val words = docs.filter(col(textCol).isNotNull && isA.isNotNull)
      .select(isA.as("in_a"), explode(Fns.words(col(textCol))).as("w"))
    val counts = words.groupBy("w").agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb"))
    // localCheckpoint: the top-K set feeds both the semi and the anti
    // join; uncheckpointed, the counts aggregate + TakeOrdered would
    // run once per consumer
    val top = counts.orderBy((col("ca") + col("cb")).desc, col("w"))
      .limit(topK).select("w").localCheckpoint(false)
    val topBins = counts.join(top, Seq("w"), "left_semi")
    val other = counts.join(top, Seq("w"), "left_anti")
      .agg(sum("ca").as("ca"), sum("cb").as("cb"))
      .select(lit("<other>").as("w"), col("ca"), col("cb"))
      .filter(col("ca") + col("cb") > 0) // absent bucket adds no
                                         // smoothing mass
    val bins = topBins.unionByName(other)
    val totals = bins.agg(sum("ca").as("ta"), sum("cb").as("tb"),
      count(lit(1)).as("nb"))
    val pa = (col("ca") + 0.5) / (col("ta") + col("nb") * 0.5)
    val pb = (col("cb") + 0.5) / (col("tb") + col("nb") * 0.5)
    bins.crossJoin(broadcast(totals))
      .select(col("ta"), col("tb"), col("nb"),
        round((pa - pb) * log(pa / pb), 6).cast("decimal(18,6)").as("term"))
      .groupBy("ta", "tb", "nb")
      .agg(sum("term").cast("double").as("psi"))
      .select(col("nb").cast("long").as("n_bins"), col("ta").as("tokens_a"),
        col("tb").as("tokens_b"), col("psi"))
  }

  /** Per-document n-gram NOVELTY: how much of each document's distinct
    * word-n-gram set appears NOWHERE else in the corpus (document
    * frequency exactly 1). The data-selection signal dual to
    * [[Dedup.decontaminationScores]]: where contamination measures
    * overlap with a reference set, novelty measures a document's
    * unique contribution to corpus diversity — low-novelty documents
    * are template instantiations and boilerplate shells that survive
    * document-level dedup, high-novelty documents carry content no
    * other document supplies. Returns (doc_id, n_shingles, n_unique,
    * novelty_frac); docs shorter than n words have no shingles and no
    * row (same contract as decontaminationScores).
    *
    * Scale shape: shingles are per-doc distinct by construction
    * (ShingleHash dedupes), so count(*) per shingle IS document
    * frequency — one explode, a map-side-combinable df aggregate, and
    * a self-equi-join on the shingle hash that reuses the aggregate's
    * exchange (the explicit repartition below makes the df aggregate
    * and the join's probe side read ONE shared shuffle). Everything is
    * linear in total shingle count; no pair generation anywhere.
    */
  def novelty(docs: DataFrame, idCol: String, textCol: String,
              n: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.ShingleHash.shingles(col(textCol), n))
          .as("s"))
      .repartition(col("s"))
    val df1 = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(df1, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_frac",
        round(col("n_unique") / col("n_shingles"), 6))
  }
}
