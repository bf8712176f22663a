package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-family) subword tokenizer — the second
  * of the two standard public tokenizer trainers (Kudo 2018,
  * "Subword Regularization"; [[Bpe]] is the other): a vocabulary of
  * variable-length pieces with costs, and encoding = the Viterbi
  * minimum-cost segmentation of each word. Training here is the
  * VITERBI-EM (hard-EM) variant: re-segment under the current costs,
  * re-estimate costs from piece usage, prune to the target size —
  * each round ONE pure-projection encode over the distinct-word
  * table plus one vocabulary-sized groupBy (cf. reference
  * vocab_processor.py's external subword step; the reference ships no
  * trainer at all — its python pipelines call out to a pre-built
  * tokenizer).
  *
  * Scale shape (the [[Bpe]] contract): the corpus is scanned ONCE
  * (word counts); every training round and every encode touches only
  * the DISTINCT-WORD table (vocabulary-sized) or runs as a pure
  * per-row projection with the cost table broadcast as a literal map
  * — no shuffle, no join, stream-safe. The Viterbi DP itself is the
  * native [[graft.functions.UnigramViterbi]] expression (the
  * HashedGramScore tier: a custom codegen Expression, not a UDF):
  * O(|word| · maxPieceLen) arcs per word at O(1) hash-map cost each.
  *
  * TWO COST FAMILIES (the md5-oracle / xxhash-production split the
  * sketch family declares, Sketch.scala):
  *  - [[integerCosts]]: cost = (total·10^6) div cnt — integer-closed,
  *    so seed → costs → Viterbi → tie-break replays EXACTLY in
  *    portable SQL (q_unigram_encode's oracle enumerates every
  *    segmentation and applies the same total order);
  *  - [[logCosts]]: cost = round(−10^6·ln(cnt/total)) — the true
  *    negative-log-likelihood in micro-nats (the LinkGraph
  *    fixed-point precedent), used by the trainer; doubles never
  *    leave the JVM, so the fit is reproducible but declared
  *    rows-only (ln is not portably bit-stable across engines).
  *
  * Determinism: Viterbi ties break toward the SMALLEST piece start
  * at every position (⇒ the longest final piece), which equals the
  * global rule "among minimum-cost segmentations, the one whose
  * breakpoint sequence read right-to-left is smallest" — total-order
  * deterministic, and exactly replayable by an oracle that sorts
  * full paths on (cost, reversed-breakpoint key).
  */
object Unigram {

  /** One trained model: the final piece table
    * (piece, cnt, cost_micro) and the final per-word segmentation
    * (word, pieces) — both vocabulary-sized. */
  final case class UnigramModel(vocab: DataFrame, wordPieces: DataFrame,
                                maxPieceLen: Int)

  // --- seed vocabulary ------------------------------------------------

  /** Candidate pieces: every substring of length 1..`maxPieceLen` of
    * every corpus word, counted per OCCURRENCE (word count × start
    * positions). Input is a (word, cnt) table
    * ([[Bpe.corpusWordCounts]] — the one corpus statistic the whole
    * family consumes). Output: (piece, cnt), vocabulary-sized. */
  def candidatePieces(wordCounts: DataFrame, maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1)
    wordCounts
      .select(col("cnt").cast("long").as("cnt"), explode(expr(
        s"""filter(flatten(transform(sequence(1, length(word)), i ->
           |  transform(sequence(1, $maxPieceLen), l ->
           |    IF(i + l - 1 <= length(word),
           |       substring(word, i, l), NULL)))),
           |  p -> p IS NOT NULL)""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("cnt"))
  }

  /** Seed vocabulary: the `topK` candidates by (cnt desc, piece asc)
    * UNION every single-character piece (coverage guarantee — any
    * word over the corpus alphabet stays encodable after any
    * pruning). The top-k is a distributed `orderBy(..).limit(k)`:
    * each partition keeps its own k best before the merge, so no
    * single-partition window ever sees the whole candidate table
    * (pieces are unique after the aggregate, so the order is total). */
  def seedVocab(wordCounts: DataFrame, maxPieceLen: Int,
                topK: Int): DataFrame = {
    require(topK >= 1)
    val cand = candidatePieces(wordCounts, maxPieceLen)
    val top = cand.orderBy(col("cnt").desc, col("piece")).limit(topK)
    top.union(cand.filter(length(col("piece")) === 1)).distinct()
  }

  // --- the two cost families ------------------------------------------

  /** Integer-closed costs — the ORACLE family: cost_micro =
    * (Σcnt · 10^6) div cnt. Monotone in frequency, exact in BIGINT,
    * replayable in portable SQL. Input/output: (piece, cnt) →
    * (piece, cnt, cost_micro).
    *
    * Guarded against silent Long overflow: Σcnt · 10^6 wraps past
    * ~9.2e12 total piece occurrences (a multi-terabyte corpus), where
    * a wrapped-negative cost would make the DP PREFER the rarest
    * pieces with no error. This family exists for exact SQL replay at
    * verification scale; production encoding uses [[logCosts]], whose
    * micro-nat costs stay tiny at any corpus size. */
  def integerCosts(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum("cnt").cast("long").as("total"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        when(col("total") <= Long.MaxValue / 1000000L,
          expr("CAST((total * 1000000) DIV cnt AS BIGINT)"))
          .otherwise(raise_error(concat(
            lit("integerCosts: total piece count "), col("total"),
            lit(" overflows micro scaling - use logCosts at this " +
              "corpus size"))))
          .as("cost_micro"))
  }

  /** Negative log-likelihood in micro-nats — the PRODUCTION family:
    * cost_micro = round(−10^6 · ln(cnt / Σcnt)). */
  def logCosts(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum("cnt").cast("double").as("total"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        round(lit(-1000000.0d) * log(col("cnt") / col("total")))
          .cast("long").as("cost_micro"))
  }

  // --- Viterbi encode -------------------------------------------------

  /** Viterbi-encode the `word` column of a (word, …) frame against a
    * frozen cost map: (word, pieces, n_pieces, cost_micro), other
    * columns preserved. The DP runs as the native
    * [[graft.functions.UnigramViterbi]] expression — a real hash map
    * behind a codegen projection, O(|word|·maxPieceLen) arcs at O(1)
    * each (an `element_at` literal-map fold pays a LINEAR vocab scan
    * per arc — ~20× slower at a 2k-piece vocabulary, measured). A
    * word no vocab path covers comes back with pieces = NULL
    * (impossible under any model this object builds —
    * single-character pieces always survive — but callers handing a
    * hand-made map are told, not garbage'd). Empty words are
    * dropped. */
  def encodeWords(words: DataFrame, costs: Map[String, Long],
                  maxPieceLen: Int): DataFrame = {
    require(costs.nonEmpty, "empty cost model")
    words.filter(col("word").isNotNull && col("word") =!= "")
      .withColumn("__uvr", graft.functions.UnigramViterbi.segment(
        col("word"), costs, maxPieceLen))
      .withColumn("pieces", col("__uvr.pieces"))
      .withColumn("n_pieces",
        when(col("__uvr").isNotNull, size(col("__uvr.pieces")).cast("long")))
      .withColumn("cost_micro", col("__uvr.cost_micro"))
      .drop("__uvr")
  }

  /** The shared doc-level tokenize/assemble projection: words split,
    * empties dropped, each (word, occurrence-index) segmented by
    * `perWord` (a struct (pieces, cost_micro) column, NULL =
    * unreachable → the raw word passes through so the output is
    * total), pieces flattened to (doc_id, n_tokens, encoded). ONE
    * implementation so the exact and sampled encodes cannot drift in
    * tokenization mechanics (UnigramSpec asserts their alpha-0
    * equality on top). */
  private def encodeDocsWith(docs: DataFrame, idCol: String,
                             textCol: String)
                            (perWord: (Column, Column) => Column)
  : DataFrame =
    docs.select(col(idCol).as("doc_id"),
        coalesce(graft.functions.Fns.words(col(textCol)),
          array().cast("array<string>")).as("__uws"))
      .withColumn("__toks", flatten(transform(
        filter(col("__uws"), w => w =!= lit("")),
        (w, idx) => {
          val r = perWord(w, idx)
          when(r.isNotNull, r.getField("pieces")).otherwise(array(w))
        })))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        concat_ws(" ", col("__toks")).as("encoded"))

  /** Doc-level encode as ONE pure projection (stream-safe, the
    * frozen-scorer contract): every word of every document Viterbi-
    * segmented in place — (doc_id, n_tokens, encoded). Unreachable
    * words (impossible with this object's models) contribute their
    * raw form, so the output is total. */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
                 costs: Map[String, Long], maxPieceLen: Int): DataFrame = {
    require(costs.nonEmpty, "empty cost model")
    encodeDocsWith(docs, idCol, textCol)((w, _) =>
      graft.functions.UnigramViterbi.segment(w, costs, maxPieceLen))
  }

  /** SUBWORD-REGULARIZED doc-level encode (Kudo 2018): each word
    * OCCURRENCE samples a segmentation via seeded Gumbel
    * perturb-and-MAP ([[graft.functions.UnigramSample]]) — the
    * training-data augmentation mode: the same corpus encodes
    * differently under different seeds (epochs), identically under
    * the same seed (replay-exact, the engine's seeded-draw
    * contract). alphaMicro = 0 is bit-equal to [[encodeDocs]]
    * (spec-held); still ONE pure projection, stream-safe. */
  def encodeDocsSampled(docs: DataFrame, idCol: String, textCol: String,
                        costs: Map[String, Long], maxPieceLen: Int,
                        alphaMicro: Long, seed: Long): DataFrame = {
    require(costs.nonEmpty, "empty cost model")
    encodeDocsWith(docs, idCol, textCol)((w, idx) =>
      graft.functions.UnigramSample.segment(w,
        xxhash64(lit(seed), col("doc_id"), idx), costs,
        maxPieceLen, alphaMicro))
  }

  // --- Viterbi-EM trainer ---------------------------------------------

  /** Train a unigram vocabulary by hard (Viterbi) EM: seed with the
    * `seedTopK` most frequent substrings (+ all single characters),
    * then `rounds` times — segment the distinct-word table under the
    * current [[logCosts]], re-count pieces by USAGE (occurrences
    * weighted by word count), keep the `vocabSize` most used (+ the
    * single characters, floored at count 1 so their cost stays
    * finite — the coverage guarantee). Deterministic: every rank
    * breaks ties on (cnt desc, piece asc); the segmentation itself
    * is the total-order Viterbi above.
    *
    * Each round costs one vocabulary-sized collect (the cost map —
    * the [[Bpe]] rule-table contract), one pure-projection encode of
    * the distinct words, and one vocabulary-sized groupBy. The
    * corpus is never rescanned after the initial word count. */
  def train(docs: DataFrame, idCol: String, textCol: String,
            vocabSize: Int, maxPieceLen: Int = 4, rounds: Int = 3,
            seedTopK: Int = 0): UnigramModel = {
    val wc = Bpe.corpusWordCounts(docs, idCol, textCol)
      .select(col("word"), col("cnt").cast("long").as("cnt"))
      .localCheckpoint(false)
    trainFromCounts(wc, vocabSize, maxPieceLen, rounds, seedTopK)
  }

  /** [[train]] over a pre-computed (word, cnt) table — the entry a
    * persisted word-count store (the [[Bpe.buildVocabStore]] family)
    * retrains through without a corpus scan. */
  def trainFromCounts(wordCounts: DataFrame, vocabSize: Int,
                      maxPieceLen: Int = 4, rounds: Int = 3,
                      seedTopK: Int = 0): UnigramModel = {
    require(vocabSize >= 1 && rounds >= 1)
    val seedK = if (seedTopK >= 1) seedTopK else 4 * vocabSize
    var vocab = seedVocab(wordCounts, maxPieceLen, seedK)
      .localCheckpoint(false)
    val singles = vocab.filter(length(col("piece")) === 1)
      .select("piece").localCheckpoint(false)
    var round = 0
    while (round < rounds) {
      val costs = collectCosts(logCosts(vocab))
      val usage = wordCounts
        .join(encodeWords(wordCounts.select("word"), costs, maxPieceLen)
          .select("word", "pieces"), Seq("word"))
        .select(col("cnt"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("cnt"))
      val kept = usage.orderBy(col("cnt").desc, col("piece"))
        .limit(vocabSize)
      // coverage: single characters survive pruning even at zero
      // usage (count floored to 1 so ln stays finite)
      vocab = kept
        .union(singles.join(usage, Seq("piece"), "left_outer")
          .select(col("piece"), coalesce(col("cnt"), lit(1L)).as("cnt"))
          .withColumn("cnt", greatest(col("cnt"), lit(1L))))
        .groupBy("piece").agg(max("cnt").as("cnt"))
        .localCheckpoint(false)
      round += 1
    }
    val finalVocab = logCosts(vocab)
    val segs = encodeWords(wordCounts.select("word"),
        collectCosts(finalVocab), maxPieceLen)
      .select("word", "pieces")
    UnigramModel(finalVocab, segs, maxPieceLen)
  }

  /** Retrain from the persisted word-count store
    * ([[Bpe.buildVocabStore]]'s `word_counts` table — the two
    * tokenizer families deliberately consume the ONE same corpus
    * statistic, so one ledger-maintained store serves both): an
    * incrementally-ingested corpus ([[Bpe.upsertVocabCounts]] /
    * StreamingVocab) retrains its unigram vocabulary with no corpus
    * scan. */
  def trainFromStore(spark: org.apache.spark.sql.SparkSession,
                     root: String, vocabSize: Int,
                     maxPieceLen: Int = 4, rounds: Int = 3,
                     seedTopK: Int = 0): UnigramModel =
    trainFromCounts(Bpe.storeCounts(spark, root),
      vocabSize, maxPieceLen, rounds, seedTopK)

  /** The frozen scoring artifact: piece → cost_micro, driver-bounded
    * by the vocabulary (the BPE rule-table / frozen-policy
    * contract). */
  def collectCosts(vocabCosts: DataFrame): Map[String, Long] =
    vocabCosts.select("piece", "cost_micro").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  // --- persisted model (rides the shared tokenizer store root) ---------

  private def unigramVocabTable(root: String) = s"$root/unigram_vocab"

  /** Retrain from the shared word-count store AND persist the trained
    * vocabulary under the same root as ONE table (`unigram_vocab`:
    * piece, cnt, cost_micro, max_piece_len — the params column rides
    * every row, so the artifact is a SINGLE atomic overwrite; two
    * tables could tear under a crash between writes and serve costs
    * against the wrong piece-length bound). Serving then reads the
    * stored artifact ([[modelFromStore]]) instead of refitting, and
    * the count store's ledger (ingest/retract) decides WHEN to
    * refresh. Returns the trained model. */
  def refreshUnigram(spark: org.apache.spark.sql.SparkSession,
                     root: String, vocabSize: Int,
                     maxPieceLen: Int = 4, rounds: Int = 3,
                     seedTopK: Int = 0): UnigramModel = {
    import graft.offline.VersionedStore
    val model = trainFromStore(spark, root, vocabSize, maxPieceLen,
      rounds, seedTopK)
    VersionedStore.overwrite(
      model.vocab.withColumn("max_piece_len", lit(maxPieceLen.toLong)),
      unigramVocabTable(root))
    model
  }

  /** The persisted scoring artifact: (costs map, maxPieceLen) straight
    * from the stored vocabulary — no refit, bit-equal to the
    * [[refreshUnigram]] that wrote it (exact long micros; one table,
    * so a reader can never see torn costs/params). */
  def modelFromStore(spark: org.apache.spark.sql.SparkSession,
                     root: String): (Map[String, Long], Int) = {
    import graft.offline.VersionedStore
    val t = VersionedStore.read(spark, unigramVocabTable(root))
      .localCheckpoint(false) // pin ONE snapshot for both reads
    (collectCosts(t), t.select("max_piece_len").head().getLong(0).toInt)
  }
}
