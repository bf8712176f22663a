package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Full-text retrieval (BM25) over the document corpus — the TEXT dual
  * of the [[Ann]] vector-serving family: a batch scorer for offline
  * relevance jobs, plus a persisted posting-list index whose serve
  * path reads only the query batch's terms' files (the same batch
  * multi-get shape as the reference's online store —
  * /root/reference feature_store/store/online/OnlineServingService.java
  * batch lookup — applied to an inverted text index instead of a
  * key-value snapshot).
  *
  * Retrieval is a first-class corpus operation in an LLM data
  * pipeline: harvesting training examples for a topic, mining text
  * hard-negatives for retrievers, and auditing what a corpus contains
  * all reduce to "top-k documents for this query batch".
  *
  * Scoring is Robertson/Sparck-Jones BM25:
  * `idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))` (always positive),
  * `tf_c = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`, score =
  * Σ_t idf·tf_c over the query's DISTINCT terms (query-side term
  * multiplicity is ignored, the standard short-query form).
  * Tokenization is the corpus contract everywhere else in graft:
  * split on single space, drop empties ([[graft.functions.Fns.words]]).
  *
  * Determinism: per-term contributions are rounded to 6dp and summed
  * EXACTLY — add-order independent — then the total is rounded back
  * to a double, so scores (and the doc_id-tie-broken ranks) are
  * reproducible across partitionings and match a SQL oracle exactly.
  * The exact sum is carried as integer MICROS (a 6dp-rounded
  * non-negative double d is the nearest double to its decimal value
  * N/1e6, so `d*1e6+0.5` floors to exactly N): value-identical to
  * the previous decimal(38,6) accumulation, but the aggregate buffer
  * is a codegen long instead of a per-row BigDecimal — measured 8.8
  * → 5.6 s on the 6.8M-row cosine dot aggregate and 4.2 → 3.1 s on
  * the BM25 score aggregate at sf0.1 (round-15 RetrievalProbe2,
  * zero row diff). Domain bound: a group's micro sum must stay
  * under 2^53 for the exact double conversion (score mass ≤ 9e9 per
  * (query, doc) — far above any real score; same 2^53 contract as
  * [[indexUpsert]]'s numeric ids).
  */
object Search {

  /** Exact integer micros of `round(x, 6)` for a NON-NEGATIVE double
    * column with x < 1e5 away from ties — value-identical to
    * `(round(x, 6) * 1e6 + 0.5).cast("long")` (the round-15 recovery
    * identity) but BigDecimal-free on the hot path: Spark's `round`
    * on a double runs `BigDecimal(Double.toString(x)).setScale(6,
    * HALF_UP)` PER ROW, measured at ~40% of the fanned retrieval
    * aggregates (round-15 RetrievalProbe2 variant C).
    *
    * Fast path: `floor(x·1e6 + 0.5)` in pure codegen double/long
    * arithmetic. It is taken only when (a) 0 ≤ x·1e6 < 1e10 and
    * (b) the fractional part of x·1e6 is at least 1e-3 away from the
    * 0.5 half-up tie; otherwise the exact BigDecimal expression runs
    * (`when` short-circuits, so the slow branch never evaluates on
    * fast rows). Identity proof outside the band: HALF_UP rounds the
    * SHORTEST-REPR decimal s of x with |s − x| ≤ ulp(x)/2, and the
    * two double ops (x·1e6, then +0.5) each add ≤ ulp/2 — for
    * x·1e6 < 1e10 the combined error is < 1e-5 micros, 100× inside
    * the 1e-3 guard, so floor(x·1e6 + 0.5) and the exact
    * floor(s·1e6 + 0.5) bracket no integer and agree; an EXACT tie
    * (s·1e6 a half-integer) always lands inside the band and takes
    * the BigDecimal branch. MicrosRound6Spec sweeps the tie
    * neighborhood against the reference expression.
    */
  private[graft] def micros6(x: Column): Column = {
    val xm = x * 1e6
    // floor() on a double returns LongType; the subtraction promotes
    // back to double, so tie is the distance to the half-up boundary
    val tie = abs(xm - floor(xm) - 0.5)
    when(xm >= 0 && xm < 1e10 && tie > 1e-3, floor(xm + 0.5))
      .otherwise((round(x, 6) * 1e6 + 0.5).cast("long"))
  }

  private def postingsTable(root: String) = s"$root/postings"
  private def dlensTable(root: String)    = s"$root/dlens"
  private def statsTable(root: String)    = s"$root/stats"
  private def tombsTable(root: String)    = s"$root/tombstones"

  /** Pending delete tombstones (doc_id rows), or None when no delete
    * was ever recorded against this index. The table is a MERGE
    * ledger keyed by doc_id: `deleted = true` rows are live
    * tombstones, re-ingesting a doc flips its row to false — so
    * delete/re-add cycles stay one row per doc and every write is
    * replay-idempotent. */
  private def pendingTombstones(spark: SparkSession, root: String)
  : Option[DataFrame] = {
    import graft.offline.VersionedStore
    if (VersionedStore.latestVersion(spark, tombsTable(root)) < 0L) None
    else Some(VersionedStore.read(spark, tombsTable(root))
      .filter(col("deleted")).select("doc_id"))
  }

  private def dropTombstoned(spark: SparkSession, root: String,
                             df: DataFrame): DataFrame =
    pendingTombstones(spark, root) match {
      case Some(t) => df.join(t, Seq("doc_id"), "left_anti")
      case None    => df
    }

  /** Corpus stats = pure function of the ACTIVE dlens head (doc-count
    * sized, never a corpus scan) — shared by upsert, delete, and the
    * compaction sweep so the three can never disagree. */
  private def recomputeStats(spark: SparkSession, root: String): Unit = {
    import graft.offline.VersionedStore
    VersionedStore.overwrite(
      dropTombstoned(spark, root,
        VersionedStore.read(spark, dlensTable(root)))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("dlen"), lit(0L)).as("total_len")),
      statsTable(root))
  }

  /** Delete documents from the persisted index (retraction /
    * right-to-be-forgotten) WITHOUT a rebuild: a doc_id tombstone
    * MERGE plus a stats recompute. Serve paths anti-join the pending
    * tombstones (document frequencies and corpus stats exclude
    * deleted docs immediately, so ranking equals a rebuild without
    * them); the posting and dlens ROWS remain on disk until the next
    * [[compactTextIndex]], which physically sweeps them — the
    * tombstone-then-sweep shape of every LSM/lakehouse delete,
    * mirroring [[graft.offline.VersionedStore.merge]]'s copy-on-write
    * economics: a delete costs O(tombstones), never a posting-table
    * rewrite at delete time.
    *
    * Commit order (replay-idempotent, crash-window-convergent, same
    * single-writer assumption as [[indexUpsert]]): tombstones MERGE,
    * then stats recompute — a crash between them leaves stats
    * counting the deleted docs until any later upsert/delete/compact
    * recomputes, but serve RESULTS already exclude them (the
    * anti-join reads tombstones, not stats).
    *
    * Deleting an id that was never indexed is a harmless no-op row.
    * [[indexUpsert]] of a tombstoned id re-activates it (the ledger
    * row flips to deleted = false).
    */
  def indexDelete(spark: SparkSession, ids: DataFrame, idCol: String,
                  indexRoot: String): Unit = {
    import graft.offline.VersionedStore
    val t = ids.select(col(idCol).as("doc_id")).distinct()
      .withColumn("deleted", lit(true)).localCheckpoint()
    if (t.limit(1).count() == 0L) return // empty batch — no-op
    if (VersionedStore.latestVersion(spark, tombsTable(indexRoot)) < 0L)
      VersionedStore.overwrite(t, tombsTable(indexRoot))
    else
      VersionedStore.merge(t, tombsTable(indexRoot), keys = Seq("doc_id"))
    recomputeStats(spark, indexRoot)
  }

  /** One tokenize pass → (doc_id, term, tf). Docs with NULL/empty
    * text contribute no rows (they can never match a term query). */
  private[graft] def termFreqs(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(Fns.words(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Query bag-of-words: DISTINCT (q_id, term). */
  private[graft] def queryTerms(queries: DataFrame, qIdCol: String,
                         qTextCol: String): DataFrame =
    queries.select(col(qIdCol).as("q_id"),
        explode(Fns.words(col(qTextCol))).as("term"))
      .filter(col("term") =!= "")
      .distinct()

  /** Per-(term, doc) BM25 contribution, computed BEFORE the query
    * fan-out: the contribution depends only on (tf, dlen, df,
    * corpus stats) — never on the query — so computing it per
    * (q, term, doc) TRIPLE wastes fanout× the decimal math and ships
    * wide rows through the fan-out join (at sf0.1 the 30 Zipf-head
    * query terms match ~every posting and 250 queries fan 116k
    * postings into 6.8M triples — fanout ≈ 58×; at real query-batch
    * scale the saved decimal math and narrower shuffle rows grow
    * with that factor, though at sf0.1 the wall is checkpoint-/
    * stage-overhead-bound and measures neutral). `matched` must
    * carry (term, doc_id,
    * tf, dlen, df, n_docs, total_len). Output: (term, doc_id,
    * contrib) — the value is bit-identical to the post-fan-out form
    * (same inputs, same expression), so every oracle replays
    * unchanged. */
  private def contribStage(matched: DataFrame, k1: Double,
                           b: Double): DataFrame = {
    val avgdl = col("total_len").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfc = (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dlen") / avgdl))
    matched
      .withColumn("contrib", micros6(idf * tfc))
      .select("term", "doc_id", "contrib")
      // partition the POSTING-sized contrib stream by doc_id so the
      // fanned (q_id, doc_id) aggregate in rankStage needs NO
      // exchange (hash(doc_id) clusters every (q, doc) group): one
      // cheap shuffle of ~Σdf rows replaces a shuffle of the
      // fanout×-multiplied partial-aggregate stream, and the explicit
      // partition count keeps the output-dominated fan-out stage at
      // full parallelism (AQE's byte-based coalescing would fold the
      // kilobyte exchange to ~1 partition and serialize the fan-out —
      // the round-15 flat 8c/32c scaling). The count is the session
      // shuffle-partition knob, so cluster deployments scale it with
      // their config, not a constant.
      .transform(Fns.pinnedRepartition(_, col("doc_id")))
  }

  /** Shared ranking tail over the fanned (q_id, doc_id, contrib)
    * stream: exact integer-micro per-pair sums (value-identical to
    * the former decimal(38,6) sums — see the object doc), top-k by
    * (score desc, doc_id). Ranking compares the LONG micro sums —
    * score = nearest-double(sum/1e6) is strictly increasing and
    * injective in the micro sum (sums stay under 2^53), so
    * (score desc, doc_id) and (sum desc, doc_id) are the same
    * permutation — and the double score is materialized only for
    * the ≤ k survivors per query instead of every (q, doc) group.
    * Output: (q_id, doc_id, rank, score). */
  private def rankStage(fanned: DataFrame, k: Int): DataFrame = {
    val agg = fanned
      .groupBy("q_id", "doc_id")
      .agg(sum("contrib").as("sm"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sm").desc, col("doc_id"))
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("score", round(col("sm").cast("double") / 1e6, 6))
      .select("q_id", "doc_id", "rank", "score")
  }

  /** Batch BM25 top-k: for each query row, the `k` highest-scoring
    * documents (ties broken by doc_id). Queries that share no term
    * with any document return no rows.
    *
    * Scale shape: the corpus is tokenized ONCE into the (doc, term,
    * tf) aggregate, then lazily localCheckpoint'ed — it fans out to
    * FOUR consumers (the match stream, doc lengths, document
    * frequencies, corpus stats) whose per-consumer column pruning
    * would otherwise defeat exchange reuse and re-tokenize the corpus
    * four times (the fan-out-joint rule, SCALE_NOTES takeaway 16).
    * The query side broadcasts twice: the term bag restricts the
    * posting stream map-side (no corpus shuffle to meet the queries),
    * and the df table — restricted to query terms first, so it is
    * query-vocabulary sized, not corpus-vocabulary sized — also joins
    * broadcast. Join ORDER matters: doc lengths, document
    * frequencies, and corpus stats all join onto the posting stream
    * at (doc, term) cardinality BEFORE the query fan-out — the
    * matched stream multiplies each posting by the queries sharing
    * its term, and any non-broadcast join placed after that fan-out
    * would sort/shuffle the multiplied stream (measured 3x on a
    * worst-case shared-vocabulary corpus). The only corpus-sized
    * shuffles are the tf/df aggregates themselves and the pre-fan-out
    * dlen join.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qIdCol: String, qTextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75)
  : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tf = termFreqs(docs, idCol, textCol).localCheckpoint(false)
    // dlen itself feeds both the match join and the stats row
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dlen.agg(count(lit(1)).as("n_docs"),
      sum("dlen").as("total_len"))
    // the query bag feeds both broadcasts — checkpoint so the caller's
    // query frame (often itself a corpus slice) is scanned once
    val qterms = queryTerms(queries, qIdCol, qTextCol).localCheckpoint(false)
    val dfq = dfreq.join(broadcast(qterms.select("term").distinct()), "term")
    val matched = tf
      .join(broadcast(dfq), "term") // restricts tf to query terms first
      .join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
    rankStage(contribStage(matched, k1, b)
      .join(broadcast(qterms), "term"), k)
  }

  /** TF-IDF cosine retrieval: the classic vector-space ranker, the
    * lexical complement to [[bm25TopK]] (BM25 saturates term
    * frequency; cosine rewards full-profile similarity) and the
    * second leg of [[rrfFuse]] hybrid retrieval. Weights are
    * `tf · (ln((N+1)/(df+1)) + 1)` — the same smoothed idf as
    * [[TextAnalysis.tfidf]]; query terms unknown to the corpus get
    * df = 0 (they still count toward the query norm). Scores are
    * exact dot products over 6dp-rounded per-term products (summed
    * as integer micros — see the object doc), normalized by both
    * vector norms (norms likewise micro-summed over rounded
    * squares), so results are add-order independent and
    * SQL-oracle-checkable.
    *
    * Scale shape mirrors [[bm25TopK]]: one tokenize pass
    * (checkpointed against its fan-out), query side broadcast, the
    * corpus never shuffles to meet the queries; the doc-norm join is
    * the one corpus-sized shuffle beyond the tf aggregate itself.
    */
  def tfidfCosineTopK(docs: DataFrame, idCol: String, textCol: String,
                      queries: DataFrame, qIdCol: String, qTextCol: String,
                      k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tf = termFreqs(docs, idCol, textCol).localCheckpoint(false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(count_distinct(col("doc_id")).as("n_docs"))
    val qterms = queryTerms(queries, qIdCol, qTextCol).localCheckpoint(false)
    // doc-side weights fan out to the norm agg AND the match join
    val idfOf = (df: Column) => log((col("n_docs") + 1) / (df + 1)) + 1
    // df restricted to the query vocabulary — broadcastable, shared
    // by the doc-side weights and the query-side left join
    val dfq = dfreq.join(
      broadcast(qterms.select("term").distinct()), "term")
    // Per-(term, doc) micro product, computed BEFORE the query
    // fan-out: the query-side weight wq = idf(df) is a function of
    // the TERM alone (every query hitting a term joins the same df),
    // so round(w·wq, 6) is constant across the queries sharing the
    // term — rounding here runs once per POSTING instead of once per
    // fanned (q, term, doc) triple (58× fewer at sf0.1), and the
    // fanned stream carries one long instead of two doubles. The
    // product keeps the former association order (tf·idf)·idf, so
    // every value is bit-identical to the per-triple form. The
    // doc_id repartition mirrors contribStage: the fanned
    // (q_id, doc_id) aggregate then needs NO exchange, and the
    // explicit count keeps the output-dominated fan-out at full
    // parallelism (AQE would coalesce the kilobyte exchange to ~1
    // partition and serialize it).
    val cD = tf
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf") * idfOf(col("df")))
      .withColumn("c", micros6(col("w") * idfOf(col("df"))))
      .select("term", "doc_id", "c")
      .transform(Fns.pinnedRepartition(_, col("doc_id")))
    // ||d|| must cover ALL of the doc's terms, not just the matched
    // ones — its df join is the full vocabulary (term-partitioned,
    // dfreq reuses tf's cache), aggregated straight back to doc_id
    val dnorm = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf") * idfOf(col("df")))
      .groupBy("doc_id")
      .agg(sqrt(sum(micros6(col("w") * col("w")))
        .cast("double") / 1e6).as("dnorm"))
    // left join against the RESTRICTED df table (broadcast right
    // side) — a left join onto the full corpus-vocabulary dfreq
    // cannot broadcast its left side and would shuffle the whole
    // vocabulary to meet a query-sized frame; missing terms still
    // come out null → df 0. (Feeds only the query norm; unknown
    // terms never reach the dot stream — they match no posting.)
    val wQ = qterms.join(broadcast(dfq), Seq("term"), "left")
      .crossJoin(broadcast(nDocs))
      .withColumn("wq", idfOf(coalesce(col("df"), lit(0L))))
      .select("q_id", "term", "wq")
    val qnorm = wQ.groupBy("q_id")
      .agg(sqrt(sum(micros6(col("wq") * col("wq")))
        .cast("double") / 1e6).as("qnorm"))
    // dnorm joins the doc-side products at posting cardinality and
    // rides the fan-out into the aggregate (constant per doc, so
    // max() recovers it) — joining it onto the (query, doc) pair
    // stream instead would sort the multiplied rows (bm25TopK's
    // join-order note)
    val dot = cD.join(dnorm, "doc_id")
      .join(broadcast(qterms), "term")
      .groupBy("q_id", "doc_id")
      .agg(sum("c").as("dot"), max("dnorm").as("dnorm"))
    // Rank on the exact integer micros of the rounded score
    // (micros6 ≡ (round(score, 6)·1e6 + 0.5).cast(long), see its
    // doc): nearest-double(N/1e6) is strictly increasing and
    // injective in N, so (score desc, doc_id) and (sm desc, doc_id)
    // are the same permutation, and the double score materializes
    // only for the ≤ k survivors — round(x, 6) and cast(N)/1e6 both
    // produce the nearest double of the same 6dp decimal.
    val scored = dot.join(broadcast(qnorm), "q_id")
      .withColumn("sm", micros6(
        (col("dot").cast("double") / 1e6) / (col("dnorm") * col("qnorm"))))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sm").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("score", col("sm").cast("double") / 1e6)
      .select("q_id", "doc_id", "rank", "score")
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009): fuse any
    * number of (q_id, doc_id, rank) rankings into one list by
    * `Σ_r 1/(kRrf + rank_r)` — THE standard hybrid-retrieval combiner
    * (lexical + semantic legs for RAG) because it needs no score
    * calibration between rankers. A doc absent from a ranker simply
    * contributes nothing. Contributions are rounded 6dp and
    * decimal-summed (add-order independent); fused ties break by
    * doc_id.
    *
    * Rankings are ranker-agnostic: [[bm25TopK]], [[tfidfCosineTopK]],
    * an [[Ann.ivfServe]] result re-keyed to doc ids, anything with
    * the three columns. Scale shape: a union + one groupBy on
    * (q_id, doc_id) — inputs are already top-k-per-query sized, so
    * fusion cost tracks the QUERY batch, never the corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, kRrf: Int = 60)
  : DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0 && kRrf > 0, s"k and kRrf must be positive")
    val contribs = rankings.map { r =>
      require(Seq("q_id", "doc_id", "rank").forall(r.columns.contains),
        s"ranking must carry q_id/doc_id/rank, got ${r.columns.mkString(",")}")
      r.select(col("q_id"), col("doc_id"),
        round(lit(1.0) / (lit(kRrf) + col("rank")), 6)
          .cast("decimal(38,6)").as("c"))
    }
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("q_id", "doc_id")
      .agg(round(sum("c").cast("double"), 6).as("rrf_score"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "doc_id", "rank", "rrf_score")
  }

  /** Retrieval quality metrics per query: first relevant rank (0 =
    * none found), reciprocal rank, and relevant-hit count within the
    * top `k` — the evaluation dual of the rankers, over any
    * (q_id, doc_id, rank) result and a (q_id, doc_id) relevance
    * table. `qIdCol`/`docIdCol` name the RELEVANCE table's columns
    * only; the results frame must carry literal q_id/doc_id/rank
    * columns (rankers in this module do — asserted below, so a
    * mismatch fails loudly). One semi-join + one bounded aggregate;
    * every query
    * appearing in the results OR the relevance table gets a row
    * (the TREC-qrels contract: an anchor the ranker returned NOTHING
    * for is the worst miss and must be visible as a 0, not absent),
    * so corpus-level MRR is a plain avg over the output.
    */
  def retrievalMetrics(results: DataFrame, relevant: DataFrame,
                       qIdCol: String, docIdCol: String, k: Int = 10)
  : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(Seq("q_id", "doc_id", "rank").forall(results.columns.contains),
      s"results must carry q_id/doc_id/rank (qIdCol/docIdCol rename " +
        s"only the relevance table), got ${results.columns.mkString(",")}")
    val base = results.select("q_id")
      .union(relevant.select(col(qIdCol).as("q_id"))).distinct()
    val hits = results
      .join(relevant.select(col(qIdCol).as("q_id"),
        col(docIdCol).as("doc_id")), Seq("q_id", "doc_id"), "left_semi")
      .filter(col("rank") <= k)
      .groupBy("q_id")
      .agg(min("rank").as("first_rel_rank"), count(lit(1)).as("hits_at_k"))
    base.join(hits, Seq("q_id"), "left")
      .withColumn("first_rel_rank", coalesce(col("first_rel_rank"), lit(0L)))
      .withColumn("hits_at_k", coalesce(col("hits_at_k"), lit(0L)))
      .withColumn("rr", when(col("first_rel_rank") > 0,
        round(lit(1.0) / col("first_rel_rank"), 6)).otherwise(lit(0.0)))
      .select("q_id", "first_rel_rank", "rr", "hits_at_k")
  }

  /** Build the persisted retrieval index under `indexRoot`: posting
    * lists `(term, doc_id, tf, dlen)` — doc length DENORMALIZED into
    * each posting so serving never joins a length table —
    * range-partitioned and sorted by term (string footer stats →
    * [[graft.offline.VersionedStore.readValuesStr]] file pruning),
    * a doc-length table sorted by doc_id (drives shard-shaped stats
    * deltas on upsert), and a one-row corpus-stats table
    * `(n_docs, total_len)`.
    */
  def buildTextIndex(spark: SparkSession, docs: DataFrame, idCol: String,
                     textCol: String, indexRoot: String,
                     nFiles: Int = 16): Unit = {
    import graft.offline.VersionedStore
    // tf fans out to dlen + the postings join; dlen to the postings
    // join + the stats row — checkpoint both joints (takeaway 16)
    val tf = termFreqs(docs, idCol, textCol).localCheckpoint(false)
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
      .localCheckpoint(false)
    val postings = tf.join(dlen, "doc_id")
      .select("term", "doc_id", "tf", "dlen")
    VersionedStore.overwrite(
      postings.repartitionByRange(nFiles, col("term"))
        .sortWithinPartitions("term"),
      postingsTable(indexRoot))
    VersionedStore.overwrite(
      dlen.repartitionByRange(math.max(nFiles / 4, 1), col("doc_id"))
        .sortWithinPartitions("doc_id"),
      dlensTable(indexRoot))
    VersionedStore.overwrite(
      dlen.agg(count(lit(1)).as("n_docs"), sum("dlen").as("total_len")),
      statsTable(indexRoot))
  }

  /** Serve BM25 from the persisted index. The posting read is pruned
    * at the FILE level to the query batch's distinct terms (string
    * footer stats over the term-sorted layout), so a batch touching
    * a small vocabulary opens ~that fraction of the inverted file —
    * never a table scan. Document frequencies are EXACT from the
    * pruned read (it returns every posting of each probed term), and
    * corpus stats come from the one-row stats table, so serve results
    * equal [[bm25TopK]] on the indexed corpus row-for-row.
    *
    * The distinct-term collect is a driver scalar bounded by the
    * query batch's vocabulary — the serving assumption, same as
    * [[Ann.ivfServe]]'s probed-cell collect.
    */
  def serveBm25(spark: SparkSession, indexRoot: String, queries: DataFrame,
                qIdCol: String, qTextCol: String, k: Int = 10,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.offline.VersionedStore
    require(k > 0, s"k must be positive, got $k")
    val qterms = queryTerms(queries, qIdCol, qTextCol).localCheckpoint()
    val terms = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    // the pruned posting read feeds both the df derivation and the
    // match join; deliberately NOT checkpointed — the visible file
    // scan is the pruning proof (SearchSpec inputFiles), and the
    // second read covers only the probed terms' files. Tombstoned
    // docs drop BEFORE the df derivation so deleted postings never
    // count toward document frequencies.
    val posts = dropTombstoned(spark, indexRoot,
      VersionedStore.readValuesStr(spark,
        postingsTable(indexRoot), "term", terms))
    val dfq = posts.groupBy("term").agg(count(lit(1)).as("df"))
    // df/stats join BEFORE the query fan-out (see bm25TopK's order note)
    val matched = posts
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(VersionedStore.read(spark, statsTable(indexRoot))))
    rankStage(contribStage(matched, k1, b)
      .join(broadcast(qterms), "term"), k)
  }

  /** Exact phrase search: for each query phrase, every document
    * containing it as a CONTIGUOUS token run, with the occurrence
    * count and first match position (0-based token offset). The
    * positional-diagonal trick ([[Dedup.overlapSpans]]'s shape
    * applied to retrieval): tokens carry positions, query terms
    * carry offsets, and a full phrase match is a (doc, diagonal =
    * pos − offset) group matching every query offset — so the
    * whole operator is one equi-join on term plus one aggregate,
    * never a string scan per (query, doc) pair.
    *
    * Scale shape: the corpus tokenizes once (positional explode);
    * the query side broadcasts. Fan-out is bounded by
    * Σ_t df_corpus(t) over the phrases' terms — query batches are
    * small by assumption (this is the lookup dual of the rankers,
    * not a corpus×corpus operator). Duplicate terms inside a phrase
    * are handled exactly (each query offset must match on the
    * diagonal).
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, qIdCol: String, qPhraseCol: String)
  : DataFrame = {
    val tokens = docs.select(col(idCol).as("doc_id"),
        posexplode(Fns.words(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    val qtok = queries.select(col(qIdCol).as("q_id"),
        posexplode(Fns.words(col(qPhraseCol))).as(Seq("off", "term")))
      .filter(col("term") =!= "")
      .localCheckpoint(false) // feeds the length table and the join
    val qlen = qtok.groupBy("q_id").agg(count(lit(1)).as("qlen"))
    tokens
      .join(broadcast(qtok), "term")
      .withColumn("diag", col("pos") - col("off"))
      .filter(col("diag") >= 0) // a phrase can't start before the doc
      .groupBy("q_id", "doc_id", "diag")
      .agg(count(lit(1)).as("hits"))
      .join(broadcast(qlen), "q_id")
      .filter(col("hits") === col("qlen"))
      .groupBy("q_id", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"),
        min("diag").cast("long").as("first_pos"))
  }

  /** Bulk BM25 over the persisted index — the corpus-as-queries scale
    * path. [[serveBm25]] collects the batch's distinct terms to the
    * driver (right for serving latency, bounded by the batch
    * vocabulary); this path never collects: query terms meet the
    * posting table in a distributed equi-join on term, so a batch the
    * size of the corpus (negative mining, all-pairs relevance audits)
    * works. Document frequencies derive from the hit postings (every
    * posting of a matched term is present by construction), the
    * per-term hit stream is lazily checkpointed against its df/match
    * fan-out, and no broadcast is hinted — at bulk scale the query
    * side is NOT small, so AQE picks the join strategy from real
    * sizes. Results equal [[bm25TopK]] on the indexed corpus
    * row-for-row (q_bm25_bulk holds it to the same oracle).
    */
  def bm25TopKFromIndex(spark: SparkSession, indexRoot: String,
                        queries: DataFrame, qIdCol: String,
                        qTextCol: String, k: Int = 10, k1: Double = 1.2,
                        b: Double = 0.75): DataFrame = {
    import graft.offline.VersionedStore
    require(k > 0, s"k must be positive, got $k")
    val qterms = queryTerms(queries, qIdCol, qTextCol).localCheckpoint(false)
    // tombstoned docs drop before df derivation (see serveBm25)
    val hit = dropTombstoned(spark, indexRoot,
        VersionedStore.read(spark, postingsTable(indexRoot)))
      .join(qterms.select("term").distinct(), "term")
      .localCheckpoint(false)
    val dfq = hit.groupBy("term").agg(count(lit(1)).as("df"))
    // df joins the hit stream at posting cardinality BEFORE the query
    // fan-out (see bm25TopK's order note) — after it, a non-broadcast
    // join would sort the multiplied stream
    val matched = hit
      .join(dfq, "term")
      .crossJoin(broadcast(VersionedStore.read(spark, statsTable(indexRoot))))
    // bulk path: the query side is NOT small — no broadcast hint, AQE
    // picks the fan-out join strategy from real sizes (as before)
    rankStage(contribStage(matched, k1, b).join(qterms, "term"), k)
  }

  /** Refresh the index with a document shard. Replacement-correct,
    * replay-idempotent, AND crash-window-safe: postings and doc
    * lengths MERGE by doc_id (old postings of a re-ingested doc are
    * dropped even when the new text has fewer terms), corpus stats
    * are recomputed from the dlens head (a doc-count-sized aggregate,
    * never a corpus text scan), and the commit ORDER makes a replay
    * after any partial crash converge — see the in-body comment; in
    * particular a crash between the postings append and the stats
    * write cannot duplicate postings or strand stale stats.
    *
    * When NONE of the shard's ids already exist (the append-only
    * common case), postings APPEND instead of merging — an append
    * never rewrites existing files. The MERGE path is honest about
    * its cost: posting files are TERM-sorted, so their doc_id footer
    * ranges are wide and a replacement shard's copy-on-write can
    * rewrite most of the table — replacement-heavy workloads should
    * batch their updates and [[compactTextIndex]] afterwards, exactly
    * like [[Ann.ivfIndexCompact]]; the fresh-id streaming path never
    * pays this.
    *
    * Docs whose text holds no tokens are not indexed; "replace an
    * existing doc with empty text" is a deletion, out of upsert's
    * scope. The shard-id collect is a driver list bounded by shard
    * size — the incremental-ingest assumption, same as
    * [[Dedup.dedupIncremental]]'s key pruning.
    */
  def indexUpsert(spark: SparkSession, newDocs: DataFrame, idCol: String,
                  textCol: String, indexRoot: String): Unit = {
    import graft.offline.VersionedStore
    val tf = termFreqs(newDocs, idCol, textCol).localCheckpoint()
    val dlenNew = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
      .localCheckpoint()
    // dispatch the pruned point read on the id type: string ids go
    // through the string footer stats (readValuesStr); numeric ids
    // through the double-scale stats. (Integral ids above 2^53 would
    // alias on the double scale — unsupported, like every readValues
    // caller.)
    val idIsString = dlenNew.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType
    val oldRows =
      if (idIsString) {
        val ids = dlenNew.select(col("doc_id"))
          .collect().map(_.getString(0)).toSeq
        if (ids.isEmpty) return // nothing tokenizable — no-op
        VersionedStore.readValuesStr(spark, dlensTable(indexRoot),
          "doc_id", ids)
      } else {
        val ids = dlenNew.select(col("doc_id").cast("double"))
          .collect().map(_.getDouble(0)).toSeq
        if (ids.isEmpty) return // nothing tokenizable — no-op
        // integral ids above 2^53 alias on the double scale, which
        // would silently corrupt the append-vs-merge decision and the
        // old-row lookup — fail loudly instead
        ids.find(d => math.abs(d) > (1L << 53).toDouble).foreach(bad =>
          throw new IllegalArgumentException(
            s"indexUpsert: numeric doc_id $bad exceeds 2^53 and cannot " +
              "be pruned exactly on the double stats scale; use string ids"))
        VersionedStore.readValues(spark, dlensTable(indexRoot),
          "doc_id", ids)
      }
    // the append-vs-merge decision reads the PRE-upsert dlens state
    val wasFresh = oldRows.limit(1).count() == 0L
    // Commit order is the crash-safety argument (no ledger needed —
    // every step is idempotent given the steps before it):
    //   1. dlens MERGE (idempotent). A replay after this commit sees
    //      the ids present and takes the postings MERGE path, so the
    //      append fast path can never double-insert.
    //   2. postings APPEND only when the ids were absent BEFORE step
    //      1 (fresh shard, no file rewrite); MERGE otherwise
    //      (replaces by doc_id — idempotent).
    //   3. stats RECOMPUTED from the dlens head (doc-count-sized
    //      aggregate, not a corpus scan) — never a read-modify-write
    //      delta, so a partially-applied predecessor can't strand a
    //      stale value.
    // Concurrent upserts to one index are NOT supported (streams
    // apply batches serially); the postings/dlens merges would
    // serialize on the version race, but the stats recompute could
    // read a head missing the racer's dlens merge.
    VersionedStore.merge(dlenNew, dlensTable(indexRoot),
      keys = Seq("doc_id"))
    // re-ingesting a tombstoned doc re-activates it: flip its ledger
    // row to deleted = false (idempotent MERGE; ordered before the
    // stats recompute so step 4 counts it)
    if (VersionedStore.latestVersion(spark, tombsTable(indexRoot)) >= 0L)
      VersionedStore.merge(
        dlenNew.select(col("doc_id")).withColumn("deleted", lit(false)),
        tombsTable(indexRoot), keys = Seq("doc_id"))
    val postings = tf.join(dlenNew, "doc_id")
      .select("term", "doc_id", "tf", "dlen")
    if (wasFresh)
      VersionedStore.append(postings, postingsTable(indexRoot))
    else
      VersionedStore.merge(postings, postingsTable(indexRoot),
        keys = Seq("doc_id"))
    recomputeStats(spark, indexRoot)
  }

  /** Restore the ~one-file-per-term-range layout after upserts (whose
    * MERGE/append files span wide term ranges and erode serve-side
    * pruning), and physically SWEEP tombstoned docs' postings and
    * lengths out of the table (the compaction half of the
    * [[indexDelete]] contract — after the sweep the deleted rows are
    * gone from disk, not merely filtered). Serve results are
    * identical before and after the sweep; only the bytes and the
    * anti-join work change. Mirrors [[Ann.ivfIndexCompact]]. */
  def compactTextIndex(spark: SparkSession, indexRoot: String,
                       nFiles: Int = 16): Unit = {
    import graft.offline.VersionedStore
    pendingTombstones(spark, indexRoot)
      .map(_.localCheckpoint()).filter(_.limit(1).count() > 0L) match {
      case Some(pending) =>
        // filtered rewrite in the build layout (a compaction IS a
        // full rewrite, so the sweep rides it for free)
        val posts = dropTombstoned(spark, indexRoot,
          VersionedStore.read(spark, postingsTable(indexRoot)))
          .localCheckpoint()
        require(posts.limit(1).count() > 0L,
          "sweep would empty the index (every doc tombstoned) — " +
            "rebuild with buildTextIndex instead")
        VersionedStore.overwrite(
          posts.repartitionByRange(nFiles, col("term"))
            .sortWithinPartitions("term"),
          postingsTable(indexRoot))
        VersionedStore.overwrite(
          dropTombstoned(spark, indexRoot,
            VersionedStore.read(spark, dlensTable(indexRoot)))
            .repartitionByRange(math.max(nFiles / 4, 1), col("doc_id"))
            .sortWithinPartitions("doc_id"),
          dlensTable(indexRoot))
        recomputeStats(spark, indexRoot)
        // the swept ids' rows are gone from disk — retire their
        // ledger rows (deleted = false) so serves stop anti-joining
        // and the next compaction takes the plain path. LAST in the
        // commit order: a crash anywhere above leaves the tombstones
        // live and every step idempotent.
        VersionedStore.merge(pending.withColumn("deleted", lit(false)),
          tombsTable(indexRoot), keys = Seq("doc_id"))
      case None =>
        VersionedStore.compact(spark, postingsTable(indexRoot), nFiles,
          sortBy = Seq("term"))
        VersionedStore.compact(spark, dlensTable(indexRoot),
          math.max(nFiles / 4, 1), sortBy = Seq("doc_id"))
    }
  }

  // -------------------------------------------------------------------
  // Fuzzy term search (SymSpell deletion neighborhoods)
  // -------------------------------------------------------------------

  /** All strings obtainable from `w` by deleting up to `maxEdits`
    * characters, as a deduplicated array (always includes `w`
    * itself). Pure `functions._` — codegen'd, no UDF. Fan-out per
    * word is O(len^maxEdits); maxEdits is 1 or 2 by construction
    * (require'd), the only values fuzzy lookup uses in practice.
    */
  private def deletionVariants(w: Column, maxEdits: Int): Column = {
    def deletes(c: Column): Column =
      transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - 1),
                    c.substr(i + 1, length(c))))
    require(maxEdits >= 1 && maxEdits <= 2,
      s"maxEdits must be 1 or 2, got $maxEdits")
    val d1 = array_union(array(w), deletes(w))
    if (maxEdits == 1) d1
    else array_distinct(flatten(transform(d1, v => array_union(array(v), deletes(v)))))
  }

  /** Fuzzy (typo-tolerant) term lookup: for each query term, every
    * corpus vocabulary word within Levenshtein distance `maxEdits`,
    * with its document frequency. The candidate set comes from a
    * SymSpell-style deletion-neighborhood equi-join (Garbe 2012:
    * two strings within Damerau-Levenshtein distance e share a
    * variant when each deletes up to e characters; plain Levenshtein
    * <= Damerau bounds means recall is complete for the Levenshtein
    * verify too), so the join work is O(vocab x len^e) index rows
    * against O(queries x len^e) broadcast rows — never the
    * O(vocab x queries) brute-force cross product a `levenshtein`
    * filter alone would cost. At 100 TB the corpus contributes one
    * word-count shuffle (vocab-sized output, ~sqrt(corpus)); the
    * variant explode and verify run on the VOCABULARY, and the
    * query side broadcasts.
    *
    * Output: (query_term, word, dist, df), one row per matching
    * vocabulary word. Verification is exact `levenshtein` — the
    * deletion join only proposes.
    */
  def fuzzySearch(docs: DataFrame, idCol: String, textCol: String,
                  queries: DataFrame, qCol: String,
                  maxEdits: Int = 1): DataFrame = {
    val vocab = docs
      .select(col(idCol).as("doc_id"), explode(Fns.words(col(textCol))).as("word"))
      .groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
    val corpusVariants = vocab.select(col("word"), col("df"),
      explode(deletionVariants(col("word"), maxEdits)).as("v"))
    val queryVariants = queries
      .select(col(qCol).as("query_term")).distinct()
      .select(col("query_term"),
        explode(deletionVariants(col("query_term"), maxEdits)).as("v"))
    corpusVariants
      .join(broadcast(queryVariants), "v")
      .select("query_term", "word", "df").distinct()
      .withColumn("dist", levenshtein(col("query_term"), col("word")).cast("long"))
      .filter(col("dist") <= maxEdits)
  }
}
