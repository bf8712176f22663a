package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale-critical properties: filter
  * pushdown, column pruning, broadcast joins, and shuffle counts.
  * These are what keep the operators viable at 100 TB — a regression
  * here is a performance bug even when results stay correct.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  // Shuffle exchanges only: a BroadcastExchange (tiny side shipped to
  // every executor) is exactly what the scale design WANTS, so it
  // must not count against the shuffle budget. Explicitly PINNED
  // repartitions (REPARTITION_BY_NUM — the loader's scan-split
  // compensation for single-row-group gate files, and the deliberately
  // placed fan-out pins in blockedSelfPairs/Search) are reviewed
  // placements whose row volume is input-shaped, so they are not part
  // of the operator budget either — but each gated query states its
  // EXACT pin count, so a stray explicit repartition fails the gate
  // instead of passing unnoticed. The returned budget counts the
  // ENSURE_REQUIREMENTS/REPARTITION_BY_COL exchanges an operator's own
  // joins/aggregates demand.
  private def countShuffles(df: org.apache.spark.sql.DataFrame,
                            pins: Int): Int = {
    val plan = df.queryExecution.executedPlan.toString
    val pinned = ", REPARTITION_BY_NUM".r.findAllIn(plan).length
    assert(pinned == pins,
      s"expected $pins pinned repartitions, found $pinned:\n$plan")
    "Exchange".r.findAllIn(plan).length -
      "BroadcastExchange".r.findAllIn(plan).length - pinned
  }

  test("q1_agg: shipdate filter pushed to parquet, columns pruned") {
    val plan = formatted(SparkEntry.q1Agg(spark, TestSpark.sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    // projection needs 7 of 11 lineitem columns — partkey/suppkey/
    // linenumber/tax must NOT be read
    assert(!plan.contains("l_partkey"), "column pruning lost: l_partkey read")
  }

  test("q_multi_window: all horizons in exactly one shuffle") {
    assert(countShuffles(SparkEntry.qMultiWindow(spark, TestSpark.sfDir), pins = 0) == 1)
  }

  test("q_sessionize: session aggregate reuses the entity partitioning") {
    // window shuffles on entity; the (entity, session_seq) groupBy must
    // NOT re-shuffle because HashPartitioning(entity) already clusters it
    assert(countShuffles(SparkEntry.qSessionize(spark, TestSpark.sfDir), pins = 0) == 1)
  }

  test("q_asof_join: one data shuffle for the sorted scan, no window, no join blowup") {
    val df = SparkEntry.qAsofJoin(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      "asof must not be a join")
    // a streaming scan per entity, never a Window operator buffering
    // each entity's whole history
    assert(!"(?m)^[ +:\\-]*Window ".r.findFirstIn(plan).isDefined,
      s"asof must not run a window:\n$plan")
    // exactly one hash shuffle moves data (on the entity); the only
    // other exchange allowed is the one-row SinglePartition aggregate
    // computing the lazy label-min lookback bound
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected 1 data shuffle:\n$plan")
    assert("Exchange SinglePartition".r.findAllIn(plan).length <= 1)
  }

  test("q_materialize_vectors: fused to exactly one shuffle") {
    assert(countShuffles(SparkEntry.qMaterializeVectors(spark, TestSpark.sfDir), pins = 0) == 1)
  }

  test("q_serving_lookup: key set broadcast, snapshot not shuffled for the join") {
    val plan = SparkEntry.qServingLookup(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q_windowed_features: time filter pushed to scan") {
    val plan = formatted(SparkEntry.qWindowedFeatures(spark, TestSpark.sfDir))
    // events.ts is read as raw nanos (legacy conf) and rebuilt, so the
    // filter applies post-scan — but the scan must prune to the four
    // needed columns (no props / event_id).
    assert(!plan.contains("props"), "column pruning lost: props read")
  }

  test("q_quantile_label: exact global rank without a SinglePartition exchange") {
    val plan = SparkEntry.qQuantileLabel(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global rank must not funnel through one partition:\n$plan")
  }

  test("q_pack_sequences: exact prefix sum without a SinglePartition exchange") {
    val plan = SparkEntry.qPackSequences(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"distributed running total must not funnel through one partition:\n$plan")
  }

  test("q_lm_score: the vocabulary total does not re-scan the corpus") {
    // the corpus total is sum(cnt) over the frequency table, whose
    // subtree appears twice (join side + total side) and is NOT
    // unified by exchange reuse (fresh expr ids) — the operator must
    // share one materialization, keeping corpus scans at 2 (token
    // stream + frequency build)
    val df = SparkEntry.qLmScore(spark, TestSpark.sfDir)
    df.count() // materialize so the final adaptive plan is inspectable
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") ||
           "Scan parquet".r.findAllIn(plan).length <= 2,
      s"vocabulary total re-scans the corpus:\n$plan")
  }

  test("q_decontaminate: eval shingle set broadcast, corpus side not shuffled for the join") {
    val df = SparkEntry.qDecontaminate(spark, TestSpark.sfDir)
    val plan = formatted(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast:\n$plan")
    // one real shuffle for the eval-side distinct + one for the
    // per-doc overlap count; the corpus token stream itself never
    // exchanges before the join
    assert(countShuffles(df, pins = 2) <= 2, s"corpus side shuffled:\n$plan")
  }

  test("q_tfidf: rank pushes a partial top-k (WindowGroupLimit) below the exchange") {
    val plan = SparkEntry.qTfidf(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-doc top-k should prune before the window exchange:\n$plan")
  }

  test("q_dedup_embedding: block equi-join, no nested-loop / cartesian") {
    val plan = SparkEntry.qDedupEmbedding(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
           !plan.contains("CartesianProduct"),
      s"embedding dedup must be a partitioned equi-join:\n$plan")
  }

  test("q_histogram: range side broadcast, no single-partition funnel") {
    val plan = SparkEntry.qHistogram(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-feature ranges must broadcast, not shuffle the data:\n$plan")
  }

  test("q_dedup_pipeline: candidate joins only, no cartesian anywhere") {
    val plan = SparkEntry.qDedupPipeline(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"pipeline must stay equi-join end to end:\n$plan")
  }

  test("q_strip_spans: equi-joins and doc-keyed windows only, no cartesian") {
    val plan = SparkEntry.qStripSpans(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"span detect + strip must stay equi-join end to end:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"per-doc cut merging must not funnel to one partition:\n$plan")
  }

  test("q_quality_filter: doc_id equi-joins of per-doc aggregates, no cartesian, no funnel") {
    val df = SparkEntry.qQualityFilter(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"classifier joins must be doc_id equi-joins:\n$plan")
    // the ONE allowed nested-loop join is lmScore's 1-row corpus-total
    // broadcast cross join — anything else is an all-pairs bug
    val bnlj = plan.split("\n").filter(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.forall(_.contains("BuildRight, Cross")),
      s"non-total nested-loop join in classifier plan:\n$plan")
    // the only SinglePartition allowed is the lm corpus-total 1-row
    // aggregate (broadcast back, never a data funnel). Count DISTINCT
    // plan ids: a shared subtree prints once per parent reference.
    val singles = "Exchange SinglePartition[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(singles.size <= 1,
      s"unexpected single-partition funnel ($singles):\n$plan")
  }

  test("frozen quality classifier: zero shuffles — pure projection end to end") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    val df = graft.operators.TextAnalysis.qualityClassifierFrozen(
      docs, "doc_id", "text", Map("the" -> 10L, "a" -> 5L), 20L)
    assert(countShuffles(df, pins = 1) == 0,
      "the streaming-safe classifier must not exchange at all:\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("dedup/ann hot paths: no cartesian ngram, codegen dot in plan") {
    val ngram = SparkEntry.qDedupNgram(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!ngram.contains("CartesianProduct"),
      "ngram dedup must use the inverted-index join, not all-pairs")
    val emb = formatted(SparkEntry.qDedupEmbedding(spark, TestSpark.sfDir))
    assert(emb.contains("graft_dot"), s"custom codegen dot not in plan:\n$emb")
    // the custom expressions must actually compile into codegen'd Java —
    // CodegenFallback would silently interpret them
    assert(!classOf[graft.functions.FloatVecDot].getInterfaces
      .exists(_.getSimpleName == "CodegenFallback"))
    assert(!classOf[graft.functions.PlaneSignBucket].getInterfaces
      .exists(_.getSimpleName == "CodegenFallback"))
    val lsh = formatted(SparkEntry.qAnnLsh(spark, TestSpark.sfDir))
    assert(lsh.contains("graft_plane_signs"),
      s"lsh bucketing must use the codegen expression:\n$lsh")
  }

  test("q_pii_redact: pure projection — zero shuffles") {
    assert(countShuffles(SparkEntry.qPiiRedact(spark, TestSpark.sfDir), pins = 0) == 0,
      "the redaction pass must run at scan speed, no exchange")
  }

  test("q_top_ngrams: global top-k via TakeOrderedAndProject, no full sort") {
    val plan = SparkEntry.qTopNgrams(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be partition-local heaps + driver merge:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no single-partition funnel for the ranking:\n$plan")
  }

  test("frozen line dedup: zero shuffles — pure projection end to end") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
      .selectExpr("doc_id", "text")
    val df = graft.operators.Dedup.lineDedupFrozen(docs, "doc_id",
      "text", Array("d41d8cd98f00b204e9800998ecf8427e"))
    assert(countShuffles(df, pins = 1) == 0,
      "the streaming-safe line pass must not exchange at all:\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("q_line_dedup: equi-joins only, frequency agg + reassembly are the only wide stages") {
    val df = SparkEntry.qLineDedup(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"line dedup must stay equi-join shaped:\n$plan")
    // line-frequency agg (2 for the distinct-doc count) + per-doc
    // reassembly + the anti-join/spine alignment — bounded small; the
    // point is no O(n²) stage and no single-partition funnel
    assert(!plan.contains("SinglePartition"),
      s"no single-partition funnel allowed:\n$plan")
  }

  test("q_quality_sample: zero shuffles — the soft filter runs at scan speed") {
    assert(countShuffles(SparkEntry.qQualitySample(spark, TestSpark.sfDir), pins = 1)
      == 0)
  }

  test("q_winnow: zero shuffles — fingerprinting is a pure projection") {
    assert(countShuffles(SparkEntry.qWinnow(spark, TestSpark.sfDir), pins = 1) == 0)
  }

  test("q_shuffle_shard: exactly one exchange, no single-partition funnel") {
    val df = SparkEntry.qShuffleShard(spark, TestSpark.sfDir)
    assert(countShuffles(df, pins = 1) == 1,
      "shard numbering must be the permutation's only shuffle")
    assert(!df.queryExecution.executedPlan.toString.contains("SinglePartition"),
      "per-shard windows, never a global one")
  }

  test("q_select_budget: no single-partition funnel — the global " +
    "prefix sum stays distributed") {
    val plan = SparkEntry.qSelectBudget(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"budget selection must not global-sort:\n$plan")
  }

  test("q_winnow_pairs: equi-join shaped, no cartesian") {
    val plan = SparkEntry.qWinnowPairs(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"winnow pairs must stay an inverted-index equi-join:\n$plan")
  }

  test("q_dedup_semdedup: cell equi-join over the cached assignment, never all-pairs") {
    val df = SparkEntry.qDedupSemdedup(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"semdedup must join on the cell key:\n$plan")
    // both self-join sides must read the PERSISTED assignment (the
    // shared IVF cache), never re-run the k-means prediction from
    // parquet per side
    // (the InMemoryRelation subtree still PRINTS its parquet lineage,
    // so asserting the absence of FileScan would false-fail — the
    // InMemoryTableScan on both sides is the reuse proof)
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
      s"self-join sides must reuse the cached cell assignment:\n$plan")
  }

  test("q_corpus_report: one map-side-combining shuffle, nothing else") {
    assert(countShuffles(SparkEntry.qCorpusReport(spark,
      TestSpark.sfDir), pins = 1) == 1)
  }

  test("q_stratified_sample: per-cell top-k prunes below the exchange (WindowGroupLimit)") {
    // rank <= k must plan as WindowGroupLimit so no cell's full
    // membership funnels through one task's sort at corpus scale
    val plan = SparkEntry.qStratifiedSample(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"stratified draw must push a partial top-k:\n$plan")
  }

  test("q_novelty: inverted-index equi-join, no pair generation anywhere") {
    val df = SparkEntry.qNovelty(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"novelty must stay equi-join shaped:\n$plan")
    // the explicit shingle repartition is shared by the df aggregate
    // and the probe join; the per-doc aggregate is the only other
    // data shuffle
    assert(countShuffles(df, pins = 2) <= 3, s"shingle exchange must be shared:\n$plan")
  }

  test("q_semantic_decontam: eval broadcast, corpus shuffles only for the per-doc aggregate") {
    val df = SparkEntry.qSemanticDecontam(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the eval side must broadcast:\n$plan")
    assert(countShuffles(df, pins = 0) == 1,
      s"only the flagged-rows aggregate may shuffle:\n$plan")
  }

  test("q_hard_negatives / q_knn_agreement: anchors broadcast, corpus never cartesians") {
    // inequality join conditions (id + label mismatch) make this a
    // BroadcastNestedLoopJoin with the ANCHOR side broadcast — the
    // brute-scan shape q_ann_topk uses; the corpus side must never
    // become the build side or a CartesianProduct
    Seq(SparkEntry.qHardNegatives(spark, TestSpark.sfDir),
        SparkEntry.qKnnAgreement(spark, TestSpark.sfDir)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"no cartesian allowed:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"anchors must broadcast:\n$plan")
    }
  }

  test("q_bm25 / q_tfidf_cosine: corpus tokenized once — declared plans read only checkpointed joints") {
    // the (doc, term, tf) aggregate fans out to four consumers whose
    // column pruning defeats exchange reuse; without the lazy
    // localCheckpoint at the tf/dlen/qterms joints the plan held 12
    // parquet scans (SCALE_NOTES round-7 third session)
    Seq("q_bm25", "q_tfidf_cosine").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, TestSpark.sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Scan parquet"),
        s"$q re-scans the corpus instead of reading the checkpointed " +
          s"tokenize pass:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q: the 1-row stats join must broadcast, not cartesian:\n$plan")
    }
  }

  test("q_fuzzy_search: query variants broadcast, no cartesian product") {
    val df = SparkEntry.queries("q_fuzzy_search")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the deletion-variant equi-join, " +
        s"never queries x vocab:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the query-variant side must broadcast:\n$plan")
  }

  test("q_nb_quality: model broadcast to the corpus scan, corpus tokens never shuffle by word") {
    val df = SparkEntry.queries("q_nb_quality")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the llr model must broadcast:\n$plan")
    // shuffles: seed groupBy(w), totals+priors single-partition aggs,
    // final groupBy(doc_id) — all seed- or doc-sized; the corpus token
    // stream itself joins the model via broadcast only
    assert(countShuffles(df, pins = 3) <= 6,
      s"unexpected shuffle growth:\n$plan")
  }

  test("q_html_extract / q_boilerplate: pure codegen projections — zero shuffles") {
    for (q <- Seq("q_html_extract", "q_boilerplate")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      assert(countShuffles(df, pins = 1) == 0,
        s"$q must stay in the scan stage:\n" +
          df.queryExecution.executedPlan.toString)
      // the regexp chains codegen; only the higher-order array
      // lambdas (link_chars / block structs) stay interpreted-eval —
      // still scan-stage projections either way. The scan-split
      // repartition put these plans under AQE, which applies codegen
      // per stage at EXECUTION — so run the query and assert on the
      // final plan, not the initial one.
      df.collect() // finalize THIS QueryExecution's adaptive plan
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("WholeStageCodegen") ||
        formatted(df).contains("codegen id"),
        s"$q must codegen its projection spine:\n$finalPlan")
    }
  }

  test("q_warc_extract: parse + explode are narrow — only the test-fixture packing shuffles") {
    val df = SparkEntry.queries("q_warc_extract")(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // one exchange builds the synthetic segments (groupBy seg — fixture,
    // not operator); the walker + posexplode + Html chain add none
    assert(countShuffles(df, pins = 1) <= 1, s"warc chain must be narrow:\n$plan")
    assert(plan.contains("graft_warc_records"), s"walker missing:\n$plan")
    assert(plan.contains("Generate"), s"posexplode missing:\n$plan")
  }

  test("rrfFuse: fusion cost is query-shaped — two exchanges over top-k inputs") {
    import spark.implicits._
    val r1 = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("q_id", "doc_id", "rank")
    val r2 = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("q_id", "doc_id", "rank")
    val fused = graft.operators.Search.rrfFuse(Seq(r1, r2), k = 5)
    assert(countShuffles(fused, pins = 0) <= 2,
      s"fusion must be one groupBy + one window:\n" +
        fused.queryExecution.executedPlan.toString)
  }

  // ---- round-10 sketch / range-join / multimodal plans ------------

  test("q_frame_sample: pure scan-stage pipeline — zero exchanges") {
    assert(countShuffles(SparkEntry.qFrameSample(spark, TestSpark.sfDir), pins = 1) == 0)
    val plan = SparkEntry.qFrameSample(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"frame sampling must not join:\n$plan")
  }

  test("hllSketchTable: one map-side-combinable shuffle to group sketches") {
    val stream = Tables.documents(spark, TestSpark.sfDir)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.explode(
          graft.functions.Fns.shingles(
            org.apache.spark.sql.functions.col("text"), 3)).as("shingle"))
    val df = graft.operators.Sketch.hllSketchTable(stream, "shingle",
      Seq("source"))
    assert(countShuffles(df, pins = 1) == 1, "sketch build must be one exchange")
    val plan = df.queryExecution.executedPlan.toString
    // partial registers accumulate BEFORE the exchange (the 1000-executor
    // tree-merge contract): a partial_graft_hll_sketch must appear
    // upstream of the shuffle
    assert(plan.contains("partial_graft_hll_sketch"),
      s"no map-side sketch accumulation:\n$plan")
  }

  test("bloom bitset probe is a pure projection — no joins, no exchanges") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("doc_id").cast("string").as("k"))
    val bitset = graft.operators.Sketch.bloomBitsetLit(
      docs.limit(50).select("k"), "k", 256, 2)
    val probed = docs.select(
      graft.operators.Sketch.bloomProbe(bitset,
        org.apache.spark.sql.functions.col("k"), 256, 2).as("hit"))
    assert(countShuffles(probed, pins = 1) == 0)
    assert(!probed.queryExecution.executedPlan.toString.contains("Join"))
  }

  test("q_interval_join: equi-join on buckets, never a nested loop") {
    val df = SparkEntry.qIntervalJoin(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join must stay an equi-join:\n$plan")
  }

  test("q_kanon_report: suppression costs no extra shuffle over the report") {
    val base = countShuffles(SparkEntry.qCorpusReport(spark, TestSpark.sfDir), pins = 1)
    assert(countShuffles(SparkEntry.qKanonReport(spark, TestSpark.sfDir), pins = 1)
      == base, "k-anon must be a projection on the report aggregate")
  }

  test("q_cm_freq: sketch cells broadcast to the probes, never joined by shuffle") {
    val df = SparkEntry.qCmFreq(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"CM cells must broadcast (they are ≤ depth×width rows):\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"probe must be an equi-join:\n$plan")
    // exactly 3 data shuffles: the additive cell groupBy, the
    // per-probe min, and the exact-audit count — nothing probe-shaped
    // ever shuffles the corpus
    assert(countShuffles(df, pins = 2) == 3, s"plan:\n$plan")
  }

  test("q_cm_join_size: estimate cost is sketch-shaped — cells join cells, corpora never meet pre-estimate") {
    val df = SparkEntry.qCmJoinSize(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // 8 shuffles: two additive cell groupBys, the per-row inner
    // product regroup, the final min, the exact-audit join's
    // aggregate, and the zero-overlap guard's THREE depth-row-set
    // distincts (two per-side + the union distinct — each over
    // ≤ depth rows, cost-free; the guard is what proves an
    // overlap-free depth row as join size 0). The only nested loop
    // is the deliberate 1×1 crossJoin stitching estimate to audit.
    assert(countShuffles(df, pins = 6) == 8, s"plan:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 2,
      s"only the 1×1 estimate/audit stitch may nest:\n$plan")
  }

  test("q_substr_spans: detection is aggregation-shaped — map-side-combined firsts, one equi-join back, no pair enumeration") {
    val df = SparkEntry.qSubstrSpans(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // THE ExactSubstr scale property, round-12 shape: df and first
    // occurrence come from ONE per-gram aggregate with a PARTIAL
    // (map-side) phase — a 10⁷-occurrence gram costs each input
    // partition one combined row, never 10⁷ rows through one window
    // task — joined back as a single equi-join (AQE-broadcastable /
    // skew-splittable); islands stay a per-doc window. No pair
    // enumeration anywhere: a gram in a million docs costs a million
    // aggregate input rows, never a million² join rows.
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).length == 1, s"exactly the firsts join-back:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(plan.contains("partial_min(struct"),
      s"expected the map-side-combined first-occurrence aggregate:\n$plan")
    assert(plan.contains("Window"), s"expected the islands window:\n$plan")
  }

  test("q_substr_incr: membership decided on the per-gram aggregate; two equi-joins, no per-occurrence corpus join") {
    val df = SparkEntry.qSubstrIncr(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the incremental scale property, round-12 shape: the corpus gram
    // set joins the PER-GRAM aggregate (unique keys — unskewable),
    // and only the verdict table joins back onto the occurrence
    // stream → exactly two equi-joins, both AQE-manageable; the
    // round-11 form chained two per-occurrence joins in one stage
    // where a hot gram was an indivisible partition
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).length == 2,
      s"membership + verdict join-back only:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(plan.contains("partial_min(struct"),
      s"expected the map-side-combined shard-firsts aggregate:\n$plan")
    assert(plan.contains("Window"), s"expected the islands window:\n$plan")
  }

  test("q_pretrain_pipeline: four curation stages, no cartesian anywhere") {
    // quality gate is row-local; dedup is ONE content-hash groupBy +
    // semi-join; decontamination probes a BROADCAST eval shingle set
    // (asserted on q_decontaminate's own plan above — selectToBudget's
    // lineage-cutting localCheckpoint hides the upstream stages from
    // THIS plan string); the budget cut is the two-stage prefix sum.
    // The visible tail and the pre-checkpoint analyzed plan must both
    // be cartesian-free.
    val df = SparkEntry.qPretrainPipeline(spark, TestSpark.sfDir)
    assert(!df.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    // the upstream stages, re-declared without the budget cut so the
    // whole join graph is visible in one physical plan
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val clean = graft.operators.TextAnalysis.cleanFilter(docs,
      "doc_id", "text", 20, 100000, 2.0, 12.0, 0.3, 0.12)
    val sdocs = docs.join(
      clean.select("doc_id", "n_words", "quality_score"), "doc_id")
    val winners = graft.operators.Dedup.exact(sdocs, "doc_id", "text")
      .select(org.apache.spark.sql.functions.col("canonical_id")
        .as("doc_id"))
    val dd = sdocs.join(winners, Seq("doc_id"), "left_semi")
    val plan = dd.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q_unigram_encode: the encode itself is joinless — one projection over the word table") {
    val df = SparkEntry.qUnigramEncode(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the cost model enters as a LITERAL map (driver-bounded vocab),
    // so the Viterbi DP is a pure projection: the only shuffle is the
    // word-count groupBy that feeds it; no join anywhere
    assert(!plan.contains("Join"), s"encode must not join:\n$plan")
    assert(countShuffles(df, pins = 1) <= 1, s"word-count exchange only:\n$plan")
  }

  test("q_join_plan: planning reads cells, never a corpus cartesian") {
    val df = SparkEntry.qJoinPlan(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"corpora must never cartesian:\n$plan")
    // exactly the 1-row stitches: stats_a × stats_b × estimate ×
    // exact-audit = 3 nested loops per scenario, 4 scenarios
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 12,
      s"only single-row stitches may nest:\n$plan")
  }

  test("q_pagerank: iterative joins stay equi-joins — no corpus cartesian") {
    val df = SparkEntry.qPageRank(spark, TestSpark.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"rank propagation must equi-join on node id:\n$plan")
  }

  test("perceptual signatures: the payload decode runs exactly ONCE per row") {
    // the quarantine filter must sit ABOVE the decode projection
    // (the explode(array(decode)) generator barrier): a pushed-down
    // NULL check re-invokes the O(payload-bytes) decode inside the
    // Filter condition — a 2× decode per row on the dominant cost
    // term at media scale. Gate: the decode expression appears
    // exactly once in the physical plan.
    Seq(
      ("graft_image_phash", SparkEntry.qImageAhash(spark, TestSpark.sfDir)),
      ("graft_audio_phash", SparkEntry.qAudioAhash(spark, TestSpark.sfDir)),
      ("graft_image_frame_hashes", SparkEntry.qVideoFrames(spark, TestSpark.sfDir))
    ).foreach { case (fn, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(fn.r.findAllIn(plan).length == 1,
        s"$fn must be invoked once per row:\n$plan")
    }
  }

  test("perceptual pair queries: ONE decode pass — every consumer reads the checkpointed signatures") {
    // AQE's broadcast conversion defeats ReuseExchange on the banded
    // self-join, so without the signature localCheckpoint the shipped
    // plans re-ran scan→decode 2-5× (r14 verdict). Gate: after
    // materialization, the final adaptive plan scans NO parquet —
    // both join sides (and the video df-cap) read the ExistingRDD.
    Seq[(String, org.apache.spark.sql.DataFrame)](
      ("q_image_neardup", SparkEntry.qImageNeardup(spark, TestSpark.sfDir)),
      ("q_image_neardup_wide", SparkEntry.qImageNeardupWide(spark, TestSpark.sfDir)),
      ("q_audio_neardup", SparkEntry.qAudioNeardup(spark, TestSpark.sfDir)),
      ("q_video_neardup", SparkEntry.qVideoNeardup(spark, TestSpark.sfDir)),
      ("q_video_fuzzy", SparkEntry.qVideoFuzzy(spark, TestSpark.sfDir)),
      ("q_media_pipeline", SparkEntry.qMediaPipeline(spark, TestSpark.sfDir)),
      ("q_video_segments", SparkEntry.qVideoSegments(spark, TestSpark.sfDir))
    ).foreach { case (n, df) =>
      df.count() // materialize: lazy checkpoint + final adaptive plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD"),
        s"$n must read the checkpointed signatures:\n$plan")
      assert(!plan.contains("Scan parquet"),
        s"$n re-scans the corpus past the checkpoint:\n$plan")
    }
  }

  test("q_video_segments: the segment aggregate rides the island window's exchange") {
    // the groupBy keys (pair, offset, island) are a SUPERSET of the
    // window's partition keys, so hash clustering on (pair, offset)
    // already satisfies the aggregate — no exchange may appear keyed
    // on the island column
    val df = SparkEntry.qVideoSegments(spark, TestSpark.sfDir)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!"Exchange hashpartitioning\\([^)]*isl".r
        .findFirstIn(plan).isDefined,
      s"segment aggregate re-shuffled on the island key:\n$plan")
  }

  test("q_trustrank / q_trust_select: seed teleport and budget cut stay cartesian-free") {
    // trust flows from a localCheckpoint chain with unknown size
    // stats, so the small-side broadcast is AQE's runtime conversion,
    // not a static promise — the static plan must just never cartesian
    Seq(SparkEntry.qTrustRank(spark, TestSpark.sfDir),
        SparkEntry.qTrustSelect(spark, TestSpark.sfDir)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    }
  }
}
