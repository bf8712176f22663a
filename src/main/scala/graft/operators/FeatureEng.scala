package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.operators.WindowedFeatures.dsum

/** Feature-engineering operators mirroring the reference's Python
  * training pipelines (reference python/criteo_example/dataset.py,
  * python/gbdt_example/dataset.py, python/mslr_example/dataset.py),
  * re-expressed as declarative Spark plans.
  */
object FeatureEng {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Star-schema enrichment: fact ⋈ dims with small dims broadcast so
    * the fact table never shuffles for them. The orders/customer joins
    * shuffle on their keys (at 100 TB these are the genuinely large
    * sides; AQE may still broadcast customer when it fits). nation and
    * region are always tiny → explicit broadcast.
    */
  def enrichStar(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                 nation: DataFrame, region: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name", "c_mktsegment")
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"))

  /** Categorical hash-bucketing (reference
    * python/criteo_example/dataset.py:103): md5-based bucket ids for
    * low- and high-cardinality categoricals. Pure codegen'd column
    * expressions — no shuffle at all, embarrassingly parallel.
    */
  def categoricalHash(customer: DataFrame): DataFrame =
    customer.select(
      col("c_custkey").as("entity_id"),
      col("c_mktsegment").as("segment"),
      Fns.hashBucket(col("c_mktsegment"), 100).as("segment_bucket"),
      Fns.hashBucket(col("c_name"), 1000).as("name_bucket"))

  /** Rank-quantile threshold label (reference
    * python/gbdt_example/dataset.py:119 — top-p% risk label): per-key
    * exact money total, then an exact global percent_rank — WITHOUT a
    * single-partition window.
    *
    * percent_rank(x) = |rows with gmv < x| / (n - 1), so the global
    * sort reduces to counting rows strictly below each value. The
    * value space is cut into `rangeParts` buckets at approximate
    * quantile boundaries — collected ONCE and pinned as literals, so
    * every downstream job sees identical bucketing no matter how
    * approx_percentile would re-merge on a recompute. One tiny driver
    * job sums each bucket (rangeParts longs → running-sum offsets, also
    * literals), and a per-bucket window finishes the exact
    * within-bucket cumulative — partitioned by bucket, so no
    * SinglePartition exchange anywhere and each window task holds
    * ~1/rangeParts of the DISTINCT values (raise rangeParts with
    * scale). Ties share a rank by construction (they collapse into one
    * distinct-gmv row). The per-key aggregate is lazily
    * localCheckpoint'd: the boundary job, the offsets job and the
    * final plan all reuse one materialization instead of re-scanning
    * the fact table three times.
    */
  def quantileLabel(orders: DataFrame, keyCol: String, valCol: String,
                    pct: Double, rangeParts: Int = 32): DataFrame = {
    val g = orders.groupBy(col(keyCol).as("entity_id"))
      .agg(dsum(col(valCol)).as("gmv"))
      .localCheckpoint(false)
    // |rows strictly below x| = inclusive prefix sum of the
    // DISTINCT-value counts minus the value's own count — ONE shared
    // implementation with packSequences etc. (runningTotal balances
    // its buckets in distinct-value space by construction, exactly
    // what the per-bucket windows need under heavy ties).
    val counts = g.groupBy("gmv").agg(count(lit(1)).as("cnt"))
    val rt = runningTotal(counts, "gmv", "cnt", rangeParts)
    val total = g.count()
    val below = rt.select(col("ord").as("gmv"),
      (col("running_total") - col("val")).as("below"))
    g.join(below, "gmv")
      .withColumn("pr",
        round(when(lit(total) > 1L,
          col("below") / (lit(total) - 1).cast("double"))
          .otherwise(lit(0.0)), 6))
      .withColumn("risk_label", when(col("pr") >= pct, 1).otherwise(0))
      .select("entity_id", "gmv", "pr", "risk_label")
  }

  /** Scale-path twin of quantileLabel: the threshold comes from
    * approx_percentile (t-digest, fully distributed — no global sort,
    * no single-partition window), so it works on key spaces where an
    * exact global rank is impractical. Labels can differ from the
    * exact variant only for keys within the sketch's error bound of
    * the threshold.
    */
  def quantileLabelApprox(orders: DataFrame, keyCol: String, valCol: String,
                          pct: Double, accuracy: Int = 10000): DataFrame = {
    val g = orders.groupBy(col(keyCol).as("entity_id"))
      .agg(dsum(col(valCol)).as("gmv"))
    val thr = g.agg(
      percentile_approx(col("gmv"), lit(pct), lit(accuracy)).as("thr"))
    g.crossJoin(broadcast(thr))
      .withColumn("risk_label", when(col("gmv") >= col("thr"), 1).otherwise(0))
      .select("entity_id", "gmv", "risk_label")
  }

  /** Supplier×part-brand revenue features: fact ⋈ part ⋈ supplier ⋈
    * nation with every dimension broadcast (part and supplier are
    * O(SF·200k) rows — far under the broadcast threshold at any SF;
    * at true 100 TB part would exceed it and AQE demotes that one to
    * a shuffle join while the others stay broadcast). The fact table
    * is scanned once and never shuffles before the aggregate.
    */
  def supplierPartFeatures(lineitem: DataFrame, part: DataFrame,
                           supplier: DataFrame, nation: DataFrame)
  : DataFrame =
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("supplier_nation"), col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        // decimal-accumulated mean (order-independent across partitions)
        round(dsum(col("p_retailprice")) / count(col("p_retailprice")), 6)
          .as("avg_retail"))

  /** Per-feature normalization for training prep: z-score and min-max
    * scaled columns in one pass — the standard-scaler step of the
    * reference's Python pipelines (reference python/criteo_example/
    * dataset.py normalization), EAV-shaped. The per-feature stats are
    * a tiny aggregate broadcast back onto the records, so the data
    * itself never shuffles. Stats are rounded before use (mean 6dp,
    * stddev 4dp) so the scaled values are engine-deterministic.
    */
  def normalize(records: DataFrame, nameCol: String, valCol: String)
  : DataFrame = {
    import graft.operators.WindowedFeatures.dsum
    val v = col(valCol)
    val stats = records.groupBy(col(nameCol))
      .agg(
        round(dsum(v) / count(v), 6).as("f_mean"),
        round(stddev(v), 4).as("f_sd"),
        min(v).as("f_min"),
        max(v).as("f_max"))
    records.join(broadcast(stats), nameCol)
      // degenerate spread → z = 0. Spark stddev of ONE value is NaN
      // where DuckDB's is NULL — both are folded into the zero branch
      // so the engines agree (the memory-noted NaN≠NULL oracle trap).
      .withColumn("z",
        when(col("f_sd").isNull || isnan(col("f_sd")) || col("f_sd") === 0,
          0.0)
          .otherwise(round((v - col("f_mean")) / col("f_sd"), 6)))
      .withColumn("mm",
        when(col("f_max") === col("f_min"), 0.0)
          .otherwise(round((v - col("f_min")) /
            (col("f_max") - col("f_min")), 6)))
      .drop("f_mean", "f_sd", "f_min", "f_max")
  }

  /** Deterministic key-hash train/test split (reference
    * gbdt_example/dataset.py train/test split): stable across runs and
    * engines because the bucket is md5-derived from the key, not
    * random. No shuffle; survives any reshuffling of input data.
    */
  /** THE split-routing rule — single definition shared by
    * trainTestSplit and TrainingExport so an exported artifact can
    * never disagree with the declared split. */
  def splitColumn(keyCol: String, trainPct: Int): Column =
    when(Fns.md5Hash31(col(keyCol).cast("string")) % 100 < trainPct,
      "train").otherwise("test")

  def trainTestSplit(df: DataFrame, keyCol: String, trainPct: Int): DataFrame =
    df.select(
      col(keyCol).as("entity_id"),
      (Fns.md5Hash31(col(keyCol).cast("string")) % 100).as("hash_bucket"),
      splitColumn(keyCol, trainPct).as("split"))

  /** Exact global running total of `valCol` in ascending `orderCol`
    * order WITHOUT a single-partition window: `orderCol`'s value
    * space is cut at approximate quantile boundaries (collected once,
    * pinned as literals), one tiny driver job turns per-bucket sums
    * into literal offsets, and a per-bucket window finishes the
    * within-bucket prefix — the same shape as [[quantileLabel]]'s
    * exact rank, generalized to any monotone accumulation. `orderCol`
    * must be unique (it is the total order) and NUMERIC or timestamp:
    * bucket boundaries are compared on the double scale, which must
    * agree with the native sort order (a string "10" sorts before "2"
    * lexicographically but after it numerically — rejected rather
    * than silently mis-summed). Null values contribute 0 to the
    * running total (their rows still appear, with `val` null).
    * Returns (ord, val, running_total) with `running_total` INCLUSIVE
    * of the current row.
    */
  def runningTotal(df: DataFrame, orderCol: String, valCol: String,
                   buckets: Int = 32): DataFrame = {
    val ordType = df.schema(orderCol).dataType
    require(ordType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        ordType == org.apache.spark.sql.types.TimestampType,
      s"orderCol must be numeric or timestamp (its sort order must " +
        s"match its double cast); got $ordType")
    val base = df.select(col(orderCol).as("ord"),
        col(valCol).cast("long").as("val"))
      .localCheckpoint(false)
    val boundsRow = base.agg(percentile_approx(
        col("ord").cast("double"),
        lit((1 until buckets).map(_.toDouble / buckets).toArray),
        lit(10000)).as("bs"))
      .head()
    val bounds: Seq[Double] =
      if (boundsRow.isNullAt(0)) Seq.empty
      else boundsRow.getSeq[Double](0)
    val bucketOf: Column =
      if (bounds.isEmpty) lit(0)
      else bounds.map(b =>
        when(col("ord").cast("double") > lit(b), 1).otherwise(0))
        .reduce(_ + _)
    val bucketed = base.withColumn("bkt", bucketOf)
    val perBucket = bucketed.groupBy("bkt").agg(sum("val").as("s"))
      .collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val offsets = (0 until buckets)
      .scanLeft(0L)((acc, b) => acc + perBucket.getOrElse(b, 0L))
    val offsetArr = array(offsets.take(buckets).map(lit(_)): _*)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy("ord")
      .rowsBetween(Long.MinValue, 0)
    bucketed
      .withColumn("running_total",
        element_at(offsetArr, col("bkt") + 1) +
          coalesce(sum("val").over(wB), lit(0L))) // all-null prefix = 0
      .select("ord", "val", "running_total")
  }

  /** Derived rank-bucket count: max(64, ⌈n / 2²²⌉) capped at 2¹⁶ —
    * ≤ 4M-row single-task windows through n ≈ 2.7×10¹¹, the driver
    * offset-literal array capped at 65,536 entries (the
    * [[md5DenseRank]] scale bound). */
  private[graft] def derivedRankBuckets(n: Long): Int =
    math.min(1L << 16, math.max(64L, (n + (1L << 22) - 1) / (1L << 22)))
      .toInt

  /** Dense 0-based GLOBAL rank of arbitrary-typed ids in
    * (md5Hash31(id), id) order — the generic re-key: any id domain
    * (string, negative, sparse 64-bit) maps to a dense [0, n)
    * contract a composite-long order can carry, deterministically
    * and WITHOUT a global sort. md5 makes the bucketing uniform by
    * construction (equal-width cuts of the 31-bit hash space — no
    * quantile pass, no skew), one tiny driver job turns per-bucket
    * counts into literal offsets, and a per-bucket window finishes
    * the within-bucket rank ([[runningTotal]]'s shape with the hash
    * as the order). Ids must be distinct (they are a key); the rank
    * order is the md5 order, NOT the id order — callers that need
    * an order-preserving re-key on numeric ids should rank through
    * [[runningTotal]] instead. Returns (id, rid).
    *
    * SCALE BOUND — the single-task window depth is n / buckets (each
    * per-bucket rank window sorts its bucket's rows in ONE task; md5
    * makes the buckets uniform, probe-confirmed, so the depth has no
    * skew tail). The rid output is INDEPENDENT of `buckets` (the
    * global (md5, id) rank is what it is; bucketing is only the
    * parallel decomposition — property-spec-held), so the default
    * `buckets = 0` DERIVES the count from one cheap job over the
    * already-checkpointed hash projection: max(64, ⌈n / 2²²⌉) capped
    * at 65,536 (the driver offset-literal array is the binding
    * constraint) — ≤ 4M-row windows through n ≈ 2.7×10¹¹ ids, and a
    * documented ~n/65,536 depth beyond. Pass `buckets` explicitly to
    * skip the count job or to override the depth/width trade. */
  def md5DenseRank(df: DataFrame, idCol: String,
                   buckets: Int = 0): DataFrame = {
    require(buckets >= 0)
    val hashed0 = df.select(col(idCol).as("id"))
      .withColumn("h", Fns.md5Hash31(col("id").cast("string")))
      .localCheckpoint(false) // feeds the counts AND the rank window
    val nB = if (buckets > 0) buckets else derivedRankBuckets(hashed0.count())
    val width = (1L << 31) / nB + 1 // h < 2^31 → bkt < buckets
    val hashed = hashed0.withColumn("bkt", expr(s"h DIV $width").cast("int"))
    val perB = hashed.groupBy("bkt").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until nB)
      .scanLeft(0L)((acc, b) => acc + perB.getOrElse(b, 0L))
    val offArr = array(offsets.take(nB).map(lit(_)): _*)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy(col("h"), col("id"))
    hashed
      .withColumn("rid", element_at(offArr, col("bkt") + 1) +
        row_number().over(wB) - 1)
      .select(col("id"), col("rid"))
  }

  /** [[md5DenseRank]] WITHIN groups: dense [0, n_g) ranks per
    * `groupCols` value in (md5, id) order. Same uniform equal-width
    * hash bucketing; the per-(group, bucket) offsets come from a
    * prefix-sum window over the (group, bucket) COUNT table — group
    * count × `buckets` rows, model-sized, never the corpus — joined
    * back broadcast-style, so no driver literal is needed and the
    * shape stays fully distributed. Returns (groupCols…, id, rid).
    *
    * Window depth is n_g / buckets for the LARGEST group (see
    * [[md5DenseRank]]'s scale bound); `buckets = 0` derives from the
    * TOTAL row count — conservative when groups are many (per-group
    * windows only get shallower) — with the same [64, 65,536] range,
    * which also bounds the broadcast offset table to groups × 65,536
    * rows. */
  def md5DenseRankBy(df: DataFrame, idCol: String,
                     groupCols: Seq[String],
                     buckets: Int = 0): DataFrame = {
    require(buckets >= 0 && groupCols.nonEmpty)
    val hashed0 = df.select((groupCols.map(col) :+ col(idCol).as("id")): _*)
      .withColumn("h", Fns.md5Hash31(col("id").cast("string")))
      .localCheckpoint(false) // feeds the counts AND the rank window
    val nB = if (buckets > 0) buckets else derivedRankBuckets(hashed0.count())
    val width = (1L << 31) / nB + 1
    val hashed = hashed0.withColumn("bkt", expr(s"h DIV $width").cast("int"))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy("bkt")
      .rowsBetween(Long.MinValue, 0)
    val offsets = hashed.groupBy((groupCols :+ "bkt").map(col): _*)
      .agg(count(lit(1)).as("c"))
      .withColumn("off", sum("c").over(wOff) - col("c"))
      .select((groupCols :+ "bkt" :+ "off").map(col): _*)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy((groupCols :+ "bkt").map(col): _*)
      .orderBy(col("h"), col("id"))
    hashed.join(broadcast(offsets), groupCols :+ "bkt")
      .withColumn("rid", col("off") + row_number().over(wRank) - 1)
      .select((groupCols :+ "id" :+ "rid").map(col): _*)
  }

  /** LENGTH-BUCKETED BATCHING — the dynamic-batching loader artifact
    * (padding waste in a batch is batchSize·max_len − Σ len; batching
    * similar-length docs together is the standard fix): docs are cut
    * into `nBuckets` length buckets by EXACT rank (the runningTotal
    * prefix sum over the length COUNT table — ties share a bucket,
    * so equal-length docs always batch together), then grouped into
    * `batchSize`-doc batches within each bucket in md5 order — which
    * doubles as the in-bucket shuffle training wants, and replays in
    * SQL. Output: (doc_id, n_tokens, len_bucket, batch_idx,
    * batch_pos) with batch_idx dense per bucket and batch_pos ∈
    * [0, batchSize). Every stage is a count-table aggregate, a
    * bounded window, or a broadcast join-back — no corpus-sized
    * window partition (the md5 sub-bucketing bounds each rank window
    * to ~n_bucket/rankBuckets rows). */
  def lengthBatches(docs: DataFrame, idCol: String, textCol: String,
                    nBuckets: Int = 8, batchSize: Int = 32,
                    rankBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 1 && batchSize >= 1)
    val t = docs.select(col(idCol).as("doc_id"),
        size(Fns.words(col(textCol))).cast("long").as("n_tokens"))
      // null-text docs drop (packValues' rule): a NULL n_tokens group
      // would sort NULLS FIRST in Spark's runningTotal but NULLS LAST
      // in the DuckDB oracle, shifting every real doc's `below`
      .filter(col("n_tokens").isNotNull)
      .localCheckpoint(false) // feeds the counts AND the bucket join
    val counts = t.groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    val rt = runningTotal(counts, "n_tokens", "cnt")
    val total = t.count()
    val below = rt.select(col("ord").as("n_tokens"),
      (col("running_total") - col("val")).as("below"))
    val bucketed = t.join(broadcast(below), "n_tokens")
      .withColumn("len_bucket",
        expr(s"below * $nBuckets DIV $total").cast("int"))
    val ranked = md5DenseRankBy(
        bucketed.select("len_bucket", "doc_id"), "doc_id",
        Seq("len_bucket"), rankBuckets)
      .withColumnRenamed("id", "doc_id")
    bucketed.join(ranked, Seq("len_bucket", "doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("len_bucket"),
        expr(s"rid DIV $batchSize").as("batch_idx"),
        pmod(col("rid"), lit(batchSize.toLong)).as("batch_pos"))
  }

  /** GPT-style sequence packing: documents are concatenated in
    * doc-id order into one global token stream cut into fixed
    * `budgetTokens` bins; each document is assigned the bin and
    * offset where its first token lands (a document may straddle its
    * bin's end — continuation into the next bin is the downstream
    * loader's truncate/wrap policy). The assignment is pure
    * arithmetic over the exact distributed [[runningTotal]], so it is
    * identical on any cluster layout.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    budgetTokens: Long): DataFrame =
    packValues(docs.select(col(idCol).as("doc_id"),
        size(Fns.words(col(textCol))).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", budgetTokens)

  /** [[packSequences]] over a PRECOMPUTED per-doc token count — the
    * post-tokenizer form (pieces per doc from a subword encode, not
    * whitespace words): same exact distributed running total, same
    * bin/offset arithmetic, zero/NULL counts dropped. */
  def packValues(df: DataFrame, ordCol: String, valCol: String,
                 budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val toks = df.select(col(ordCol).as("doc_id"),
        col(valCol).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0) // NULL text → NULL size → dropped
    runningTotal(toks, "doc_id", "n_tokens")
      .select(col("ord").as("doc_id"), col("val").as("n_tokens"),
        expr(s"(running_total - val) DIV $budgetTokens").as("bin"),
        pmod(col("running_total") - col("val"), lit(budgetTokens))
          .as("bin_offset"))
  }

  /** QUALITY-CURRICULUM data order (curriculum learning, Bengio et
    * al. 2009, applied to pretraining data: present the cleanest
    * documents first and let the tail of the schedule carry the
    * noisy mass): documents are concatenated HIGHEST-quality-first
    * (score descending, id ascending within a tie) into one global
    * token stream cut into `seqLen`-token bins — the
    * [[packSequences]] arithmetic with a quality-major composite
    * order instead of id order.
    *
    * The order is ONE composite long — (10⁶ − round(score·10⁶))·2^28
    * + doc_id — so the exact distributed [[runningTotal]] applies
    * unchanged and the whole artifact replays in SQL. Contracts,
    * enforced in-plan via raise_error (never silently wrong): score
    * ∈ [0, 1] (6dp — the engine's quality-score convention), ids
    * non-negative under 2^28 (re-key larger corpora through
    * [[md5DenseRank]]). Max composite ≈ 10⁶·2^28 ≈ 2^48 < 2^53, so
    * the running total's double-cast ordering stays exact. NULL
    * scores and non-positive token counts drop (nothing to
    * schedule). Output: (doc_id, q_score, n_tokens, bin, bin_offset).
    */
  def curriculumPack(docs: DataFrame, idCol: String, scoreCol: String,
                     tokCol: String, seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val base = docs.select(col(idCol).as("doc_id"),
        col(scoreCol).as("q"), col(tokCol).cast("long").as("n_tokens"))
      .filter(col("q").isNotNull && col("n_tokens") > 0)
      .withColumn("qmicro", round(col("q") * 1e6).cast("long"))
      // NaN must hit the guard too: round(NaN*1e6).cast(long) is 0 in
      // Spark, which would silently schedule the doc as quality 0.0.
      // The RAW score is guarded alongside the rounded qmicro: a
      // score marginally outside [0,1] (e.g. 1.0000004) rounds back
      // into range and would otherwise pass the declared contract.
      // A 1e-9 tolerance keeps ulp-level blend noise (0.3+0.3+0.4 =
      // 1.0000000000000002) from aborting a job — quarantine doctrine
      // — while real out-of-range scores (4e-7 and up) still raise
      .withColumn("qmicro", when(!isnan(col("q")) &&
        col("q") >= -1e-9 && col("q") <= 1.0 + 1e-9 &&
        col("qmicro") >= 0L &&
        col("qmicro") <= 1000000L, col("qmicro")).otherwise(expr(
        "raise_error('curriculumPack: score must be in [0, 1]')")))
      .withColumn("rid", when(col("doc_id") >= 0L &&
        col("doc_id") < (1L << 28), col("doc_id")).otherwise(expr(
        "raise_error('curriculumPack: doc ids must fit 28 bits (non-negative) — re-key')")))
      .withColumn("ord",
        (lit(1000000L) - col("qmicro")) * (1L << 28) + col("rid"))
    // packValues' doc_id column carries the composite ord — decode
    packValues(base, "ord", "n_tokens", seqLen)
      .select(pmod(col("doc_id"), lit(1L << 28)).as("doc_id"),
        round((lit(1000000L) - expr(s"doc_id DIV ${1L << 28}")) / 1e6, 6)
          .as("q_score"),
        col("n_tokens"), col("bin"), col("bin_offset"))
  }

  /** Cross-doc SEQUENCE-level packing with document-boundary
    * segments — the Dolma/OLMo training-data-order artifact:
    * documents are concatenated in doc-id order into one global
    * token stream cut into fixed `seqLen` training sequences
    * ("bins"), and EVERY (bin, document) intersection comes back as
    * a segment row — where [[packSequences]] answers "which bin does
    * this doc start in", this answers "what exactly is IN each
    * sequence", which is what a boundary-aware attention mask needs
    * (attention must not cross document boundaries inside a packed
    * sequence; OLMo ablates this as intra-document masking).
    *
    * Output, one row per segment: bin, seg_idx (0-based position of
    * the segment within its bin), doc_id, bin_offset (0-based token
    * offset of the segment inside the bin — segment starts ARE the
    * attention-boundary offsets), seg_tokens, doc_tok_start (1-based
    * token of the doc this segment begins at — straddling docs
    * continue with doc_tok_start > 1 in the next bin). Segments tile
    * every bin exactly (spec-held): per bin, bin_offset runs 0,
    * then cumulative seg_tokens, summing to seqLen (the last bin to
    * < seqLen); per doc, seg_tokens sums to the doc's count and
    * doc_tok_start chains contiguously.
    *
    * Scale shape: the assignment is pure arithmetic over the exact
    * distributed [[runningTotal]] (identical on any cluster layout);
    * the explode emits ≤ 1 + n_tokens/seqLen rows per doc (never a
    * fan-out join); seg_idx is a per-bin window whose partitions are
    * bounded by the segments in one sequence (≤ seqLen), so the
    * window cannot straggle.
    */
  def packSegments(df: DataFrame, ordCol: String, valCol: String,
                   seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val toks = df.select(col(ordCol).as("doc_id"),
        col(valCol).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val segStart = greatest(col("rt") - col("n_tokens"),
      col("bin") * seqLen)
    val segEnd = least(col("rt"), (col("bin") + 1) * seqLen)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bin").orderBy("bin_offset")
    runningTotal(toks, "doc_id", "n_tokens")
      .select(col("ord").as("doc_id"), col("val").as("n_tokens"),
        col("running_total").as("rt"))
      // doc = global token interval [rt - n, rt); bins of width L:
      // it intersects bins floor((rt-n)/L) .. floor((rt-1)/L)
      .withColumn("bin", explode(expr(
        s"sequence((rt - n_tokens) DIV $seqLen, (rt - 1) DIV $seqLen)")))
      .select(col("bin"), col("doc_id"),
        (segStart - col("bin") * seqLen).as("bin_offset"),
        (segEnd - segStart).as("seg_tokens"),
        (segStart - (col("rt") - col("n_tokens")) + 1).as("doc_tok_start"))
      .withColumn("seg_idx", (row_number().over(w) - 1).cast("long"))
      .select("bin", "seg_idx", "doc_id", "bin_offset", "seg_tokens",
        "doc_tok_start")
  }

  /** The per-sequence ATTENTION-MASK artifact over [[packSegments]]:
    * one row per bin with the boundary offsets a block-diagonal
    * attention mask is built from — `boundaries` = sorted segment
    * starts (token offsets where attention must reset; boundaries[0]
    * is always 0), `doc_ids` aligned with them, `n_tokens` the packed
    * length (== seqLen except the final bin). The loader consumes
    * this row as-is; nothing downstream re-derives doc extents. */
  def packAttentionMasks(df: DataFrame, ordCol: String, valCol: String,
                         seqLen: Long): DataFrame =
    packSegments(df, ordCol, valCol, seqLen)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_segs"),
        sort_array(collect_list(struct(col("bin_offset"), col("doc_id"))))
          .as("segs"),
        sum("seg_tokens").as("n_tokens"))
      .select(col("bin"), col("n_segs"),
        expr("transform(segs, s -> s.bin_offset)").as("boundaries"),
        expr("transform(segs, s -> s.doc_id)").as("doc_ids"),
        col("n_tokens"))

  /** One-row packing-efficiency report over [[packSegments]]: bin
    * count, doc count, segment count, straddling docs (continuation
    * segments — the docs an intra-document mask MUST know about),
    * packed tokens, fill rate (tokens / bins·seqLen — only the final
    * bin is ever partial, so this is the padding-waste number a
    * loader pays), and mean segments per sequence (how many
    * attention blocks a typical sequence carries). */
  def packStats(df: DataFrame, ordCol: String, valCol: String,
                seqLen: Long): DataFrame =
    packSegments(df, ordCol, valCol, seqLen)
      .agg(countDistinct("bin").as("n_bins"),
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_segments"),
        countDistinct(when(col("doc_tok_start") > 1L, col("doc_id")))
          .as("straddled_docs"),
        sum("seg_tokens").as("n_tokens"))
      .select(col("n_bins"), col("n_docs"), col("n_segments"),
        col("straddled_docs"), col("n_tokens"),
        round(col("n_tokens") / (col("n_bins") * seqLen).cast("double"),
          6).as("fill_rate"),
        round(col("n_segments") / col("n_bins").cast("double"), 6)
          .as("segs_per_bin"))

  /** Deterministic class-balanced sampling for training prep: each
    * row survives iff its key's md5 bucket (0..9999) falls under its
    * class's rate in basis points — downsample the majority class,
    * keep the rare one, reproducibly on any cluster and across reruns
    * (same md5 family as trainTestSplit, so a row's fate never
    * depends on partitioning, order, or an RNG seed). Classes absent
    * from `ratesBp` are dropped. Pure codegen filter: no shuffle, no
    * driver state, embarrassingly parallel.
    */
  def classBalanceSample(df: DataFrame, keyCol: String, classCol: String,
                         ratesBp: Map[String, Int]): DataFrame = {
    require(ratesBp.values.forall(bp => bp >= 0 && bp <= 10000),
      "rates are basis points in [0, 10000]")
    val rate = ratesBp.toSeq.sortBy(_._1)
      .foldLeft(lit(0): Column) { case (acc, (cls, bp)) =>
        when(col(classCol) === cls, lit(bp)).otherwise(acc)
      }
    df.withColumn("sample_bucket",
        Fns.md5Hash31(col(keyCol).cast("string")) % 10000)
      .filter(col("sample_bucket") < rate)
  }

  /** Deterministic STRATIFIED sampling: exactly min(k, |cell|) rows
    * per strata cell, chosen by ascending seeded-md5 rank of the key
    * (ties to the key itself) — the eval/holdout-set construction
    * primitive: a fixed-size, reproducible, uniformly-pseudo-random
    * panel per (source × lang × ...) cell, stable across reruns,
    * partitioning, and cluster size. Unlike [[classBalanceSample]]
    * (per-class RATES), this draws an exact COUNT per cell.
    *
    * Scale shape: rank <= k over a window is planned as
    * WindowGroupLimit (PlanSpec-asserted, same as tfidf's top-k) — a
    * partial per-partition top-k runs below the exchange, so no cell's
    * full membership ever funnels through one task's sort; only ~k
    * rows per cell per input partition shuffle.
    */
  def stratifiedSample(df: DataFrame, keyCol: String,
                       strataCols: Seq[String], k: Int,
                       seed: String = "graft"): DataFrame = {
    require(strataCols.nonEmpty, "need at least one strata column")
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCols.map(col): _*)
      .orderBy(md5(concat(lit(seed), lit(":"),
        col(keyCol).cast("string"))), col(keyCol))
    df.withColumn("strata_rank", row_number().over(w).cast("long"))
      .filter(col("strata_rank") <= k)
  }

  /** MULTI-EPOCH DATA RECIPE (the data-constrained regime, Muennighoff
    * et al. 2023: when the budget exceeds the corpus, REPEAT sources —
    * but repeated epochs carry diminishing value, so each epoch's loss
    * weight decays): fill a global token `budgetTokens` with
    * source-epoch units in (epoch asc, source asc) order — epoch 1 of
    * every source before any epoch 2 — truncating THE one straddling
    * unit to a deterministic md5-order document prefix. Output: one
    * row per SCHEDULED repetition (doc_id, source, n_tokens, epoch,
    * weight_bp), where weight_bp follows the integer decay chain
    * w₁ = 10000, wₑ₊₁ = wₑ·decayBp DIV 10000 (the [[Dedup
    * .softDedupWeights]] basis-point convention — loss weights, not
    * sampling probabilities, so the schedule is reproducible
    * row-for-row).
    *
    * Policy, precisely (every branch oracle-replayed): per-source
    * totals T_s from one aggregate; unit (s, e) starts at the exact
    * prefix sum over units ordered (e, source); a unit wholly inside
    * the budget ships every doc of s; the unit straddling the budget
    * ships the docs of s whose within-source token prefix — in
    * (md5Hash31(doc_id), doc_id) order, INCLUSIVE — fits the
    * remainder (the straddling doc is excluded); units starting at or
    * past the budget are dropped. Zero-token and NULL-text docs never
    * schedule.
    *
    * Scale shape: the schedule table is |sources|·maxEpochs rows,
    * prefix-summed in one window partition per epoch (every epoch
    * holds each source once, so a unit starts after (e − 1) whole
    * epochs plus the sources before it) and broadcast back; full
    * units are broadcast joins
    * against the one checkpointed token projection; the ONLY deep
    * prefix runs over the single straddling source, through
    * [[md5DenseRank]] (bucketed, no global sort) and [[runningTotal]]
    * (bucketed offsets) — never a corpus-sized window partition.
    */
  def epochSchedule(docs: DataFrame, idCol: String, textCol: String,
                    srcCol: String, budgetTokens: Long,
                    maxEpochs: Int = 4, decayBp: Long = 5000L)
  : DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(maxEpochs >= 1 && maxEpochs <= 16,
      s"maxEpochs must be in [1, 16], got $maxEpochs")
    require(decayBp >= 0 && decayBp <= 10000,
      s"decayBp must be in [0, 10000], got $decayBp")
    val spark = docs.sparkSession
    val toks = docs.select(col(idCol).as("doc_id"),
        col(srcCol).as("source"),
        size(Fns.words(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .localCheckpoint(false) // feeds totals, full joins, the prefix
    val units = toks.groupBy("source").agg(sum("n_tokens").as("t_src"))
      .crossJoin(spark.range(1, maxEpochs + 1)
        .select(col("id").as("epoch"))) // long: the oracle's BIGINT
    val wE = org.apache.spark.sql.expressions.Window.partitionBy("epoch")
    val sched = units
      .withColumn("start", (col("epoch") - 1) * sum("t_src").over(wE) +
        sum("t_src").over(wE.orderBy("source").rowsBetween(Long.MinValue, 0)) -
        col("t_src"))
      .localCheckpoint(false) // one schedule for full + partial + join
    val fullU = sched
      .filter(col("start") + col("t_src") <= budgetTokens)
      .select("source", "epoch")
    val partU = sched
      .filter(col("start") < budgetTokens &&
        col("start") + col("t_src") > budgetTokens)
      .select(col("source"), col("epoch"),
        (lit(budgetTokens) - col("start")).as("remaining"))
    val fullDocs = toks.join(broadcast(fullU), Seq("source"))
      .select("doc_id", "source", "n_tokens", "epoch")
    // the one straddling unit: md5-order token prefix within source
    val pToks = toks.join(broadcast(partU), Seq("source"))
    val pRank = md5DenseRank(pToks.select("doc_id"), "doc_id", 64)
      .withColumnRenamed("id", "doc_id")
    val pWithRank = pToks.join(pRank, "doc_id")
    val pPrefix = runningTotal(
        pWithRank.select(col("rid"), col("n_tokens")), "rid", "n_tokens")
      .select(col("ord").as("rid"), col("running_total"))
    val partDocs = pWithRank.join(pPrefix, "rid")
      .filter(col("running_total") <= col("remaining"))
      .select("doc_id", "source", "n_tokens", "epoch")
    val weights = Iterator.iterate(10000L)(w => w * decayBp / 10000)
      .take(maxEpochs).toSeq
    val weightCol = (1 to maxEpochs)
      .foldRight(lit(0L): org.apache.spark.sql.Column)((e, acc) =>
        when(col("epoch") === e, lit(weights(e - 1))).otherwise(acc))
    fullDocs.unionByName(partDocs)
      .withColumn("weight_bp", weightCol)
  }

  /** Dolma/Pile-style DOMAIN MIXING: downsample each source to a
    * target share of the output TOKEN budget. Per-source token counts
    * come from one aggregate; the binding source (smallest
    * tokens/share) keeps ~100% and every other source's keep rate
    * derives so output token shares hit the target — the largest
    * corpus achievable at that mix with no upsampling. Sources absent
    * from `targetShares` are dropped.
    *
    * Application is the deterministic md5-bucket filter (same hash
    * family as [[classBalanceSample]]/[[trainTestSplit]] — a doc's
    * fate never depends on partitioning, order, or an RNG seed): the
    * corpus is scanned once and never shuffles; the per-source rate
    * table (|sources| rows) broadcasts. Rates floor to basis points,
    * so realized shares sit within 1e-4 of the target; the binding
    * source may floor to 9999 under double rounding (guarded by
    * least(10000, …) on both engine and oracle, identically).
    */
  def domainMix(docs: DataFrame, keyCol: String, textCol: String,
                srcCol: String, targetShares: Map[String, Double])
  : DataFrame = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ >= 0) &&
      targetShares.values.sum > 0, "shares must be non-negative, sum > 0")
    val base = docs.select(col(keyCol).as("doc_id"),
      col(srcCol).as("source"),
      size(Fns.words(col(textCol))).cast("long").as("n_tokens"))
    val shareCol = targetShares.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("double")) { case (acc, (s, w)) =>
        when(col("source") === s, lit(w)).otherwise(acc)
      }
    val perSrc = base.groupBy("source")
      .agg(sum("n_tokens").as("src_tokens"))
      .withColumn("share", shareCol)
      .filter(col("share").isNotNull && col("share") > 0)
    mixApply(base, mixRates(perSrc),
      Seq("doc_id", "source", "n_tokens", "sample_bucket", "rate_bp"))
  }

  /** THE rate derivation every mixing operator shares (hand-picked,
    * temperature, DoReMi-learned, cluster-balanced — one code path,
    * so the q_domain_mix oracle idiom cannot de-sync across callers):
    * scale = min(src_tokens / share) — the largest corpus achievable
    * with no upsampling — and rate_bp = least(10000, floor(scale ·
    * share / src_tokens · 1e4)). `perSrc` must carry (source,
    * src_tokens, share); extra columns ride through. */
  private[graft] def mixRates(perSrc: DataFrame): DataFrame = {
    val scale = perSrc.agg(min(col("src_tokens") / col("share")).as("scale"))
    perSrc.crossJoin(broadcast(scale))
      .select(perSrc.columns.map(col) :+
        least(lit(10000L),
          floor(col("scale") * col("share") / col("src_tokens") * 10000))
          .as("rate_bp"): _*)
  }

  /** THE md5-gate application every mixing operator shares: the
    * (|sources|-row) rate table broadcasts onto the (doc_id, source,
    * n_tokens) base, a doc survives iff its deterministic md5 bucket
    * clears its source's rate. */
  private[graft] def mixApply(base: DataFrame, rates: DataFrame,
                                  outCols: Seq[String]): DataFrame =
    base.join(broadcast(rates), Seq("source"))
      .withColumn("sample_bucket",
        Fns.md5Hash31(col("doc_id").cast("string")) % 10000)
      .filter(col("sample_bucket") < col("rate_bp"))
      .select(outCols.head, outCols.tail: _*)

  /** Temperature-based domain mixing (the multilingual α-sampling
    * rule): target share_d ∝ src_tokens_d^α with α ∈ [0, 1] — α=1
    * keeps natural proportions, α=0 flattens to uniform, 0.5 (the
    * common default) boosts small domains' SHARE of the budget
    * without upsampling documents. Shares derive from the corpus'
    * own token counts in-plan, then the [[domainMix]] machinery
    * applies unchanged (binding source ~100%, md5-bucket filter,
    * basis-point floors).
    *
    * Determinism across engines (the oracle replays this verbatim):
    * weights floor to integer millis BEFORE the share division (an
    * integer sum is associative — a double sum's bits would depend
    * on aggregation order), shares round to 6 dp, and α = 0.5 routes
    * through sqrt (IEEE correctly-rounded everywhere; pow's last
    * ulp is implementation-defined).
    */
  def domainMixTemperature(docs: DataFrame, keyCol: String,
                           textCol: String, srcCol: String,
                           alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1]: $alpha")
    val base = docs.select(col(keyCol).as("doc_id"),
      col(srcCol).as("source"),
      size(Fns.words(col(textCol))).cast("long").as("n_tokens"))
    val powCol =
      if (alpha == 0.5) sqrt(col("src_tokens").cast("double"))
      else pow(col("src_tokens").cast("double"), lit(alpha))
    val perSrc = base.groupBy("source")
      .agg(sum("n_tokens").as("src_tokens"))
      .withColumn("wgt", floor(powCol * 1000).cast("long"))
    val totW = perSrc.agg(sum("wgt").as("tot_w"))
    val shares = perSrc.crossJoin(broadcast(totW))
      .withColumn("share",
        round(col("wgt").cast("double") / col("tot_w"), 6))
      .select("source", "src_tokens", "share")
    mixApply(base, mixRates(shares),
      Seq("doc_id", "source", "n_tokens", "share", "sample_bucket",
        "rate_bp"))
  }

  /** DCLM/FineWeb-style SOFT quality filtering: instead of a hard
    * keep/drop threshold, each row survives with probability equal to
    * its `weight` column (a keep probability — e.g. a quality score),
    * so the output is the weight-tilted corpus: borderline documents
    * are downsampled rather than eliminated, preserving distributional
    * diversity that a hard cut destroys. The coin flip is the same
    * deterministic md5-bucket family as [[classBalanceSample]] /
    * [[trainTestSplit]]: a row's fate is a pure function of
    * (seed, key), reproducible across reruns, partitionings and
    * cluster sizes. Distinct seeds draw independent samples from the
    * same corpus (epoch re-rolls). Weights clamp to [0, 1] and floor
    * to basis points; NULL weight drops the row (vacuous ≤ NULL).
    * Pure codegen filter: no shuffle, no driver state.
    */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
                     seed: String = "graft"): DataFrame =
    df.withColumn("keep_bp",
        floor(least(greatest(weight, lit(0.0)), lit(1.0)) * 10000)
          .cast("long"))
      .withColumn("sample_bucket",
        Fns.md5Hash31(concat(lit(seed), lit(":"),
          col(keyCol).cast("string"))) % 10000)
      .filter(col("sample_bucket") < col("keep_bp"))

  /** Deterministic TRAINING-ORDER SHUFFLE + SHARDING: the last step
    * before a corpus feeds a data loader. Each row gets a seeded md5
    * sort key; its shard is the md5Hash31 bucket of that key's prefix
    * and its position within the shard is the rank of the full key —
    * a reproducible global permutation (pure function of (seed, id):
    * same result on any cluster layout; a new seed = a fresh epoch
    * order) with none of the coordination a random shuffle needs.
    *
    * One shuffle: rows hash-partition by shard, then a per-shard
    * window numbers them. Size `nShards` so a shard fits one task
    * (~the output-file granularity a loader wants anyway — at 100 TB
    * and 1 GB shards that is ~100k shards, each numbered
    * independently). The write-side twin is
    * `repartition(col("shard")).sortWithinPartitions("sort_key")` →
    * one ordered file per shard.
    */
  def shuffleShard(docs: DataFrame, idCol: String, nShards: Int,
                   seed: String = "graft"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("sort_key", "doc_id")
    docs.select(col(idCol).as("doc_id"),
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
          .as("sort_key"))
      .withColumn("shard",
        conv(substring(col("sort_key"), 1, 8), 16, 10).cast("long")
          % 2147483648L % nShards)
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "shard_pos")
  }

  /** DCLM-style TOKEN-BUDGET DATA SELECTION: keep the best-scoring
    * documents until a global token budget is spent — the "train on
    * the top-N tokens by classifier score" step that turns a scored
    * corpus into a fixed-size training set. Returns (doc_id, score,
    * n_tokens, cum_tokens) for every doc whose INCLUSIVE cumulative
    * token count, in (score desc, doc_id asc) order, fits the budget
    * — the straddling document is dropped, so the output never
    * exceeds `budgetTokens`.
    *
    * Exact global selection WITHOUT a single-partition sort: the
    * cumulative splits into (tokens in strictly-better scores) +
    * (within-tie prefix). The first term is [[runningTotal]] over
    * DISTINCT negated scores — the shared prefix-sum machinery, range-
    * balanced in distinct-value space; the second is a window
    * partitioned BY score, so its partitions are the tie groups.
    * Caveat: a tie group is one window partition — classifier scores
    * are near-continuous so groups stay tiny, but a degenerate
    * constant score funnels the corpus into one partition; round
    * scores no coarser than you can afford ties. NULL scores and
    * non-positive/NULL token counts are dropped (they can't be
    * ranked / cost nothing).
    */
  def selectToBudget(docs: DataFrame, idCol: String, score: Column,
                     tokens: Column, budgetTokens: Long,
                     rangeParts: Int = 32): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val base = docs.select(col(idCol).as("doc_id"), score.as("score"),
        tokens.cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0 && col("score").isNotNull)
      .localCheckpoint(false) // feeds the score totals AND the join
    val counts = base.groupBy(negate(col("score")).as("negscore"))
      .agg(sum("n_tokens").as("tie_tokens"))
    val above = runningTotal(counts, "negscore", "tie_tokens", rangeParts)
      .select(negate(col("ord")).as("score"),
        (col("running_total") - col("val")).as("above_tokens"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy("score").orderBy("doc_id")
      .rowsBetween(Long.MinValue, 0)
    base.join(above, "score")
      .withColumn("cum_tokens",
        col("above_tokens") + sum("n_tokens").over(wTie))
      .filter(col("cum_tokens") <= budgetTokens)
      .select("doc_id", "score", "n_tokens", "cum_tokens")
  }

  /** Per-group ranking-feature variants (reference
    * python/mslr_example/dataset.py:30-45 — sum/min/max/mean/var of
    * each raw feature within the query group). One shuffle with
    * map-side partial aggregation; variance is computed from exact
    * decimal power sums so it is order-independent (deterministic on
    * any cluster size), unlike a naive double `var_samp`.
    */
  def rankingAggs(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val v = col(valCol)
    val grouped = df.groupBy(col(keyCol).as("group_id"))
      .agg(
        count(lit(1)).as("n"),
        dsum(v).as("sum_v"),
        min(v).as("min_v"),
        max(v).as("max_v"),
        sum((dec(v) * dec(v)).cast("decimal(38,4)")).cast("double").as("sumsq_v"))
    grouped.select(
      col("group_id"), col("n"), col("sum_v"), col("min_v"), col("max_v"),
      round(col("sum_v") / col("n"), 6).as("mean_v"),
      // var is rounded at -4 digits: the decimal(38,4) power sum exceeds
      // 2^53, so its double conversion can differ by 1 ulp across
      // engines — coarse rounding absorbs that while keeping 7 sig figs.
      when(col("n") > 1,
        round((col("sumsq_v") - col("sum_v") * col("sum_v") / col("n")) /
              (col("n") - 1), -4)).as("var_v"))
  }
}
