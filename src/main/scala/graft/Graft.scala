package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.offline.OfflineStore
import graft.online.OnlineStore
import graft.operators._
import graft.registry.{FeatureViewDef, Registry}
import graft.stats.Profiler
import graft.validation.Validation

/** One-stop facade over the graft engine — the API surface a user of
  * the reference feature store maps onto:
  *
  *  reference call                        → graft call
  *  generateTrainingDataset               → Graft.pointInTimeJoin
  *  MaterializationService.materialize    → Graft.materialize / materializeFull
  *  OnlineServingService.getBatch         → Graft.serve / serveWithWarnings
  *  FeatureRegistryService.*              → Graft.registerView / Registry.*
  *  ValidationService.validate            → Graft.validate
  *  FeatureStatistics                     → Graft.profile
  *  (new) LLM-data pipeline               → Graft.dedup* / ann* / text*
  *  (new) text retrieval                  → Graft.search*
  *
  * Every method returns a lazy DataFrame plan — callers compose,
  * Catalyst optimizes, nothing executes until an action.
  */
object Graft {

  // --- training data -------------------------------------------------
  def pointInTimeJoin(features: DataFrame, labels: DataFrame,
                      featureNames: Seq[String], default: Double = 0.0,
                      lookbackDays: Int = 180): DataFrame =
    AsofJoin.pointInTime(features, labels, "entity_id", "ts",
      "feature_name", "value_float", "event_id", "value",
      featureNames, default, lookbackDays)

  def windowedFeatures(events: DataFrame, entity: String, ts: String,
                       value: String, typeCol: String,
                       start: String, end: String): DataFrame =
    WindowedFeatures.windowed(events, entity, ts, value, typeCol, start, end)

  def trainTestSplit(df: DataFrame, keyCol: String, trainPct: Int = 80)
  : DataFrame = FeatureEng.trainTestSplit(df, keyCol, trainPct)

  // --- offline store --------------------------------------------------
  def writeOffline(records: DataFrame, path: String): Unit =
    OfflineStore.write(records, path)

  def latestSnapshot(records: DataFrame): DataFrame =
    OfflineStore.latestSnapshot(records)

  def mergeSnapshot(snapshot: DataFrame, delta: DataFrame): DataFrame =
    OfflineStore.mergeSnapshot(snapshot, delta)

  def materialize(records: DataFrame, view: FeatureViewDef,
                  default: Double = 0.0): DataFrame =
    OfflineStore.materializeVectors(records, view.featureNames, default)

  def materializeFull(records: DataFrame, view: FeatureViewDef,
                      default: Double, asOf: String): DataFrame =
    OfflineStore.materializeFull(records, view.featureNames, default, asOf)

  def timeTravel(records: DataFrame, asOfCommit: Long): DataFrame =
    OfflineStore.timeTravel(records, asOfCommit)

  // --- serving --------------------------------------------------------
  def serve(vectors: DataFrame, keys: DataFrame): DataFrame =
    OnlineStore.batchLookup(vectors, keys)

  def serveWithWarnings(records: DataFrame, keys: DataFrame,
                        view: FeatureViewDef, default: Double, asOf: String,
                        maxAgeMs: Long): DataFrame =
    OnlineStore.batchLookupWithWarnings(records, keys, view.featureNames,
      default, asOf, maxAgeMs)

  /** Publish a materialized snapshot hash-bucketed and sorted for
    * point-read serving (files opened ∝ key batch at lookup time). */
  def publishServingSnapshot(vectors: DataFrame, root: String,
                             keyCol: String = "entity_id",
                             nBuckets: Int = 256, numFiles: Int = 64)
  : Long =
    OnlineStore.publishSnapshot(vectors, root, keyCol, nBuckets, numFiles)

  /** Batch multi-get against a published snapshot with file-level
    * pruning to the requested keys' buckets. */
  def servePoint(spark: SparkSession, root: String, keys: DataFrame)
  : DataFrame =
    OnlineStore.pointLookup(spark, root, keys)

  /** Keyed-MERGE refresh of a published serving snapshot (no
    * republish); it keeps the serving layout, so file pruning holds
    * without a compaction in between. */
  def servingUpsert(updates: DataFrame, root: String): Long =
    OnlineStore.upsertSnapshot(updates, root)

  /** Bring a published serving snapshot into the serving layout at its
    * current size; commits nothing when it already is in it. */
  def servingCompact(spark: SparkSession, root: String,
                     numFiles: Int): Long =
    OnlineStore.compactSnapshot(spark, root, numFiles)

  // --- registry / validation / stats ---------------------------------
  def registerView(name: String, entity: String, version: Int,
                   featureNames: Seq[String]): FeatureViewDef =
    Registry.makeView(name, entity, version, featureNames)

  def validate(records: DataFrame, view: FeatureViewDef, asOf: String,
               slaMs: Map[String, Long]): DataFrame =
    Validation.validateView(records, view, asOf, slaMs)

  def profile(records: DataFrame): DataFrame =
    Profiler.profile(records, "feature_name", "value_float")

  def histogram(records: DataFrame, nBins: Int = 10): DataFrame =
    Profiler.histogram(records, "feature_name", "value_float", nBins)

  def drift(records: DataFrame, aStart: String, mid: String, bEnd: String)
  : DataFrame = OfflineStore.drift(records, aStart, mid, bEnd)

  def psiDrift(records: DataFrame, aStart: String, mid: String,
               bEnd: String, nBins: Int = 10): DataFrame =
    Profiler.psiDrift(records, "feature_name", "value_float", "event_time",
      aStart, mid, bEnd, nBins)

  // --- versioned storage / artifacts ----------------------------------
  def createTable(records: DataFrame, path: String): Long =
    graft.offline.VersionedStore.create(records, path)

  def appendTable(records: DataFrame, path: String): Long =
    graft.offline.VersionedStore.append(records, path)

  def mergeTable(updates: DataFrame, path: String, keys: Seq[String]): Long =
    graft.offline.VersionedStore.merge(updates, path, keys)

  def readTable(spark: SparkSession, path: String,
                versionAsOf: Long = -1L): DataFrame =
    graft.offline.VersionedStore.read(spark, path, versionAsOf)

  /** Data-skipping read: opens only the files whose footer stats
    * intersect [lo, hi] on `column` (see VersionedStore.readRange). */
  def readTableRange(spark: SparkSession, path: String, column: String,
                     lo: Double, hi: Double,
                     versionAsOf: Long = -1L): DataFrame =
    graft.offline.VersionedStore.readRange(spark, path, column, lo, hi,
      versionAsOf)

  /** Small-file compaction; with `sortBy`, lays files out in disjoint
    * key ranges so readTableRange prunes near-perfectly. */
  def compactTable(spark: SparkSession, path: String, numFiles: Int,
                   sortBy: Seq[String] = Nil): Long =
    graft.offline.VersionedStore.compact(spark, path, numFiles, sortBy)

  /** Multi-dimensional clustering: Morton-interleaved rewrite so
    * readTableRange prunes on every `zorderBy` column at once. */
  def compactTableZOrder(spark: SparkSession, path: String, numFiles: Int,
                         zorderBy: Seq[String]): Long =
    graft.offline.VersionedStore.compactZOrder(spark, path, numFiles,
      zorderBy)

  /** Retention cleanup: drop versions below the newest `keepVersions`
    * and reclaim their unshared data files (see VersionedStore.vacuum). */
  def vacuumTable(spark: SparkSession, path: String,
                  keepVersions: Int): Seq[Long] =
    graft.offline.VersionedStore.vacuum(spark, path, keepVersions)

  /** Row-level change feed between two table versions: one row per
    * changed key, change ∈ added | removed | changed. */
  def diffTableVersions(spark: SparkSession, path: String, keyCol: String,
                        fromVersion: Long, toVersion: Long): DataFrame =
    graft.offline.VersionedStore.diffVersions(spark, path, keyCol,
      fromVersion, toVersion)

  /** Wall-clock time travel: the table as of a commit timestamp. */
  def readTableAt(spark: SparkSession, path: String,
                  tsMillis: Long): DataFrame =
    graft.offline.VersionedStore.readAt(spark, path, tsMillis)

  def exportTraining(df: DataFrame, path: String, keyCol: String,
                     trainPct: Int = 80)
  : graft.offline.TrainingExport.ExportManifest =
    graft.offline.TrainingExport.exportDataset(df, path, keyCol, trainPct)

  /** Materialize the corpus in deterministic shuffled training order:
    * one sorted file per shard; a new seed = the next epoch. */
  def exportShuffled(docs: DataFrame, path: String, nShards: Int,
                     seed: String = "graft"): Long =
    graft.offline.TrainingExport.exportShuffled(docs, path, "doc_id",
      nShards, seed)

  // --- LLM data pipeline ----------------------------------------------
  def dedupExact(docs: DataFrame): DataFrame =
    Dedup.exact(docs, "doc_id", "text")

  /** Exact by default (maxDf = 0). At scale, set maxDf (stop-shingle
    * cap) to bound the per-shingle join fan-out, or use dedupPipeline
    * — an uncapped exact ngram is quadratic in duplicate-cluster size
    * (docs/SCALE_NOTES.md). Defaulting the cap ON would silently drop
    * pairs whose only overlap is high-df boilerplate, so the recall
    * trade is the caller's explicit choice.
    */
  def dedupNearNgram(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                     maxDf: Long = 0)
  : DataFrame = Dedup.ngramJaccard(docs, "doc_id", "text", n, threshold, maxDf)

  def dedupMinhash(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4)
  : DataFrame = Dedup.minhashLsh(docs, "doc_id", "text", n, k, bands)

  /** Soft dedup: 1/multiplicity basis-point loss weights instead of
    * hard removal (SoftDeDup 2024). */
  def softDedupWeights(docs: DataFrame): DataFrame =
    Dedup.softDedupWeights(docs, "doc_id", "text")

  /** Gram-projection near-dup embedding vectors (feature-hashing
    * signed projection — integer-exact, one codegen pass per doc);
    * cast `gv` to array<float> to feed the ANN tier. */
  def gramVectors(docs: DataFrame, n: Int = 3, dim: Int = 16): DataFrame =
    Dedup.gramProjectVectors(docs, "doc_id", "text", n, dim)

  /** Near-dup pairs over the gram-projection vectors (exact integer
    * dots, 6dp cosine, triangular-blocked pair scan). */
  def gramPairs(docs: DataFrame, n: Int = 3, dim: Int = 16,
                threshold: Double = 0.9): DataFrame =
    Dedup.gramProjectPairs(docs, "doc_id", "text", n, dim, threshold)

  /** The oracle-replayable SimHash family (portable md5 sign bits +
    * pigeonhole banding + exact popcount hamming) — audit twin of
    * [[dedupSimhash]]. */
  def dedupSimhashMd5(docs: DataFrame, dim: Int = 31,
                      maxHamming: Int = 2): DataFrame =
    Dedup.simhashMd5Pairs(docs, "doc_id", "text", dim, maxHamming)

  /** The oracle-replayable MinHash family (portable md5 hashes +
    * built-in exact-Jaccard verify) — audit twin of [[dedupMinhash]];
    * returns VERIFIED pairs (doc_a, doc_b, n_bands, jaccard). */
  def dedupMinhashMd5(docs: DataFrame, n: Int = 3, k: Int = 16,
                      bands: Int = 4, threshold: Double = 0.8)
  : DataFrame =
    Dedup.minhashMd5Pairs(docs, "doc_id", "text", n, k, bands, threshold)

  def dedupSimhash(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    Dedup.simhashPairs(docs, "doc_id", "text", maxHamming)

  /** Wide-signature scale path. NOTE the threshold is on the
    * 64·words-bit scale (per-word hammings sum), so the words-scaled
    * default is 6·words — numerically matching dedupSimhash's 6 would
    * be ~2× stricter for the same pair. Pass `maxHamming =
    * Some(threshold)` to override.
    */
  def dedupSimhashWide(docs: DataFrame, maxHamming: Option[Int] = None,
                       words: Int = 2): DataFrame =
    Dedup.simhashPairsWide(docs, "doc_id", "text",
      maxHamming.getOrElse(6 * words), words)

  def dedupEmbedding(emb: DataFrame, threshold: Double): DataFrame =
    Dedup.embeddingCosine(emb, "vec_id", "embedding", threshold)

  /** Scale pipeline by default; `exact = true` for the quadratic
    * inverted-index baseline (maxDf applies to that path only). */
  def dedupKeepList(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                    maxDf: Long = 0, exact: Boolean = false)
  : DataFrame =
    Dedup.keepList(docs, "doc_id", "text", n, threshold, maxDf, exact)

  /** The provably-exact keep list under its own name — the quadratic
    * inverted-index path for audits and oracle baselines, so call
    * sites needing exactness don't depend on a boolean flag reading. */
  def dedupKeepListExact(docs: DataFrame, n: Int = 3,
                         threshold: Double = 0.8, maxDf: Long = 0)
  : DataFrame =
    Dedup.keepList(docs, "doc_id", "text", n, threshold, maxDf,
      exact = true)

  /** Exact-first → MinHash candidates → exact-verify: the production
    * dedup order (docs/SCALE_NOTES.md). */
  def dedupPipeline(docs: DataFrame, n: Int = 3, threshold: Double = 0.8)
  : DataFrame = Dedup.pipeline(docs, "doc_id", "text", n, threshold)

  def dedupEmbeddingLsh(emb: DataFrame, threshold: Double, dim: Int)
  : DataFrame = Dedup.embeddingCosineLsh(emb, "vec_id", "embedding",
    threshold, dim)

  /** Exact embedding dedup (distinct vector -> canonical min id +
    * count): run FIRST on replica-heavy corpora — see the scaladoc's
    * LSH-blowup rationale. */
  def dedupEmbeddingExact(emb: DataFrame): DataFrame =
    Dedup.embeddingExact(emb, "vec_id", "embedding")

  /** The packaged embedding dedup keep list: exact replica collapse →
    * SemDeDup pairs among canonicals → keep-min. The vector analogue
    * of dedupPipeline; nCells=1 is the exact oracle mode. */
  def dedupEmbeddingKeepList(emb: DataFrame, threshold: Double,
                             nCells: Int): DataFrame =
    Dedup.embeddingKeepList(emb, "vec_id", "embedding", threshold, nCells)

  /** SemDeDup: k-means-cell-blocked exact cosine pairs — the
    * moderate-threshold scale path (work ~n²/nCells, true cosines,
    * recall bounded by cross-cell splits; nCells=1 == the exact
    * blocked join). */
  def dedupEmbeddingSemdedup(emb: DataFrame, threshold: Double,
                             nCells: Int): DataFrame =
    Dedup.embeddingSemdedup(emb, "vec_id", "embedding", threshold, nCells)

  /** Incremental SemDeDup of a new vector batch against a persisted
    * IVF index (annIvfBuildIndex) used as dedup state: batch-shaped
    * cost (reads only the batch's cells' files), first-seen wins,
    * registers the batch via keyed MERGE. */
  def dedupEmbeddingIncremental(newEmb: DataFrame, indexRoot: String,
                                threshold: Double): DataFrame =
    Dedup.embeddingSemdedupIncremental(newEmb, "vec_id", "embedding",
      indexRoot, threshold)

  def dedupClusters(pairs: DataFrame): DataFrame = Dedup.clusters(pairs)

  /** Quality-aware survivor selection: keep the best-scoring doc per
    * transitive dup cluster (default score: character length — the
    * longest variant is canonical; ties to min doc id). */
  def dedupKeepBest(docs: DataFrame, pairs: DataFrame,
                    score: Column = org.apache.spark.sql.functions.length(
                      org.apache.spark.sql.functions.col("text")))
  : DataFrame =
    Dedup.keepBest(docs, "doc_id", pairs, score)

  /** Leakage-free split: whole near-dup clusters assigned to one
    * side, so no test doc has a near-copy in train. */
  def splitByCluster(docs: DataFrame, pairs: DataFrame,
                     trainPct: Int = 80): DataFrame =
    Dedup.clusterSplit(docs, "doc_id", pairs, trainPct)

  /** Persist the cluster membership artifact; refresh folds a new
    * shard's pairs in via star edges — no re-clustering of history. */
  def buildClusterIndex(pairs: DataFrame, root: String): Unit =
    Dedup.buildClusterIndex(pairs, root)

  def refreshClusterIndex(spark: SparkSession, newPairs: DataFrame,
                          root: String): DataFrame =
    Dedup.refreshClusterIndex(spark, newPairs, root)

  /** Dup-cluster size distribution over a cluster artifact. */
  def clusterSizes(clusterIds: DataFrame): DataFrame =
    Dedup.clusterSizeProfile(clusterIds)

  /** Per-slice dedup impact data card over a cluster artifact:
    * (dims..., n_docs, n_dropped, drop_rate). */
  def dedupReport(docs: DataFrame, clusterIds: DataFrame,
                  dims: Seq[String]): DataFrame =
    Dedup.dedupReportFromClusters(docs, "doc_id", clusterIds, dims)

  /** Action-path twins over a PERSISTED (doc_id, cluster_id) artifact:
    * rerun survivor policy / resplit without re-detecting. */
  def dedupKeepBestFromClusters(docs: DataFrame, clusterIds: DataFrame,
                                score: Column): DataFrame =
    Dedup.keepBestFromClusters(docs, "doc_id", clusterIds, score)

  def splitByClusterFromClusters(docs: DataFrame, clusterIds: DataFrame,
                                 trainPct: Int = 80): DataFrame =
    Dedup.clusterSplitFromClusters(docs, "doc_id", clusterIds, trainPct)

  /** Per-doc n-gram novelty: the fraction of a doc's distinct
    * shingles appearing in no other document. */
  def novelty(docs: DataFrame, n: Int = 3): DataFrame =
    graft.operators.TextAnalysis.novelty(docs, "doc_id", "text", n)

  /** One-call curation from raw crawl to training-ready corpus:
    * quality filter → boilerplate line removal → exact+near dedup →
    * eval decontamination (stage order and rationale in
    * operators.Curate). */
  def curateCorpus(docs: DataFrame, evalDocs: Option[DataFrame] = None,
                   cfg: Curate.CurateConfig = Curate.CurateConfig())
  : DataFrame =
    Curate.corpus(docs, "doc_id", "text", evalDocs, cfg)

  /** Corpus release gates: per-gate (observed, threshold, pass) rows
    * over dup/null/short fractions + per-lang coverage minimums. */
  def validateCorpus(docs: DataFrame,
                     gates: graft.validation.Validation.CorpusGates)
  : DataFrame =
    graft.validation.Validation.validateCorpus(docs, "doc_id", "text",
      "lang", gates)

  /** Vocabulary drift (PSI over top-K words + <other>) between two
    * slices of `docs`; `isA` selects side A. */
  def corpusDrift(docs: DataFrame, isA: Column,
                  topK: Int = 1000): DataFrame =
    graft.operators.TextAnalysis.corpusDrift(docs, "text", isA, topK)

  /** Semantic decontamination: corpus embeddings cosine-close to any
    * eval embedding (paraphrase-level leakage the shingle gate
    * misses). Supply disjoint frames. */
  def decontaminateSemantic(corpus: DataFrame, evalVecs: DataFrame,
                            threshold: Double): DataFrame =
    graft.operators.Ann.semanticDecontam(corpus, evalVecs, "vec_id",
      "embedding", threshold)

  /** Incremental dedup of a newly-arrived shard against persisted
    * state (first-seen wins; first call initializes). Equals the
    * batch pipeline when shards arrive in ascending doc_id order.
    * `pruneStateDocs` > 0 turns on the micro-shard fast path: state
    * files are pruned to the shard's own key ranges instead of
    * scanned linearly (pair with [[compactDedupState]]). */
  def dedupIncremental(newDocs: DataFrame, stateRoot: String,
                       n: Int = 3, threshold: Double = 0.8,
                       pruneStateDocs: Int = 0): DataFrame =
    Dedup.dedupIncremental(newDocs, "doc_id", "text", stateRoot, n,
      threshold, pruneStateDocs = pruneStateDocs)

  /** Key-sort + compact the incremental-dedup state tables so the
    * micro-shard fast path prunes state files by footer stats. */
  def compactDedupState(spark: SparkSession, stateRoot: String,
                        numFiles: Int = 64): Unit =
    Dedup.compactDedupState(spark, stateRoot, numFiles)

  def cleanFilter(docs: DataFrame): DataFrame =
    TextAnalysis.cleanFilter(docs, "doc_id", "text")

  /** RefinedWeb-style repeated-line removal: cut lines occurring in
    * >= maxDf distinct documents (boilerplate), keep everything else
    * in original order; every input doc comes back (possibly empty). */
  def lineDedup(docs: DataFrame, maxDf: Int = 10, minChars: Int = 5)
  : DataFrame =
    Dedup.lineDedup(docs, "doc_id", "text", maxDf, minChars)

  /** Derive the frozen frequent-line artifact for
    * [[lineDedupFrozen]] (md5 keys of lines in >= maxDf docs). */
  def freezeFrequentLines(docs: DataFrame, maxDf: Int = 10,
                          minChars: Int = 5): Array[String] =
    Dedup.freezeFrequentLines(docs, "doc_id", "text", maxDf, minChars)

  /** Streaming-safe line dedup: cut lines whose md5 is in the frozen
    * set — pure projection, equals [[lineDedup]] when the set comes
    * from the same corpus. */
  def lineDedupFrozen(docs: DataFrame,
                      frozenLineKeys: Array[String]): DataFrame =
    Dedup.lineDedupFrozen(docs, "doc_id", "text", frozenLineKeys)

  /** Corpus-level frequent n-gram mining: the top-k n-grams by
    * document frequency (boilerplate discovery, pairs with
    * lineDedup/overlapSpans). */
  def topNgrams(docs: DataFrame, n: Int = 3, k: Int = 20): DataFrame =
    TextAnalysis.topNgrams(docs, "doc_id", "text", n, k)

  /** PII redaction (anonymization): staged regex rule chain — email,
    * IPv4, phone, long digit runs — each match replaced by its marker
    * token, per-rule counts reported. */
  def redactPii(docs: DataFrame,
                rules: Seq[(String, String, String)] =
                  TextAnalysis.PiiRules): DataFrame =
    TextAnalysis.redactPii(docs, "doc_id", "text", rules)

  /** Train/eval decontamination: training docs sharing >= minOverlap
    * distinct n-gram shingles with the eval set (broadcast). */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                    minOverlap: Long = 1L): DataFrame =
    Dedup.decontaminate(docs, "doc_id", "text",
      evalDocs, "doc_id", "text", n, minOverlap)

  /** Freeze the eval shingle set once offline, then tag contamination
    * statelessly — the streaming-safe decontamination pair. */
  def freezeEvalShingles(evalDocs: DataFrame, n: Int = 3): Array[Long] =
    Dedup.freezeEvalShingles(evalDocs, "text", n)

  def decontaminateFrozen(docs: DataFrame, frozenShingles: Array[Long],
                          n: Int = 3, minOverlap: Long = 1L): DataFrame =
    Dedup.decontaminateFrozen(docs, "doc_id", "text", frozenShingles, n,
      minOverlap)

  /** Graded decontamination: per-doc (n_shingles, n_overlap,
    * contam_frac) vs the eval set — threshold on the fraction. */
  def decontaminationScores(docs: DataFrame, evalDocs: DataFrame,
                            n: Int = 3): DataFrame =
    Dedup.decontaminationScores(docs, "doc_id", "text",
      evalDocs, "doc_id", "text", n)

  /** Exact substring overlap spans (Lee et al. substring dedup):
    * maximal shared runs of >= minTokens consecutive tokens. */
  def overlapSpans(docs: DataFrame, n: Int = 3, minTokens: Int = 8,
                   maxDf: Long = 0): DataFrame =
    Dedup.overlapSpans(docs, "doc_id", "text", n, minTokens, maxDf)

  /** Span-level dedup action: strip overlap spans from each pair's
    * higher doc id, keeping documents (only duplicated substrings go). */
  def stripSpans(docs: DataFrame, spans: DataFrame): DataFrame =
    Dedup.stripSpans(docs, "doc_id", "text", spans)

  /** Corpus-GLOBAL exact-substring duplicate spans (Lee et al.
    * ExactSubstr): every occurrence of every duplicated >= minTokens
    * region except the corpus-wide first — no suffix array, no pair
    * join, linear in corpus size and independent of duplicate-cluster
    * fan-out (the scale twin of [[overlapSpans]]' pairwise evidence). */
  def substrSpans(docs: DataFrame, n: Int = 3,
                  minTokens: Int = 8): DataFrame =
    Dedup.exactSubstrSpans(docs, "doc_id", "text", n, minTokens)

  /** The ExactSubstr action: cut all duplicated spans, keeping the
    * global first occurrence of each region; every doc comes back. */
  def substrDedup(docs: DataFrame, n: Int = 3,
                  minTokens: Int = 8): DataFrame =
    Dedup.exactSubstrDedup(docs, "doc_id", "text", n, minTokens)

  /** Freeze the duplicated-gram artifact for [[substrStripFrozen]]:
    * minDf = 1 is the dedup-vs-corpus mode (every corpus gram),
    * minDf >= 2 the boilerplate mode (corpus-internal dups only). */
  def substrFreeze(docs: DataFrame, n: Int = 3,
                   minDf: Long = 2L): Array[Long] =
    Dedup.freezeDupGrams(docs, "doc_id", "text", n, minDf)

  /** Streaming-safe ExactSubstr strip against a frozen gram set: one
    * pure projection, zero state — the action twin of
    * [[decontaminateFrozen]]. */
  def substrStripFrozen(docs: DataFrame, frozenGrams: Array[Long],
                        n: Int = 3): DataFrame =
    Dedup.exactSubstrFrozen(docs, "doc_id", "text", frozenGrams, n)

  /** Incremental ExactSubstr: spans of a NEW shard against an
    * already-kept corpus (its copy is always the keeper) plus
    * within-shard repeats — the daily-ingest shape. */
  def substrSpansAgainst(corpusDocs: DataFrame, shardDocs: DataFrame,
                         n: Int = 3, minTokens: Int = 8): DataFrame =
    Dedup.exactSubstrSpansAgainst(corpusDocs, shardDocs,
      "doc_id", "text", n, minTokens)

  /** The incremental action: shard docs with their against-corpus
    * duplicated spans cut; the corpus is untouched. */
  def substrDedupAgainst(corpusDocs: DataFrame, shardDocs: DataFrame,
                         n: Int = 3, minTokens: Int = 8): DataFrame =
    Dedup.exactSubstrDedupAgainst(corpusDocs, shardDocs,
      "doc_id", "text", n, minTokens)

  /** Build the persisted ExactSubstr gram store (additive counts +
    * shard ledger) so incremental detection never rescans the corpus. */
  def substrStoreBuild(docs: DataFrame, root: String, n: Int = 3): Unit =
    Dedup.buildSubstrStore(docs, "doc_id", "text", root, n)

  /** Fold one shard's gram counts into the store (ledger-idempotent).
    * Detect before ingesting. */
  def substrStoreUpsert(shardDocs: DataFrame, root: String,
                        shardId: String): Boolean =
    Dedup.upsertSubstrShard(shardDocs, "doc_id", "text", root, shardId)

  /** Retract a previously-ingested shard from the gram store: exact
    * count subtraction with the intent/done crash protocol (the
    * cmRetract contract — every additive count store retracts). */
  def substrStoreRetract(shardDocs: DataFrame, root: String,
                         shardId: String): Boolean =
    Dedup.retractSubstrShard(shardDocs, "doc_id", "text", root, shardId)

  /** Incremental spans served from the store (== [[substrSpansAgainst]]
    * over every ingested shard, corpus never read). */
  def substrSpansIncremental(shardDocs: DataFrame, root: String,
                             minTokens: Int = 8): DataFrame =
    Dedup.substrSpansIncremental(shardDocs, "doc_id", "text", root,
      minTokens)

  /** The store-served incremental action. */
  def substrDedupIncremental(shardDocs: DataFrame, root: String,
                             minTokens: Int = 8): DataFrame =
    Dedup.substrDedupIncremental(shardDocs, "doc_id", "text", root,
      minTokens)

  /** Freeze the [[substrStripFrozen]] artifact from the store — no
    * corpus scan, bit-equal to [[substrFreeze]] over the ingested
    * union. */
  def substrFreezeFromStore(spark: SparkSession, root: String,
                            minDf: Long = 2L): Array[Long] =
    Dedup.freezeDupGramsFromStore(spark, root, minDf)

  /** BOUNDED [[substrStripFrozen]] artifact for the minDf = 1
    * dedup-vs-corpus mode: the frozen gram set as an mBits-bit Bloom
    * bitset built from the store (no corpus scan, no driver-side
    * vocabulary collect — mBits/8 bytes regardless of corpus size). */
  def substrFreezeBloom(spark: SparkSession, root: String, mBits: Int,
                        kHashes: Int = 2, minDf: Long = 1L): Array[Long] =
    Dedup.freezeDupGramsBloom(spark, root, mBits, kHashes, minDf)

  /** Streaming-safe strip against the Bloom-frozen artifact: no false
    * negatives vs [[substrStripFrozen]] (everything it cuts, this
    * cuts); false positives over-cut at the Bloom rate — size mBits
    * to the rate, not the corpus. */
  def substrStripFrozenBloom(docs: DataFrame, bloomWords: Array[Long],
                             mBits: Int, kHashes: Int = 2,
                             n: Int = 3): DataFrame =
    Dedup.exactSubstrFrozenBloom(docs, "doc_id", "text", bloomWords,
      mBits, kHashes, n)

  /** Train a unigram-LM (SentencePiece-family) subword tokenizer by
    * Viterbi-EM: corpus scanned once, each round touches only the
    * distinct-word table. */
  def unigramTrain(docs: DataFrame, vocabSize: Int,
                   maxPieceLen: Int = 4, rounds: Int = 3)
  : operators.Unigram.UnigramModel =
    operators.Unigram.train(docs, "doc_id", "text", vocabSize,
      maxPieceLen, rounds)

  /** The frozen unigram scoring artifact (piece → micro-cost),
    * driver-bounded by the vocabulary. */
  def unigramFreeze(model: operators.Unigram.UnigramModel)
  : Map[String, Long] =
    operators.Unigram.collectCosts(model.vocab)

  /** Viterbi-encode every word of every document against a frozen
    * cost map — ONE pure projection, no join, no shuffle,
    * stream-safe. */
  def unigramEncode(docs: DataFrame, costs: Map[String, Long],
                    maxPieceLen: Int = 4): DataFrame =
    operators.Unigram.encodeDocs(docs, "doc_id", "text", costs,
      maxPieceLen)

  /** Word-level Viterbi encode of a (word, …) frame against a frozen
    * cost map: pieces + exact micro-cost per word. */
  def unigramEncodeWords(words: DataFrame, costs: Map[String, Long],
                         maxPieceLen: Int = 4): DataFrame =
    operators.Unigram.encodeWords(words, costs, maxPieceLen)

  /** Retrain the unigram vocabulary from the shared word-count store
    * and persist it under the same root (serving never refits). */
  def unigramStoreRefresh(spark: SparkSession, root: String,
                          vocabSize: Int, maxPieceLen: Int = 4,
                          rounds: Int = 3)
  : operators.Unigram.UnigramModel =
    operators.Unigram.refreshUnigram(spark, root, vocabSize,
      maxPieceLen, rounds)

  /** The persisted unigram artifact: (costs, maxPieceLen), bit-equal
    * to the refresh that wrote it. */
  def unigramStoreModel(spark: SparkSession, root: String)
  : (Map[String, Long], Int) =
    operators.Unigram.modelFromStore(spark, root)

  /** Subword-regularized encode: every word occurrence samples a
    * segmentation (seeded Gumbel perturb-and-MAP — deterministic per
    * (seed, doc, occurrence); alpha 0 == exact Viterbi). The
    * training-data augmentation mode. */
  def unigramEncodeSampled(docs: DataFrame, costs: Map[String, Long],
                           maxPieceLen: Int = 4, alphaMicro: Long = 3L,
                           seed: Long = 0L): DataFrame =
    operators.Unigram.encodeDocsSampled(docs, "doc_id", "text", costs,
      maxPieceLen, alphaMicro, seed)

  /** Gopher-style repetition quality metrics per document. */
  def repetitionMetrics(docs: DataFrame): DataFrame =
    TextAnalysis.repetitionMetrics(docs, "doc_id", "text")

  /** CCNet-style unigram LM quality score per document. */
  def lmScore(docs: DataFrame): DataFrame =
    TextAnalysis.lmScore(docs, "doc_id", "text")

  /** Composite keep/drop quality decision (size/ratio + repetition +
    * lm band) with first-failing-rule attribution in `drop_reason`. */
  def qualityFilter(docs: DataFrame,
                    th: graft.operators.TextAnalysis.QualityThresholds =
                      graft.operators.TextAnalysis.QualityThresholds())
  : DataFrame =
    TextAnalysis.qualityClassifier(docs, "doc_id", "text", th)

  /** MODEL-based quality filter (the DCLM/fastText shape): train a
    * multinomial Naive Bayes classifier on a small labeled `seed`
    * frame (doc_id, lbl) and score every document — log_odds + keep
    * at `threshold`. Training is pure aggregation; the model
    * broadcasts, so the corpus never shuffles tokens by word. */
  def qualityModelScore(docs: DataFrame, seed: DataFrame,
                        alpha: Double = 1.0, threshold: Double = 0.0)
  : DataFrame =
    graft.operators.Classify.nbScore(docs, "doc_id", "text",
      seed, "doc_id", "lbl", alpha, threshold)

  /** Reliability table for ANY scored-vs-labeled frame: rank-decile
    * bins (integer-exact, distributed prefix sum — no global sort),
    * per-bin volume / positive rate / exact score range — the gate
    * before trusting a learned quality filter's threshold. */
  def calibration(scored: DataFrame, scoreCol: String, labelCol: String,
                  nBins: Int = 10): DataFrame =
    graft.operators.Classify.calibrationReport(scored, scoreCol,
      labelCol, nBins)

  /** Train the fastText-style LEARNED quality classifier (the DCLM
    * classifier proper — supervised hashed-n-gram embeddings +
    * logistic output, Joulin et al. 2017) on a labeled seed
    * (doc_id, text, lbl): full-batch GD, integer-micro deterministic,
    * driver state = nBuckets × dim longs. */
  def ftQualityTrain(seed: DataFrame, nBuckets: Int = 4096,
                     dim: Int = 8, epochs: Int = 40,
                     lrMicro: Long = 16000000L)
  : operators.FtClassify.FtModel =
    operators.FtClassify.train(seed, "doc_id", "text", "lbl",
      nBuckets, dim, epochs, lrMicro)

  /** Score a corpus against the FROZEN fastText-style model: the
    * bilinear classifier collapsed to per-bucket scalars probed by
    * one codegen projection — no join, no shuffle, stream-safe. */
  def ftQualityScore(docs: DataFrame,
                     model: operators.FtClassify.FtModel): DataFrame =
    operators.FtClassify.scoreFrozen(docs, "doc_id", "text", model)

  /** Persist / load the trained classifier (ONE atomic VersionedStore
    * table — the refreshUnigram contract; round-trip bit-equal). */
  def ftModelSave(spark: SparkSession,
                  model: operators.FtClassify.FtModel,
                  root: String): Unit =
    operators.FtClassify.saveModel(spark, model, root)

  def ftModelLoad(spark: SparkSession,
                  root: String): operators.FtClassify.FtModel =
    operators.FtClassify.modelFromStore(spark, root)

  // ---- multiclass fastText (langid shape, round 12) ---------------

  /** Train the C-class softmax hashed-n-gram classifier (labels =
    * distinct values of `labelCol`, sorted) — [[ftQualityTrain]]'s
    * softmax twin, spec-held bit-equal to a sequential reference.
    * Class-count ceiling: at most `maxClasses` (default 256) distinct
    * labels — the per-class column set grows O(C) and the generated
    * projection code grows toward the JVM's 64KB method-size limit
    * (an estimate; Spark degrades off codegen rather than failing).
    * Label spaces beyond 256 opt in by raising `maxClasses`. */
  def ftLangidTrain(seed: DataFrame, labelCol: String,
                    nBuckets: Int = 4096, dim: Int = 8,
                    epochs: Int = 40,
                    lrMicro: Long = 16000000L,
                    maxClasses: Int = 256)
  : operators.FtClassify.FtMcModel =
    operators.FtClassify.trainMc(seed, "doc_id", "text", labelCol,
      nBuckets, dim, epochs, lrMicro, maxClasses = maxClasses)

  /** Score a corpus against the FROZEN multiclass model: ONE gram
    * pass for all C classes (argmax ties to lowest class index) —
    * no join, no shuffle, stream-safe. */
  def ftLangidScore(docs: DataFrame,
                    model: operators.FtClassify.FtMcModel): DataFrame =
    operators.FtClassify.scoreFrozenMc(docs, "doc_id", "text", model)

  /** Incremental-refresh store bootstrap for the multiclass
    * classifier: seed docs + params + model + trained-mass snapshot
    * under `root`; returns the fitted model. */
  def ftMcRefreshInit(seed: DataFrame, labelCol: String, root: String,
                      idCol: String = "doc_id",
                      textCol: String = "text", nBuckets: Int = 4096,
                      dim: Int = 8, epochs: Int = 40,
                      lrMicro: Long = 16000000L)
  : operators.FtClassify.FtMcModel =
    operators.FtClassify.initRefreshStoreMc(seed, idCol, textCol,
      labelCol, root, nBuckets, dim, epochs, lrMicro)

  /** Fold one labeled shard into the seed store (idempotent keyed
    * merge); returns the seed row count after the merge. */
  def ftMcSeedUpsert(shardDocs: DataFrame, labelCol: String,
                     root: String, idCol: String = "doc_id",
                     textCol: String = "text"): Long =
    operators.FtClassify.upsertSeedDocsMc(shardDocs, idCol, textCol,
      labelCol, root)

  /** Retrain-vs-keep over the seed store: above `maxDrift` (bucket-
    * label mass L1), refit from the stored seed with the stored
    * params and re-persist atomically. */
  def ftMcRefresh(spark: SparkSession, root: String,
                  maxDrift: Double = 0.1)
  : operators.FtClassify.McRefresh =
    operators.FtClassify.refreshMc(spark, root, maxDrift)

  /** Persist / load the multiclass classifier (ONE atomic
    * VersionedStore table; round-trip bit-equal). */
  def ftMcModelSave(spark: SparkSession,
                    model: operators.FtClassify.FtMcModel,
                    root: String): Unit =
    operators.FtClassify.saveModelMc(spark, model, root)

  def ftMcModelLoad(spark: SparkSession,
                    root: String): operators.FtClassify.FtMcModel =
    operators.FtClassify.modelMcFromStore(spark, root)

  // ---- DoReMi-style learned domain mixture (round 12) --------------

  /** Learn per-domain mixture weights by integer multiplicative
    * weights over in-plan LM excess loss — returns one row per
    * domain with (excess_micro, alpha_micro, share_micro); the whole
    * fit is oracle-replayable integer arithmetic. */
  def doremiWeights(docs: DataFrame, srcCol: String = "source",
                    etaMicro: Long = 500000L, steps: Int = 5,
                    smoothMicro: Long = 10000L): DataFrame =
    operators.Doremi.domainWeights(docs, "doc_id", "text", srcCol,
      etaMicro, steps, smoothMicro)

  /** The multiplicative-weights trajectory over ANY per-domain
    * excess table (source, excess_micro) — the pluggable update
    * half of [[doremiWeights]]. */
  def doremiFromExcess(excess: DataFrame, etaMicro: Long = 500000L,
                       steps: Int = 5,
                       smoothMicro: Long = 10000L): DataFrame =
    operators.Doremi.weightsFromExcess(excess, etaMicro, steps,
      smoothMicro)

  /** Apply the learned mixture through the domainMix rate machinery
    * (largest achievable corpus, md5-bucket determinism). */
  def doremiMix(docs: DataFrame, srcCol: String = "source",
                etaMicro: Long = 500000L, steps: Int = 5,
                smoothMicro: Long = 10000L): DataFrame =
    operators.Doremi.domainMixLearned(docs, "doc_id", "text", srcCol,
      etaMicro, steps, smoothMicro)

  // ---- distributed corpus-scale k-means (round 12) ------------------

  /** Fit the integer-micro Lloyd model over the full embedding
    * corpus (md5-seeded init, codegen assignment, exact-integer
    * updates — fully oracle-replayable). */
  def kmeansFit(emb: DataFrame, k: Int, dim: Int, iters: Int = 3,
                idCol: String = "vec_id",
                vecCol: String = "embedding")
  : operators.Kmeans.KmModel =
    operators.Kmeans.fit(emb, idCol, vecCol, k, dim, iters)

  /** Assign vectors under a fitted model — one codegen projection
    * (no join, no shuffle, stream-safe). */
  def kmeansAssign(emb: DataFrame, model: operators.Kmeans.KmModel,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    operators.Kmeans.assign(emb, idCol, vecCol, model)

  /** LARGE-k assignment: two-level coarse-probe argmin — the scale
    * tier when k·dim per row is the wall (still one codegen
    * projection; full probe bit-equal to [[kmeansAssign]]). */
  def kmeansAssignTiered(emb: DataFrame, model: operators.Kmeans.KmModel,
                         nCoarse: Int, nProbe: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    operators.Kmeans.assignTiered(emb, idCol, vecCol, model, nCoarse,
      nProbe)

  /** Sample every k-means cell to a uniform token share —
    * topic-skew flattening through the domainMix rate machinery. */
  def kmeansBalance(docs: DataFrame, emb: DataFrame, k: Int, dim: Int,
                    iters: Int = 3): DataFrame =
    operators.Kmeans.clusterBalance(docs, "doc_id", "text", emb,
      "vec_id", "embedding", k, dim, iters)

  /** SemDeDup end-to-end over the corpus-fit Lloyd cells —
    * triangular-blocked within-cell exact-cosine pairs (the whole
    * pipeline oracle-replayable). */
  def kmeansDedup(emb: DataFrame, k: Int, dim: Int, iters: Int,
                  threshold: Double): DataFrame =
    operators.Kmeans.semdedupPairs(emb, "vec_id", "embedding", k, dim,
      iters, threshold)

  /** [[kmeansDedup]]'s pair detection at LARGE k: the blocking
    * cluster comes from the two-level assignment tier; full probe
    * bit-equal, partial probe keeps exact-cosine precision. */
  def kmeansDedupTiered(emb: DataFrame, k: Int, dim: Int, iters: Int,
                        threshold: Double, nCoarse: Int,
                        nProbe: Int): DataFrame =
    operators.Kmeans.semdedupPairsTiered(emb, "vec_id", "embedding",
      k, dim, iters, threshold, nCoarse, nProbe)

  /** In-Context-Pretraining data order: related (same-cell) docs
    * adjacent, cut into seqLen-token bins by the exact distributed
    * running total. */
  def inContextPack(docs: DataFrame, emb: DataFrame, k: Int, dim: Int,
                    iters: Int, seqLen: Long): DataFrame =
    operators.Kmeans.inContextPack(docs, "doc_id", "text", emb,
      "vec_id", "embedding", k, dim, iters, seqLen)

  /** Length-bucketed batching: exact-rank length buckets, md5-order
    * batches within each bucket — the dynamic-batching loader
    * artifact. */
  def lengthBatches(docs: DataFrame, nBuckets: Int = 8,
                    batchSize: Int = 32): DataFrame =
    operators.FeatureEng.lengthBatches(docs, "doc_id", "text",
      nBuckets, batchSize)

  /** Quality-curriculum order: corpus packed highest-quality-first
    * into seqLen-token bins by the exact distributed running total
    * (docs must carry a [0,1] score and a token count). */
  def curriculumPack(docs: DataFrame, scoreCol: String, tokCol: String,
                     seqLen: Long): DataFrame =
    operators.FeatureEng.curriculumPack(docs, "doc_id", scoreCol,
      tokCol, seqLen)

  /** [[inContextPack]] for arbitrary-keyed corpora: md5-dense-rank
    * re-key + decode join-back lifts the 28-bit id contract. */
  def inContextPackRekeyed(docs: DataFrame, emb: DataFrame, k: Int,
                           dim: Int, iters: Int,
                           seqLen: Long): DataFrame =
    operators.Kmeans.inContextPackRekeyed(docs, "doc_id", "text", emb,
      "vec_id", "embedding", k, dim, iters, seqLen)

  /** Incremental-refresh store bootstrap for a fitted k-means model:
    * model + shard-stat table + ledger under `root`. */
  def kmeansRefreshInit(spark: SparkSession,
                        model: operators.Kmeans.KmModel,
                        root: String): Unit =
    operators.Kmeans.initRefreshStore(spark, model, root)

  /** Fold one shard's assignment statistics into the store —
    * exactly-once under the engine-wide ledger. */
  def kmeansStatsUpsert(shardEmb: DataFrame, root: String,
                        shardId: String, idCol: String = "vec_id",
                        vecCol: String = "embedding"): Boolean =
    operators.Kmeans.upsertAssignStats(shardEmb, idCol, vecCol, root,
      shardId)

  /** Retract one ingested shard's statistics (replays the RECORDED
    * ingest-time rows — exact even after refreshes moved the model). */
  def kmeansStatsRetract(spark: SparkSession, root: String,
                         shardId: String): Boolean =
    operators.Kmeans.retractAssignStats(spark, root, shardId)

  /** Retrain-vs-keep over the accumulated shard evidence: above
    * `maxDrift` (centroid-shift micro-L1), one exact Lloyd step from
    * the store replaces the centroids atomically. */
  def kmeansRefresh(spark: SparkSession, root: String,
                    maxDrift: Double = 0.05)
  : operators.Kmeans.KmRefresh =
    operators.Kmeans.refreshCentroids(spark, root, maxDrift)

  /** Persist / load the fitted model (ONE atomic VersionedStore
    * table; round-trip bit-equal). */
  def kmeansSave(spark: SparkSession, model: operators.Kmeans.KmModel,
                 root: String): Unit =
    operators.Kmeans.saveModel(spark, model, root)

  def kmeansLoad(spark: SparkSession,
                 root: String): operators.Kmeans.KmModel =
    operators.Kmeans.modelFromStore(spark, root)

  /** The INGEST-TIME curation chain as one streaming pipeline:
    * frozen-vocabulary quality gate → first-arrival exact dedup →
    * frozen-shingle decontamination drop — every decision a
    * versioned frozen artifact (spec-held equal to the batch chain
    * under id-ordered arrivals). */
  def curateStream(docs: DataFrame, vocab: Map[String, Long],
                   totalTokens: Long,
                   th: TextAnalysis.QualityThresholds,
                   evalShingles: Array[Long], shingleN: Int,
                   minOverlap: Long = 1L): DataFrame =
    graft.streaming.StreamingCurate.curate(docs, vocab, totalTokens,
      th, evalShingles, shingleN, minOverlap)

  /** Ingest a JSONL corpus with quarantine semantics: (clean,
    * corrupt) — malformed lines retained, never silently dropped. */
  def readJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType)
  : (DataFrame, DataFrame) =
    graft.sources.Sources.readJsonlQuarantined(spark, path, schema)

  /** Export as JSONL, the tokenizer/training interchange format. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    graft.sources.Sources.writeJsonl(df, path)

  /** CCNet head/middle/tail split by exact lm-score percent rank. */
  def perplexityBuckets(docs: DataFrame, loCut: Double = 1.0 / 3,
                        hiCut: Double = 2.0 / 3): DataFrame =
    TextAnalysis.perplexityBuckets(docs, "doc_id", "text", loCut, hiCut)

  /** CCNet END-TO-END: lang-id → per-language KN LM → per-language
    * perplexity terciles → head+middle keep, one plan. */
  /** [[ccnetPipeline]] with the PRODUCTION language assigner — the
    * frozen ft-multiclass scorer's argmax label in place of the
    * stopword heuristic, feeding the identical per-language KN +
    * tercile + keep body (spec-held row-equal on the docs where the
    * two assigners agree). */
  def ccnetPipelineFt(docs: DataFrame,
                      model: operators.FtClassify.FtMcModel,
                      discount: Double = 0.75,
                      loCut: Double = 1.0 / 3,
                      hiCut: Double = 2.0 / 3): DataFrame =
    TextAnalysis.ccnetPipelineFt(docs, "doc_id", "text", model,
      discount, loCut, hiCut)

  def ccnetPipeline(docs: DataFrame, discount: Double = 0.75,
                    loCut: Double = 1.0 / 3,
                    hiCut: Double = 2.0 / 3): DataFrame =
    TextAnalysis.ccnetPipeline(docs, "doc_id", "text", discount,
      loCut, hiCut)

  /** Derive the frozen scoring artifact (top-K word counts + exact
    * corpus total) for [[qualityFilterFrozen]]. */
  def freezeVocabulary(docs: DataFrame, topK: Int)
  : (Map[String, Long], Long) =
    TextAnalysis.freezeVocabulary(docs, "doc_id", "text", topK)

  /** Streaming-safe quality decision against a FROZEN offline
    * vocabulary (word -> count + corpus total): pure projection, zero
    * state — apply the same policy to a `readStream` source. */
  def qualityFilterFrozen(docs: DataFrame, vocab: Map[String, Long],
                          totalTokens: Long, oovCount: Long = 1L,
                          th: graft.operators.TextAnalysis.QualityThresholds =
                            graft.operators.TextAnalysis.QualityThresholds())
  : DataFrame =
    TextAnalysis.qualityClassifierFrozen(docs, "doc_id", "text", vocab,
      totalTokens, oovCount, th)

  /** Persist an IVF index for serving (centroids + inverted file as
    * VersionedStore tables under `indexRoot`). */
  def annIvfBuild(corpus: DataFrame, nCentroids: Int,
                  indexRoot: String): Unit =
    Ann.ivfBuildIndex(corpus, "vec_id", "embedding", nCentroids, indexRoot)

  /** Serve ANN queries from a persisted index — no retraining; see
    * [[annIvfSearch]] for the excludeSelf default rationale. */
  def annIvfServe(spark: SparkSession, indexRoot: String,
                  queries: DataFrame, nProbe: Int, k: Int,
                  excludeSelf: Boolean = false): DataFrame =
    Ann.ivfServe(spark, indexRoot, queries, "vec_id", "embedding",
      nProbe, k, excludeSelf)

  /** Refresh a persisted IVF index by keyed merge (no rebuild). */
  def annIvfUpsert(updates: DataFrame, indexRoot: String): Long =
    Ann.ivfIndexUpsert(updates, indexRoot, "vec_id", "embedding")

  /** Per-cell health of a persisted IVF index (counts + cosine-to-
    * centroid) — the rebuild signal under upsert-driven drift. */
  def annIvfStats(spark: SparkSession, indexRoot: String): DataFrame =
    Ann.ivfIndexStats(spark, indexRoot)

  /** SQ8-compressed persisted IVF index (FAISS IVF,SQ8 shape): 4× less
    * index storage/scan I/O, recall bounded by the grid step. */
  def annIvfBuildSq8(corpus: DataFrame, nCentroids: Int,
                     indexRoot: String): Unit =
    Ann.ivfBuildIndexSq8(corpus, "vec_id", "embedding", nCentroids,
      indexRoot)

  /** Serve from an SQ8-compressed persisted index; see [[annIvfSearch]]
    * for the excludeSelf default rationale. */
  def annIvfServeSq8(spark: SparkSession, indexRoot: String,
                     queries: DataFrame, nProbe: Int, k: Int,
                     excludeSelf: Boolean = false): DataFrame =
    Ann.ivfServeSq8(spark, indexRoot, queries, "vec_id", "embedding",
      nProbe, k, excludeSelf)

  /** Train PQ codebooks + compressed exact scan (32× at dim 64, m 8):
    * the compression tier below SQ8 — see [[Ann.pqTrain]] /
    * [[Ann.bruteTopKPq]]. */
  def annPqTrain(corpus: DataFrame, dim: Int = 64, m: Int = 8,
                 k: Int = 16): Ann.PqParams =
    Ann.pqTrain(corpus, "vec_id", "embedding", dim, m, k)

  def annPqSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                  params: Ann.PqParams): DataFrame =
    Ann.bruteTopKPq(corpus, queries, "vec_id", "embedding", k, params)

  /** PQ-compressed persisted IVF index (FAISS IVF,PQm shape): m bytes
    * per vector in the inverted file. */
  def annIvfBuildPq(corpus: DataFrame, nCentroids: Int, indexRoot: String,
                    dim: Int = 64, m: Int = 8, k: Int = 16): Unit =
    Ann.ivfBuildIndexPq(corpus, "vec_id", "embedding", nCentroids, dim,
      m, k, indexRoot)

  def annIvfServePq(spark: SparkSession, indexRoot: String,
                    queries: DataFrame, nProbe: Int, k: Int,
                    excludeSelf: Boolean = false): DataFrame =
    Ann.ivfServePq(spark, indexRoot, queries, "vec_id", "embedding",
      nProbe, k, excludeSelf)

  /** Re-sort a persisted index's inverted file by cell: MERGE upserts
    * write files spanning many cells, which degrades serve-side file
    * pruning until the next compaction. */
  def annIvfCompact(spark: SparkSession, indexRoot: String, nFiles: Int,
                    sq8: Boolean = false): Long =
    Ann.ivfIndexCompact(spark, indexRoot, nFiles, sq8)

  /** Refresh an SQ8 persisted index by keyed merge, encoding updates
    * with the index's stored grid. */
  def annIvfUpsertSq8(updates: DataFrame, indexRoot: String): Long =
    Ann.ivfIndexUpsertSq8(updates, indexRoot, "vec_id", "embedding")

  def annIvf(emb: DataFrame, nCentroids: Int, nProbe: Int, k: Int): DataFrame =
    Ann.ivfTopK(emb, "vec_id", "embedding", nCentroids, nProbe, k)

  /** IVF serving search of `queries` against `corpus`. The two tables
    * may have unrelated id spaces, so `excludeSelf` defaults to FALSE
    * here: an accidental query_id == vec_id collision must not drop a
    * true neighbor. Pass true only when queries are drawn from the
    * corpus (or use [[annIvf]], the self-ANN shape, which always
    * excludes self-matches).
    */
  def annIvfSearch(corpus: DataFrame, queries: DataFrame, nCentroids: Int,
                   nProbe: Int, k: Int,
                   excludeSelf: Boolean = false): DataFrame =
    Ann.ivfSearch(corpus, queries, "vec_id", "embedding", nCentroids,
      nProbe, k, excludeSelf = excludeSelf)

  /** Contrastive hard negatives: top-k most-similar different-label
    * corpus vectors per query vector. */
  def annHardNegatives(corpus: DataFrame, queries: DataFrame,
                       k: Int): DataFrame =
    Ann.hardNegatives(corpus, queries, "vec_id", "embedding", "label", k)

  /** IVF-served hard negatives (the corpus-as-queries scale path):
    * candidates from the persisted index's probed cells, label filter
    * after the kCand over-fetch — size kCand to the same-label crowd. */
  def annHardNegativesIvf(spark: SparkSession, indexRoot: String,
                          queries: DataFrame, labels: DataFrame,
                          nProbe: Int, k: Int, kCand: Int = 0): DataFrame =
    Ann.hardNegativesIvf(spark, indexRoot, queries, "vec_id",
      "embedding", "label", labels, nProbe, k, kCand)

  /** kNN label agreement per query vector (low = mislabel candidate). */
  def annLabelAgreement(corpus: DataFrame, queries: DataFrame,
                        k: Int): DataFrame =
    Ann.knnLabelAgreement(corpus, queries, "vec_id", "embedding",
      "label", k)

  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Ann.bruteTopK(corpus, queries, "vec_id", "embedding", k)

  /** Quantized (SQ8) exact-scan top-k: 4× less corpus memory/IO,
    * recall bounded by the per-dimension grid step. */
  def annTopKSq8(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Ann.bruteTopKSq8(corpus, queries, "vec_id", "embedding", k)

  def annLsh(emb: DataFrame, nPlanes: Int, dim: Int, k: Int): DataFrame =
    Ann.lshTopK(emb, "vec_id", "embedding", nPlanes, dim, k)

  def textQuality(docs: DataFrame): DataFrame =
    TextAnalysis.quality(docs, "doc_id", "text")

  // --- multimodal -----------------------------------------------------
  def mediaMeta(docs: DataFrame): DataFrame =
    MultiModal.metaColumns(docs, "doc_id", "text")

  def mediaFrames(docs: DataFrame, stride: Int): DataFrame =
    MultiModal.sampleFrames(docs, "doc_id", "text", stride)

  def mediaEmbeddings(docs: DataFrame, dim: Int = 16,
                      batchSize: Int = 64)
  : org.apache.spark.sql.Dataset[MultiModal.MediaEmbedding] =
    MultiModal.extractEmbeddings(
      MultiModal.withPayload(docs, "doc_id", "text"), dim, batchSize)

  /** Per-image perceptual signatures (aHash + dHash) from REAL pixel
    * decode of uncompressed containers (24-bit BMP / PPM P6) — one
    * codegen projection, unparseable payloads dropped (quarantine). */
  def imagePHash(docs: DataFrame, idCol: String = "doc_id",
                 payloadCol: String = "payload"): DataFrame =
    MultiModal.imagePHashSignatures(docs, idCol, payloadCol)

  /** IMAGE near-duplicate pairs: aHash + pigeonhole row-group
    * banding (recall 1.0 at the radius by construction), exact
    * popcount filter; `maxHamming` ∈ [1, 7]. */
  def imageNearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                        payloadCol: String = "payload",
                        maxHamming: Int = 2): DataFrame =
    MultiModal.imageNearDupPairs(docs, idCol, payloadCol, maxHamming)

  /** WIDE-SIGNATURE image near-dup pairs for corpora past ~10⁷
    * payloads: 128-bit aHash ‖ dHash banding with 40-48-bit band
    * keys, pair radius = COMBINED hamming over both hash words;
    * `maxHamming` ∈ [1, 15]. */
  def imageNearDupPairsWide(docs: DataFrame, idCol: String = "doc_id",
                            payloadCol: String = "payload",
                            maxHamming: Int = 2): DataFrame =
    MultiModal.imageNearDupPairsWide(docs, idCol, payloadCol, maxHamming)

  /** MEDIA CURATION MANIFEST in one plan: decode once, gate on HTTP
    * status and resolution, near-dup keep-min over the survivors,
    * every doc tagged with its FIRST failing reason (`http_error` /
    * `not_image` / `low_res` / `near_dup` / `kept`). */
  def imageKeepManifest(docs: DataFrame, idCol: String = "doc_id",
                        statusCol: String = "status",
                        payloadCol: String = "payload",
                        minPixels: Long = 128L,
                        maxHamming: Int = 2): DataFrame =
    MultiModal.imageKeepManifest(docs, idCol, statusCol, payloadCol,
      minPixels = minPixels, maxHamming = maxHamming)

  /** Per-payload audio energy-hash signatures from REAL PCM decode
    * (WAV chunk walk, 16-bit samples, exact mono mix) — one codegen
    * projection, unparseable payloads dropped (quarantine). */
  def audioPHash(docs: DataFrame, idCol: String = "doc_id",
                 payloadCol: String = "payload"): DataFrame =
    MultiModal.audioPHashSignatures(docs, idCol, payloadCol)

  /** AUDIO near-duplicate pairs through the same row-group
    * pigeonhole body as [[imageNearDupPairs]]; `maxHamming` ∈ [1, 7]. */
  def audioNearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                        payloadCol: String = "payload",
                        maxHamming: Int = 2): DataFrame =
    MultiModal.audioNearDupPairs(docs, idCol, payloadCol, maxHamming)

  /** Per-frame fingerprints from a video frame stream (consecutive
    * uncompressed BMP frames): one codegen walk per payload,
    * malformed streams dropped whole (quarantine). */
  def videoFrameHashes(docs: DataFrame, idCol: String = "doc_id",
                       payloadCol: String = "payload",
                       maxFrames: Int = 64): DataFrame =
    MultiModal.videoFrameHashes(docs, idCol, payloadCol, maxFrames)

  /** VIDEO near-duplicate pairs: df-capped inverted-index join on
    * exact frame fingerprints, shared-count ≥ minShared (the
    * winnowPairs shape on the video axis). */
  def videoNearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                        payloadCol: String = "payload",
                        minShared: Long = 2L, maxDf: Long = 100L,
                        maxFrames: Int = 64): DataFrame =
    MultiModal.videoNearDupPairs(docs, idCol, payloadCol, minShared,
      maxDf, maxFrames)

  /** Near-frame video matching: frames paired within maxHamming
    * bits through the shared pigeonhole banding on frame-keyed ids,
    * aggregated per video pair — catches re-encodes exact
    * fingerprint matching misses. */
  def videoNearDupPairsBanded(docs: DataFrame,
                              idCol: String = "doc_id",
                              payloadCol: String = "payload",
                              maxHamming: Int = 2,
                              minShared: Long = 2L,
                              maxDf: Long = 100L,
                              maxFrames: Int = 64): DataFrame =
    MultiModal.videoNearDupPairsBanded(docs, idCol, payloadCol,
      maxHamming = maxHamming, minShared = minShared,
      maxDf = maxDf, maxFrames = maxFrames)

  /** SHARED-SEGMENT video alignment: maximal runs of consecutive
    * exact-fingerprint-aligned frames at a constant index offset
    * (gaps-and-islands over the df-capped match set) — one row per
    * segment (doc_a, doc_b, a_start, b_start, seg_len ≥ minLen). */
  def videoSharedSegments(docs: DataFrame, idCol: String = "doc_id",
                          payloadCol: String = "payload",
                          minLen: Long = 2L, maxDf: Long = 100L,
                          maxFrames: Int = 64): DataFrame =
    MultiModal.videoSharedSegments(docs, idCol, payloadCol,
      minLen = minLen, maxDf = maxDf, maxFrames = maxFrames)

  /** Persisted perceptual-signature store: fold a shard's (doc_id,
    * ahash) signatures into one atomic keyed table (idempotent
    * merge; first shard bootstraps). Returns the store row count. */
  def phashStoreUpsert(sigs: DataFrame, root: String): Long =
    MultiModal.phashStoreUpsert(sigs, root)

  /** Serve near-dup candidates for new signatures against the frozen
    * store (two-table pigeonhole banding, recall 1.0 at the radius). */
  def phashServe(querySigs: DataFrame, root: String,
                 maxHamming: Int = 2): DataFrame =
    MultiModal.phashServeNearDups(querySigs, root, maxHamming)

  /** Publish the band-key-bucketed serving layout of the signature
    * store (one row per stored band key, bucket-sorted files) so
    * small serve batches prune at the file level. */
  def phashPublishServeIndex(spark: SparkSession, root: String,
                             maxHamming: Int = 2, nBuckets: Int = 256,
                             numFiles: Int = 64): Long =
    MultiModal.phashPublishServeIndex(spark, root, maxHamming,
      nBuckets, numFiles)

  /** [[phashServe]] with file-level pruning against a published
    * serve index — files opened ∝ the batch's band-key spread. */
  def phashServePruned(querySigs: DataFrame, root: String,
                       maxHamming: Int = 2): DataFrame =
    MultiModal.phashServeNearDupsPruned(querySigs, root, maxHamming)

  /** Right-to-be-forgotten for the signature store. */
  def phashStoreDelete(docIds: DataFrame, root: String): Long =
    MultiModal.phashStoreDelete(docIds, root)

  def tokenCounts(docs: DataFrame): DataFrame =
    TextAnalysis.tokenCount(docs, "doc_id", "text")

  def fingerprints(docs: DataFrame): DataFrame =
    TextAnalysis.fingerprint(docs, "doc_id", "text")

  def tfidfKeywords(docs: DataFrame, topK: Int = 5): DataFrame =
    TextAnalysis.tfidf(docs, "doc_id", "text", topK)

  def chunkDocuments(docs: DataFrame, window: Int, stride: Int): DataFrame =
    TextAnalysis.chunk(docs, "doc_id", "text", window, stride)

  /** Winnowing fingerprints: any >= k+w-1 shared words guarantees a
    * shared fingerprint, at ~1/w full-shingle density. */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4)
  : DataFrame =
    TextAnalysis.winnow(docs, "doc_id", "text", k, w)

  /** Near-dup pairs from winnowing fingerprints: guaranteed recall on
    * contiguous copies, df-capped inverted-index join. */
  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
                  minShared: Long = 2L, maxDf: Long = 100L): DataFrame =
    Dedup.winnowPairs(docs, "doc_id", "text", k, w, minShared, maxDf)

  /** Multi-epoch data recipe (data-constrained regime): fill a token
    * budget with source-epoch units — epoch 1 of every source before
    * any epoch 2 — the straddling unit truncated to a deterministic
    * md5-order doc prefix, per-epoch loss weights on the integer
    * decay chain (w₁ = 10000 bp, wₑ₊₁ = wₑ·decayBp DIV 10000). */
  def epochSchedule(docs: DataFrame, budgetTokens: Long,
                    maxEpochs: Int = 4, decayBp: Long = 5000L,
                    srcCol: String = "source"): DataFrame =
    FeatureEng.epochSchedule(docs, "doc_id", "text", srcCol,
      budgetTokens, maxEpochs, decayBp)

  /** Dolma-style domain mixing: downsample sources to target token
    * shares (rates derived from actual counts, deterministic md5
    * application, no upsampling). */
  def domainMix(docs: DataFrame, targetShares: Map[String, Double],
                srcCol: String = "source"): DataFrame =
    FeatureEng.domainMix(docs, "doc_id", "text", srcCol, targetShares)

  /** DSIR (Xie et al. 2023) domain matching: per-doc log importance
    * weight of the target-vs-raw hashed-ngram models. `isTarget`
    * marks the target slice of `docs` (e.g. `col("source") === ...`). */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  nBuckets: Int = 10000, alpha: Double = 1.0): DataFrame =
    Dsir.importanceWeights(docs, "doc_id", "text", isTarget, nBuckets,
      alpha)

  /** DSIR selection: seeded Gumbel top-k over [[dsirWeights]] output —
    * k docs sampled without replacement ∝ exp(weight). */
  def dsirSelect(weights: DataFrame, k: Int,
                 seed: String = "graft"): DataFrame =
    Dsir.resample(weights, k, seed)

  /** Freeze the DSIR model offline (≤ nBuckets micro-scaled log
    * ratios) for [[dsirScoreFrozen]] — the streaming-safe artifact. */
  def dsirFreeze(docs: DataFrame, isTarget: Column,
                 nBuckets: Int = 10000,
                 alpha: Double = 1.0): Dsir.DsirModel =
    Dsir.freezeModel(docs, "doc_id", "text", isTarget, nBuckets, alpha)

  /** Streaming-safe DSIR scoring: one codegen projection against a
    * frozen model — bit-equal to [[dsirWeights]] when the model froze
    * from the scored corpus. */
  def dsirScoreFrozen(docs: DataFrame, model: Dsir.DsirModel): DataFrame =
    Dsir.scoreFrozen(docs, "doc_id", "text", model)

  /** Persist the DSIR count model as VersionedStore tables (additive
    * counts + shard ledger + params). */
  def dsirStoreBuild(docs: DataFrame, isTarget: Column, root: String,
                     nBuckets: Int = 10000, alpha: Double = 1.0): Unit =
    Dsir.buildModelStore(docs, "doc_id", "text", isTarget, root,
      nBuckets, alpha)

  /** Fold one new shard into the stored model (keyed MERGE on bucket;
    * replays of the same shardId are no-ops). */
  def dsirStoreUpsert(shard: DataFrame, isTarget: Column, root: String,
                      shardId: String): Boolean =
    Dsir.upsertModelCounts(shard, "doc_id", "text", isTarget, root,
      shardId)

  /** Retract a previously-ingested shard (exact count subtraction
    * under the engine-wide intent/done crash protocol — every
    * additive count store retracts). */
  def dsirStoreRetract(shard: DataFrame, isTarget: Column, root: String,
                       shardId: String): Boolean =
    Dsir.retractModelCounts(shard, "doc_id", "text", isTarget, root,
      shardId)

  /** Freeze the scoring artifact from the stored counts — no corpus
    * scan; equals the full refit over every ingested shard. */
  def dsirStoreFreeze(spark: SparkSession, root: String): Dsir.DsirModel =
    Dsir.freezeFromStore(spark, root)

  /** Deterministic per-class downsampling (rates in basis points). */
  def classBalanceSample(df: DataFrame, keyCol: String, classCol: String,
                         ratesBp: Map[String, Int]): DataFrame =
    FeatureEng.classBalanceSample(df, keyCol, classCol, ratesBp)

  /** Deterministic stratified draw: exactly min(k, |cell|) rows per
    * strata cell by seeded md5 rank — eval/holdout panel building. */
  def stratifiedSample(df: DataFrame, keyCol: String,
                       strataCols: Seq[String], k: Int,
                       seed: String = "graft"): DataFrame =
    FeatureEng.stratifiedSample(df, keyCol, strataCols, k, seed)

  /** Soft quality filtering: keep each row with probability equal to
    * `weight` (clamped to [0, 1]), decided by the deterministic
    * md5-bucket coin; distinct seeds draw independent samples. */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
                     seed: String = "graft"): DataFrame =
    FeatureEng.weightedSample(df, keyCol, weight, seed)

  /** Deterministic training-order shuffle: reproducible
    * (shard, position) permutation of a corpus; a new seed is a new
    * epoch order. Size nShards so one shard fits one task. */
  def shuffleShard(docs: DataFrame, nShards: Int,
                   seed: String = "graft"): DataFrame =
    FeatureEng.shuffleShard(docs, "doc_id", nShards, seed)

  def featureCorrelations(records: DataFrame): DataFrame =
    graft.stats.Profiler.featureCorr(records, "entity_id",
      "feature_name", "value_float")

  /** GPT-style contiguous sequence packing (bin/offset per document). */
  def packSequences(docs: DataFrame, budgetTokens: Long): DataFrame =
    FeatureEng.packSequences(docs, "doc_id", "text", budgetTokens)

  /** Boundary-aware sequence packing (the Dolma/OLMo data-order
    * artifact): every (bin × doc) intersection as a segment row —
    * what a block-diagonal intra-document attention mask is built
    * from. `docs` carries a precomputed per-doc token count. */
  def packSegments(docs: DataFrame, countCol: String,
                   seqLen: Long): DataFrame =
    FeatureEng.packSegments(docs, "doc_id", countCol, seqLen)

  /** One row per packed sequence: sorted boundary offsets + aligned
    * doc ids + packed length — the loader-ready mask artifact. */
  def packMasks(docs: DataFrame, countCol: String,
                seqLen: Long): DataFrame =
    FeatureEng.packAttentionMasks(docs, "doc_id", countCol, seqLen)

  /** One-row packing-efficiency report (fill rate, straddle count,
    * segments per sequence) — the padding-waste number a seqLen
    * decision is made on. */
  def packEfficiency(docs: DataFrame, countCol: String,
                     seqLen: Long): DataFrame =
    FeatureEng.packStats(docs, "doc_id", countCol, seqLen)

  // --- text retrieval ------------------------------------------------
  // Corpus columns default to (doc_id, text), query batches to
  // (q_id, q_text) — the same convention as the dedup/text families.

  /** BM25 top-k retrieval of `queries` over `docs`. */
  def searchBm25(docs: DataFrame, queries: DataFrame, k: Int = 10)
  : DataFrame =
    Search.bm25TopK(docs, "doc_id", "text", queries, "q_id", "q_text", k)

  /** TF-IDF cosine retrieval — the vector-space second leg for
    * [[searchHybrid]]. */
  def searchCosine(docs: DataFrame, queries: DataFrame, k: Int = 10)
  : DataFrame =
    Search.tfidfCosineTopK(docs, "doc_id", "text", queries,
      "q_id", "q_text", k)

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 and cosine
    * rankings (or fuse any rankings directly via [[Search.rrfFuse]]). */
  def searchHybrid(docs: DataFrame, queries: DataFrame, k: Int = 10)
  : DataFrame =
    Search.rrfFuse(Seq(searchBm25(docs, queries, k),
      searchCosine(docs, queries, k)), k)

  /** Exact phrase lookup: occurrence count + first token position per
    * containing document. Queries carry (q_id, phrase). */
  def searchPhrase(docs: DataFrame, phrases: DataFrame): DataFrame =
    Search.phraseSearch(docs, "doc_id", "text", phrases, "q_id", "phrase")

  /** Typo-tolerant vocabulary lookup: corpus words within Levenshtein
    * distance `maxEdits` of each query term, via the SymSpell
    * deletion-neighborhood join (vocab-sized work, never
    * queries x vocab). Queries carry a `q` column. */
  def searchFuzzy(docs: DataFrame, queries: DataFrame,
                  maxEdits: Int = 1): DataFrame =
    Search.fuzzySearch(docs, "doc_id", "text", queries, "q", maxEdits)

  /** Build / refresh / compact the persisted posting-list index. */
  def searchIndexBuild(spark: SparkSession, docs: DataFrame,
                       indexRoot: String, nFiles: Int = 16): Unit =
    Search.buildTextIndex(spark, docs, "doc_id", "text", indexRoot, nFiles)

  def searchIndexUpsert(spark: SparkSession, shard: DataFrame,
                        indexRoot: String): Unit =
    Search.indexUpsert(spark, shard, "doc_id", "text", indexRoot)

  /** Retract documents from the persisted index (tombstone now,
    * physical sweep at the next [[searchIndexCompact]]); `ids` is a
    * one-column (doc_id) frame. */
  def searchIndexDelete(spark: SparkSession, ids: DataFrame,
                        indexRoot: String): Unit =
    Search.indexDelete(spark, ids, "doc_id", indexRoot)

  def searchIndexCompact(spark: SparkSession, indexRoot: String,
                         nFiles: Int = 16): Unit =
    Search.compactTextIndex(spark, indexRoot, nFiles)

  /** Serve BM25 from the persisted index (file-pruned to the batch's
    * terms — the low-latency path; query-batch-sized collect). */
  def searchServe(spark: SparkSession, indexRoot: String,
                  queries: DataFrame, k: Int = 10): DataFrame =
    Search.serveBm25(spark, indexRoot, queries, "q_id", "q_text", k)

  /** Collect-free bulk retrieval over the persisted index — the
    * corpus-as-queries scale path. */
  def searchBulk(spark: SparkSession, indexRoot: String,
                 queries: DataFrame, k: Int = 10): DataFrame =
    Search.bm25TopKFromIndex(spark, indexRoot, queries,
      "q_id", "q_text", k)

  /** Per-query retrieval metrics (first-relevant rank / reciprocal
    * rank / hits@k) against a (q_id, doc_id) relevance table. */
  def searchMetrics(results: DataFrame, relevant: DataFrame,
                    k: Int = 10): DataFrame =
    Search.retrievalMetrics(results, relevant, "q_id", "doc_id", k)

  /** Dataset discovery: one descriptor row per child of a corpus
    * root (versioned tables described manifest-only; parquet by
    * footers; jsonl/csv enumerated; dataset_manifest.json parsed
    * with malformed manifests kept in-row). */
  def catalogDiscover(spark: SparkSession, basePath: String,
                      countRows: Boolean = false,
                      maxDepth: Int = 3): DataFrame =
    graft.sources.Catalog.discover(spark, basePath, countRows, maxDepth)

  // --- tokenizer training --------------------------------------------

  /** Train a BPE merge vocabulary over the corpus (one corpus pass,
    * then vocabulary-sized merge rounds). Dispatches by vocabulary
    * size: small runs take the sequential trainer (2 cheap jobs per
    * merge), realistic vocabularies the exact BATCHED trainer
    * ([[Bpe.trainBatched]] — provably identical rules, ~an order of
    * magnitude fewer rounds; measured crossover is a few hundred
    * merges, SCALE_NOTES round 8). */
  def bpeTrain(docs: DataFrame, nMerges: Int,
               minPairCount: Long = 2L): Bpe.BpeModel =
    if (nMerges < 200) Bpe.train(docs, "doc_id", "text", nMerges, minPairCount)
    else Bpe.trainBatched(docs, "doc_id", "text", nMerges, minPairCount)._1

  /** Encode a corpus with a trained BPE model (word → pieces lookup
    * join; out-of-vocabulary words fall back to characters). */
  def bpeEncode(docs: DataFrame, model: Bpe.BpeModel): DataFrame =
    Bpe.encode(docs, "doc_id", "text", model)

  /** Encode a corpus including words the training corpus never saw:
    * unseen words are segmented by replaying the merge rules (the
    * tokenizer-serving semantics), seen words ride the piece cache. */
  def bpeEncodeAny(docs: DataFrame, model: Bpe.BpeModel): DataFrame =
    Bpe.encodeAny(docs, "doc_id", "text", model)

  /** Build the persisted tokenizer store: word counts (the only
    * corpus statistic BPE needs) as a VersionedStore artifact with an
    * additive shard ledger, plus the trained rules/segments. */
  def bpeStoreBuild(docs: DataFrame, root: String, nMerges: Int,
                    minPairCount: Long = 2L): Unit =
    Bpe.buildVocabStore(docs, "doc_id", "text", root, nMerges,
      minPairCount)

  /** Fold one corpus shard's word counts into the store — idempotent
    * by shardId, no corpus rescan. Retraining is [[bpeStoreRefresh]]'s
    * decision, on whatever cadence suits. */
  def bpeStoreUpsert(shard: DataFrame, root: String,
                     shardId: String): Boolean =
    Bpe.upsertVocabCounts(shard, "doc_id", "text", root, shardId)

  /** Retract a previously-ingested shard from the shared word-count
    * store (exact subtraction, intent/done crash protocol) — both
    * tokenizer trainers thereafter fit a corpus that never saw it. */
  def bpeStoreRetract(shard: DataFrame, root: String,
                      shardId: String): Boolean =
    Bpe.retractVocabCounts(shard, "doc_id", "text", root, shardId)

  /** Retrain-vs-keep by token-mass drift against the counts the
    * current rules were trained on. */
  def bpeStoreRefresh(spark: SparkSession, root: String,
                      maxDrift: Double = 0.1): Bpe.VocabRefresh =
    Bpe.refreshVocab(spark, root, maxDrift)

  /** The stored tokenizer model, for [[bpeEncode]]/[[bpeEncodeAny]]. */
  def bpeStoreModel(spark: SparkSession, root: String): Bpe.BpeModel =
    Bpe.vocabModel(spark, root)

  // --- mergeable sketches ---------------------------------------------
  // Corpus-scale statistics from kilobytes: distinct (HLL), shared
  // (KMV), distributed (quantile sample), frequent (Count-Min) — each
  // with a persisted shard-ledger store and a streaming twin
  // (graft.streaming.StreamingSketch/Kmv/Quantile/Cm).

  /** Per-group distinct-count estimates in-plan (HLL), exact count
    * audited alongside. */
  def distinctEstimate(df: DataFrame, keyCol: String,
                       groupCols: Seq[String]): DataFrame =
    Sketch.hllDistinct(df, keyCol, groupCols)

  /** Pairwise slice Jaccard from KMV bottom-k sketches; the corpus is
    * touched once for all pairs. `audit = false` (production) never
    * builds the corpus-sized exact join. */
  def sliceOverlap(df: DataFrame, keyCol: String, sliceCol: String,
                   k: Int = 64, audit: Boolean = false): DataFrame =
    Sketch.kmvOverlap(df, keyCol, sliceCol, k, audit)

  /** Per-group approximate quantiles from the deterministic
    * bottom-k-by-md5 sample (reproducible, mergeable). */
  def quantileEstimate(df: DataFrame, valueCol: String, idCol: String,
                       groupCols: Seq[String], k: Int = 256,
                       qs: Seq[Double] = Seq(0.5, 0.95)): DataFrame =
    Sketch.quantileSketch(df, valueCol, idCol, groupCols, k, qs)

  /** Membership of every probe row against a drop list compiled to a
    * Bloom filter (kilobytes broadcast instead of a list-sized join
    * side; zero false negatives, FP rate is the dial). */
  def bloomTakedown(probe: DataFrame, keyCol: String, dropKeys: DataFrame,
                    dropKeyCol: String, mBits: Int = 2048,
                    kHashes: Int = 2, fast: Boolean = true): DataFrame =
    Sketch.bloomMembership(probe, keyCol, dropKeys, dropKeyCol, mBits,
      kHashes, fast)

  /** The same drop list as a literal bitset Column + pure-arithmetic
    * probe — the join-free serving/streaming form. */
  def bloomBitset(dropKeys: DataFrame, dropKeyCol: String,
                  mBits: Int = 2048, kHashes: Int = 2,
                  fast: Boolean = true): Column =
    Sketch.bloomBitsetLit(dropKeys, dropKeyCol, mBits, kHashes, fast)

  def bloomProbe(bitset: Column, key: Column, mBits: Int = 2048,
                 kHashes: Int = 2, fast: Boolean = true): Column =
    Sketch.bloomProbe(bitset, key, mBits, kHashes, fast)

  // --- persisted sketch stores (HLL / KMV / quantile / CM) ------------

  /** HLL store: per-group register sketches + shard ledger; distinct
    * counts over any regrouping read from kilobytes, zero corpus IO. */
  def sketchStoreBuild(df: DataFrame, keyCol: String,
                       groupCols: Seq[String], root: String,
                       p: Int = graft.functions.HllSketch.DefaultP): Unit =
    Sketch.buildSketchStore(df, keyCol, groupCols, root, p)

  def sketchStoreUpsert(shard: DataFrame, keyCol: String,
                        groupCols: Seq[String], root: String,
                        shardId: String): Boolean =
    Sketch.upsertSketches(shard, keyCol, groupCols, root, shardId)

  def sketchStoreDistinct(spark: SparkSession, root: String,
                          groupCols: Seq[String]): DataFrame =
    Sketch.readDistinct(spark, root, groupCols)

  /** KMV store: bottom-k rows per slice; all-pairs overlap served
    * from slices × k rows. */
  def kmvStoreBuild(df: DataFrame, keyCol: String, sliceCol: String,
                    root: String, k: Int = 64): Unit =
    Sketch.buildKmvStore(df, keyCol, sliceCol, root, k)

  def kmvStoreUpsert(shard: DataFrame, keyCol: String, sliceCol: String,
                     root: String, shardId: String): Boolean =
    Sketch.upsertKmv(shard, keyCol, sliceCol, root, shardId)

  def kmvStoreOverlap(spark: SparkSession, root: String): DataFrame =
    Sketch.readOverlap(spark, root)

  /** Quantile store: the deterministic sample rows per slice. */
  def quantileStoreBuild(df: DataFrame, valueCol: String, idCol: String,
                         sliceCol: String, root: String,
                         k: Int = 256): Unit =
    Sketch.buildQuantileStore(df, valueCol, idCol, sliceCol, root, k)

  def quantileStoreUpsert(shard: DataFrame, valueCol: String,
                          idCol: String, sliceCol: String, root: String,
                          shardId: String): Boolean =
    Sketch.upsertQuantileSample(shard, valueCol, idCol, sliceCol, root,
      shardId)

  def quantileStoreRead(spark: SparkSession, root: String,
                        qs: Seq[Double] = Seq(0.5, 0.95)): DataFrame =
    Sketch.readQuantiles(spark, root, qs)

  /** CM store: additive frequency cells under the Dsir shard ledger. */
  def cmStoreBuild(df: DataFrame, keyCol: String, root: String,
                   depth: Int = 3, width: Int = 1024,
                   fast: Boolean = true): Unit =
    Sketch.buildCmStore(df, keyCol, root, depth, width, fast)

  def cmStoreUpsert(shard: DataFrame, keyCol: String, root: String,
                    shardId: String): Boolean =
    Sketch.upsertCm(shard, keyCol, root, shardId)

  /** EXACT retraction of a previously-ingested shard (additive cells
    * subtract; intent/done crash protocol — see Sketch.retractCm). */
  def cmStoreRetract(shard: DataFrame, keyCol: String, root: String,
                     shardId: String): Boolean =
    Sketch.retractCm(shard, keyCol, root, shardId)

  def cmStoreEstimates(spark: SparkSession, root: String,
                       probes: DataFrame, probeKeyCol: String): DataFrame =
    Sketch.readCmEstimates(spark, root, probes, probeKeyCol)

  /** Takedown against a NON-invertible store (hll | kmv | quantile):
    * registers serve-time suppression until the rebuild lands (CM
    * retracts exactly instead — [[cmStoreRetract]]). */
  def sketchTakedown(groups: DataFrame, root: String, family: String,
                     takedownId: String): Boolean =
    Sketch.registerTakedown(groups, root, family, takedownId)

  def sketchStoreRebuild(remaining: DataFrame, keyCol: String,
                         groupCols: Seq[String], root: String,
                         rebuildId: String): Unit =
    Sketch.rebuildSketchStore(remaining, keyCol, groupCols, root, rebuildId)

  def kmvStoreRebuild(remaining: DataFrame, keyCol: String,
                      sliceCol: String, root: String,
                      rebuildId: String): Unit =
    Sketch.rebuildKmvStore(remaining, keyCol, sliceCol, root, rebuildId)

  def quantileStoreRebuild(remaining: DataFrame, valueCol: String,
                           idCol: String, sliceCol: String, root: String,
                           rebuildId: String): Unit =
    Sketch.rebuildQuantileStore(remaining, valueCol, idCol, sliceCol,
      root, rebuildId)

  // --- join planning / execution --------------------------------------

  /** One side's CM sketch for [[joinPlan]] — `fast = true` is the
    * production (xxhash64) family; both sides must use the same. */
  def cmSketch(df: DataFrame, keyCol: String, depth: Int = 3,
               width: Int = 1024, fast: Boolean = true): DataFrame =
    Sketch.cmSketchRows(df, keyCol, depth, width, fast = fast)

  /** Watchlist point-frequency estimates from a sketch (min over
    * depth cells; one-sided ≥ exact). */
  def cmFrequencies(sketch: DataFrame, probes: DataFrame,
                    probeKeyCol: String, depth: Int = 3,
                    width: Int = 1024, fast: Boolean = true): DataFrame =
    Sketch.cmPointEstimate(sketch, probes, probeKeyCol, depth, width, fast)

  /** Pre-flight join advisory from two CM sketches: broadcast / salt /
    * shuffle + the AMS output-size estimate, decided from kilobytes
    * BEFORE the join runs. */
  def joinPlan(skA: DataFrame, skB: DataFrame,
               broadcastRows: Long = 5000L,
               skewFactor: Long = 8L): DataFrame =
    Sketch.cmJoinPlan(skA, skB, broadcastRows, skewFactor)

  /** Salted equi-join — the executor for [[joinPlan]]'s
    * `shuffle_salted` verdict (deterministic content-hash salt). */
  def saltedJoin(skewed: DataFrame, skewKey: String, other: DataFrame,
                 otherKey: String, salts: Int,
                 saltCols: Seq[String] = Nil): DataFrame =
    Skew.saltedJoin(skewed, skewKey, other, otherKey, salts, saltCols)

  /** [[joinAuto]]'s result: the executed join plus the decision that
    * picked it, the pre-flight size estimate, and WHICH evidence path
    * produced the decision (`inline_sketch` — two fresh one-pass
    * sketches — or `cm_store` — kilobytes read from persisted CM
    * stores, zero corpus scans): the audit trail. */
  final case class AutoJoin(df: DataFrame, strategy: String,
                            joinSizeEst: Long,
                            planSource: String = "inline_sketch")

  /** The advisory→execution loop CLOSED: sketch both sides (one pass
    * each, kilobyte state), read [[joinPlan]]'s strategy row, and
    * dispatch it — broadcast_a/broadcast_b hint the small side,
    * shuffle_salted routes through [[saltedJoin]] with the provably
    * skewed side salted, shuffle is the plain hash join. Inner join;
    * output rows equal the plain join's under every strategy
    * (spec-held), columns a-then-b. Frames must not share column
    * names (alias before calling — the usual join-surface contract).
    */
  def joinAuto(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
               depth: Int = 3, width: Int = 1024,
               broadcastRows: Long = 5000L, skewFactor: Long = 8L,
               salts: Int = 8, saltCols: Seq[String] = Nil): AutoJoin = {
    import org.apache.spark.sql.functions.col
    val skA = Sketch.cmSketchRows(a.select(col(aKey).as("k")), "k",
      depth, width, fast = true)
    val skB = Sketch.cmSketchRows(b.select(col(bKey).as("k")), "k",
      depth, width, fast = true)
    dispatchAutoJoin(a, aKey, b, bKey, skA, skB, broadcastRows,
      skewFactor, salts, saltCols, planSource = "inline_sketch")
  }

  /** [[joinAuto]] fed from PERSISTED CM stores ([[cmStoreBuild]] /
    * [[cmStoreUpsert]] roots whose sketched key is the join key):
    * planning reads two kilobyte cell tables — zero corpus scans —
    * so a join both planned and executed repeatedly (the daily-build
    * shape) pays the sketch pass once at ingest, not twice per call.
    * The stores must share (depth, width, fast) — cell positions only
    * align within one parameter family, and the AMS join-size inner
    * product is meaningless across families (checked loudly). The
    * decision and dispatch rules are [[joinAuto]]'s exactly
    * (facade-spec-held equal on the same data); the audit trail
    * records `planSource = "cm_store"`. */
  def joinAutoFromStores(a: DataFrame, aKey: String, b: DataFrame,
                         bKey: String, rootA: String, rootB: String,
                         broadcastRows: Long = 5000L,
                         skewFactor: Long = 8L, salts: Int = 8,
                         saltCols: Seq[String] = Nil): AutoJoin = {
    val spark = a.sparkSession
    val pa = Sketch.readCmParams(spark, rootA)
    val pb = Sketch.readCmParams(spark, rootB)
    require(pa == pb,
      s"CM stores disagree on (depth, width, fast): $rootA has $pa, " +
        s"$rootB has $pb — join planning needs one parameter family")
    dispatchAutoJoin(a, aKey, b, bKey,
      Sketch.readCmSketch(spark, rootA), Sketch.readCmSketch(spark, rootB),
      broadcastRows, skewFactor, salts, saltCols, planSource = "cm_store")
  }

  private def dispatchAutoJoin(a: DataFrame, aKey: String, b: DataFrame,
                               bKey: String, skA: DataFrame,
                               skB: DataFrame, broadcastRows: Long,
                               skewFactor: Long, salts: Int,
                               saltCols: Seq[String],
                               planSource: String): AutoJoin = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(a.columns.toSet.intersect(b.columns.toSet).isEmpty,
      "joinAuto frames must not share column names — alias first")
    // one row — the planning decision is driver-bounded. cmStats
    // coalesces an empty side to n_rows = 0 (→ broadcast_a/_b), so the
    // no-row fallback below is belt-and-braces against future stats
    // changes, not a live path.
    val planOpt = Sketch.cmJoinPlan(skA, skB, broadcastRows, skewFactor)
      .collect().headOption
    if (planOpt.isEmpty) {
      val outCols0 = (a.columns ++ b.columns).toIndexedSeq.map(col)
      return AutoJoin(a.join(b, a(aKey) === b(bKey), "inner")
        .select(outCols0: _*), "shuffle", 0L, planSource)
    }
    val plan = planOpt.get
    val strategy = plan.getAs[String]("strategy")
    val cond = a(aKey) === b(bKey)
    val outCols = (a.columns ++ b.columns).toIndexedSeq.map(col)
    val joined = strategy match {
      case "broadcast_a" => broadcast(a).join(b, cond, "inner")
      case "broadcast_b" => a.join(broadcast(b), cond, "inner")
      case "shuffle"     => a.join(b, cond, "inner")
      case "shuffle_salted" =>
        // salt the side whose provable hot-key bound tripped the rule
        val aSkewed = plan.getAs[Long]("hot_a") *
          plan.getAs[Long]("distinct_a_lb") >=
          skewFactor * plan.getAs[Long]("n_a")
        val salted =
          if (aSkewed) Skew.saltedJoin(a, aKey, b, bKey, salts, saltCols)
          else Skew.saltedJoin(b, bKey, a, aKey, salts, saltCols)
        salted.select(outCols: _*)
    }
    AutoJoin(joined.select(outCols: _*), strategy,
      plan.getAs[Long]("join_size_est"), planSource)
  }

  // --- link-graph curation --------------------------------------------

  /** Host-graph PageRank in fixed-point integer micro-units
    * (bit-reproducible iterative fit; edges = (src, dst) longs). */
  def pageRank(edges: DataFrame, nIter: Int = 5,
               dampingPct: Int = 85): DataFrame =
    LinkGraph.pageRankMicro(edges, nIter, dampingPct)

  /** TrustRank: teleport restricted to trusted seed nodes — hosts no
    * seed transitively endorses score exactly zero. */
  def trustRank(edges: DataFrame, seeds: DataFrame, nIter: Int = 5,
                dampingPct: Int = 85): DataFrame =
    LinkGraph.trustRankMicro(edges, seeds, nIter, dampingPct)

  /** Trust-budgeted data selection: TrustRank host scores joined onto
    * per-doc token counts, then the prefix-sum budget cut spends
    * `budgetTokens` on the most-trusted hosts first. `docs` carries
    * (idCol, hostCol, tokensCol); returns (doc_id, score = trust
    * micro-units, n_tokens, cum_tokens). */
  def trustSelect(edges: DataFrame, seeds: DataFrame, docs: DataFrame,
                  idCol: String, hostCol: String, tokensCol: String,
                  budgetTokens: Long, nIter: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val trust = trustRank(edges, seeds, nIter)
    // LEFT join + trust 0: a doc whose host never appears in the edge
    // graph scores zero (same as a host no seed endorses) and stays
    // eligible for leftover budget — an inner join would silently
    // drop off-graph documents from selection entirely
    FeatureEng.selectToBudget(
      docs.join(trust, docs(hostCol) === trust("node"), "left_outer"),
      idCol, coalesce(trust("pr_micro"), lit(0L)), docs(tokensCol),
      budgetTokens)
  }

  /** Banded point-in-interval range join (hash-partitionable — never
    * the nested-loop plan raw BETWEEN gets). */
  def intervalJoin(points: DataFrame, pointCol: String,
                   intervals: DataFrame, loCol: String, hiCol: String,
                   bucket: Long, keys: Seq[String] = Nil): DataFrame =
    RangeJoin.pointInInterval(points, pointCol, intervals, loCol, hiCol,
      bucket, keys)

  /** [[intervalJoin]] with the bucket width derived from the interval
    * data (median interval length — RangeJoin.chooseBucket). */
  def intervalJoinAuto(points: DataFrame, pointCol: String,
                       intervals: DataFrame, loCol: String, hiCol: String,
                       keys: Seq[String] = Nil): DataFrame =
    RangeJoin.pointInIntervalAuto(points, pointCol, intervals, loCol,
      hiCol, keys)

  // --- round-10 text/report operators ---------------------------------

  /** Min-K% probability triage (membership-inference statistic): mean
    * surprise of each doc's hardest `topFrac` tokens. */
  def minkScores(docs: DataFrame, topFrac: Double = 0.2): DataFrame =
    TextAnalysis.minkScore(docs, "doc_id", "text", topFrac)

  /** Interpolated Kneser-Ney bigram LM score per doc (trained in-plan
    * on the same corpus). */
  def knScores(docs: DataFrame, discount: Double = 0.75): DataFrame =
    TextAnalysis.knBigramScore(docs, "doc_id", "text", discount)

  /** Freeze the KN model offline (the CCNet model-artifact shape) for
    * [[knScoreFrozen]] — the streaming-safe scorer. */
  def knFreeze(docs: DataFrame, discount: Double = 0.75,
               maxTypes: Int = 1000000): TextAnalysis.KnModel =
    TextAnalysis.knFreeze(docs, "doc_id", "text", discount, maxTypes)

  /** Streaming-safe KN scoring against a frozen model: one pure
    * projection (no explode/join/aggregation) — equals [[knScores]]
    * on the training corpus. */
  def knScoreFrozen(docs: DataFrame,
                    model: TextAnalysis.KnModel): DataFrame =
    TextAnalysis.knScoreFrozen(docs, "doc_id", "text", model)

  /** Persist the KN bigram-count model as VersionedStore tables
    * (additive counts + shard ledger + params — the dsirStore
    * pattern). */
  def knStoreBuild(docs: DataFrame, root: String,
                   discount: Double = 0.75): Unit =
    TextAnalysis.knBuildStore(docs, "doc_id", "text", root, discount)

  /** Fold one corpus shard's bigram counts into the store (replays
    * no-op by shardId). */
  def knStoreUpsert(shard: DataFrame, root: String,
                    shardId: String): Boolean =
    TextAnalysis.knUpsertCounts(shard, "doc_id", "text", root, shardId)

  /** Retract a previously-ingested shard (exact bigram-count
    * subtraction, intent/done crash protocol). */
  def knStoreRetract(shard: DataFrame, root: String,
                     shardId: String): Boolean =
    TextAnalysis.knRetractCounts(shard, "doc_id", "text", root, shardId)

  /** Freeze the scoring artifact from stored counts — no corpus scan;
    * equals [[knFreeze]] over the union of every ingested shard. */
  def knStoreFreeze(spark: SparkSession, root: String,
                    maxTypes: Int = 1000000): TextAnalysis.KnModel =
    TextAnalysis.knFreezeFromStore(spark, root, maxTypes)

  /** k-anonymous corpus data card: cells under `k` docs keep dims +
    * a suppressed flag, measures NULLed. */
  def corpusReportKAnon(docs: DataFrame, dims: Seq[String],
                        k: Long): DataFrame =
    TextAnalysis.corpusReportKAnon(docs, "text", dims, k)

  /** Frame/segment sampling plan over real parsed A/V durations
    * (scan-stage only; payloads never shuffle). */
  def frameSamplePlan(docs: DataFrame, intervalMs: Long = 1000L,
                      maxFrames: Int = 16): DataFrame =
    MultiModal.frameSampleByTime(
      MultiModal.withPayload(docs, "doc_id", "text"), "doc_id",
      "payload", intervalMs, maxFrames)
}
