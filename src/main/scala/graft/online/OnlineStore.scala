package graft.online

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Online-serving semantics over materialized vectors — the Spark
  * re-expression of the reference's OnlineServingService
  * (reference src/main/java/.../service/OnlineServingService.java):
  * batch multi-get by entity key against the latest materialized
  * snapshot.
  *
  * Scale design: the request key set is always small relative to the
  * snapshot → broadcast the KEYS and semi-join, so the snapshot (the
  * 100 TB side) never shuffles. An inner join keeps only requested
  * entities; missing entities simply produce no row (the reference
  * returns NOT_FOUND for those).
  */
object OnlineStore {

  /** Batch multi-get: `keys` must have an `entity_id` column. */
  def batchLookup(vectors: DataFrame, keys: DataFrame): DataFrame =
    vectors.join(broadcast(keys.select("entity_id").distinct()), Seq("entity_id"))

  // --- persisted point-read serving ---------------------------------

  // The hash config travels IN the data schema: the bucket column is
  // named `_kb_<keyCol>_<nBuckets>`, so every snapshot VERSION is
  // self-describing and a republish with a different config is one
  // atomic commit — no separate meta table whose update could race or
  // fail apart from the data and leave lookups hashing with the wrong
  // bucket count (which silently MISSES rows, the worst failure mode
  // a serving store can have).
  private val BucketPrefix = "_kb_"
  private def bucketColName(keyCol: String, nBuckets: Int) =
    s"$BucketPrefix${keyCol}_$nBuckets"
  private def parseBucketCol(schema: org.apache.spark.sql.types.StructType)
  : (String, String, Int) = {
    val name = schema.fieldNames.filter(_.startsWith(BucketPrefix)) match {
      case Array(one) => one
      case other => throw new IllegalArgumentException(
        s"not a published serving snapshot: expected exactly one " +
          s"$BucketPrefix column, found ${other.mkString("[", ",", "]")}")
    }
    val body = name.stripPrefix(BucketPrefix)
    val idx = body.lastIndexOf('_')
    (name, body.substring(0, idx), body.substring(idx + 1).toInt)
  }

  /** PERSIST a materialized snapshot for point-read serving: rows gain
    * a stable hash bucket of the key column and are laid out sorted by
    * it (~contiguous bucket ranges per file), so a later
    * [[pointLookup]] prunes the read to the files whose bucket range
    * contains a requested key — the reference's RocksDB multi-get
    * shape (OnlineServingService.java batch lookup) re-expressed as
    * manifest-stat point reads: files opened ∝ key batch, not table
    * size. Repeated publishes overwrite atomically (old versions stay
    * time-travelable); the key/bucket config is encoded in the bucket
    * column's name, so serving needs no out-of-band config and config
    * can never diverge from data.
    */
  def publishSnapshot(vectors: DataFrame, root: String, keyCol: String,
                      nBuckets: Int = 256, numFiles: Int = 64): Long = {
    import graft.offline.VersionedStore
    require(nBuckets > 0 && numFiles > 0, "nBuckets/numFiles must be positive")
    val kb = bucketColName(keyCol, nBuckets)
    val bucketed = vectors.withColumn(kb,
        pmod(xxhash64(col(keyCol).cast("string")), lit(nBuckets.toLong)))
      .repartitionByRange(numFiles, col(kb))
      .sortWithinPartitions(kb)
    VersionedStore.overwrite(bucketed, root)
  }

  /** Refresh a published snapshot with new/changed vectors: a keyed
    * MERGE (partial copy-on-write — only files containing updated
    * buckets rewrite), not a republish. Updates are bucketed with the
    * snapshot's OWN hash config (read from its schema) so lookups stay
    * correct; like the IVF inverted file, merge-written files can span
    * buckets and degrade [[pointLookup]]'s file pruning until
    * [[compactSnapshot]].
    */
  def upsertSnapshot(updates: DataFrame, root: String): Long = {
    import graft.offline.VersionedStore
    val spark = updates.sparkSession
    val (kb, keyCol, nBuckets) =
      parseBucketCol(VersionedStore.schemaOf(spark, root))
    // merge on (bucket, key), not the key alone: the key is usually a
    // STRING, which records no footer ranges, so a key-only merge
    // could never prune and would rewrite the whole snapshot per
    // upsert. The bucket is a deterministic numeric function of the
    // key (matching semantics unchanged) with tight per-file ranges
    // after the sorted publish, and merge prunes low-cardinality keys
    // by their exact VALUE SET — so even a batch touching scattered
    // buckets (e.g. {0, 31}) rewrites only those buckets' files, not
    // everything the overall range spans.
    VersionedStore.merge(
      updates.withColumn(kb,
        pmod(xxhash64(col(keyCol).cast("string")), lit(nBuckets.toLong))),
      root, Seq(kb, keyCol))
  }

  /** Remove entities from a published snapshot (the serving-side
    * right-to-be-forgotten): a pruned copy-on-write DELETE on
    * (bucket, key) with the snapshot's own hash config — the same
    * file-pruning shape as [[upsertSnapshot]], so a small key batch
    * rewrites only its buckets' files. Deleted keys simply stop
    * resolving in [[pointLookup]]; pair with VersionedStore.vacuum to
    * retire pre-deletion snapshots. */
  def deleteSnapshotKeys(keys: DataFrame, root: String): Long = {
    import graft.offline.VersionedStore
    val spark = keys.sparkSession
    val (kb, keyCol, nBuckets) =
      parseBucketCol(VersionedStore.schemaOf(spark, root))
    VersionedStore.deleteKeys(
      keys.select(col(keyCol)).withColumn(kb,
        pmod(xxhash64(col(keyCol).cast("string")), lit(nBuckets.toLong))),
      root, Seq(kb, keyCol))
  }

  /** Re-sort a published snapshot by bucket to restore ~per-bucket
    * file pruning after accumulated upserts. */
  def compactSnapshot(spark: SparkSession, root: String,
                      numFiles: Int): Long = {
    import graft.offline.VersionedStore
    val (kb, _, _) = parseBucketCol(VersionedStore.schemaOf(spark, root))
    VersionedStore.compact(spark, root, numFiles, sortBy = Seq(kb))
  }

  /** Point-read batch multi-get from a [[publishSnapshot]] table.
    *
    * The keys are resolved on the driver: one collect of (key, bucket)
    * pairs, with the bucket hashed by the snapshot's own config. Over
    * a local key batch Catalyst folds that projection into the local
    * relation and the collect runs no Spark job; over a distributed
    * key frame it runs that frame's jobs once. The distinct bucket set
    * prunes the snapshot read at the FILE level
    * (VersionedStore.readValues), and a left-semi join against a
    * broadcast local relation of the collected keys keeps exactly the
    * requested entities — duplicate keys match once, null keys never.
    * A local batch therefore costs two jobs: the broadcast and the
    * pruned scan. The key set is what is broadcast, never the snapshot
    * (README "Scale design"); collecting it first adds no driver
    * memory, since the broadcast pulls every key to the driver anyway.
    *
    * The hash config and the pruned read are pinned to ONE version: a
    * republish with another bucket count landing between them would
    * otherwise hash with one config and prune another's files.
    *
    * Result contract matches [[batchLookup]] over the published frame:
    * the key column first, the bucket column dropped.
    */
  def pointLookup(spark: SparkSession, root: String, keys: DataFrame)
  : DataFrame = {
    import graft.offline.VersionedStore
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val version = VersionedStore.latestVersion(spark, root)
    require(version >= 0, s"no committed version under $root")
    val (kb, keyCol, nBuckets) =
      parseBucketCol(VersionedStore.schemaOf(spark, root, version))
    val resolved = keys.select(col(keyCol),
        pmod(xxhash64(col(keyCol).cast("string")), lit(nBuckets.toLong)))
    val keyField = resolved.schema.head.copy(name = keyCol)
    val pairs = resolved.collect().filterNot(_.isNullAt(0))
    val buckets = pairs.map(_.getLong(1).toDouble).distinct.toSeq
    val wanted = spark.createDataFrame(
      java.util.Arrays.asList(pairs.map(r => Row(r.get(0))): _*),
      StructType(Seq(keyField)))
    val hits = VersionedStore.readValues(spark, root, kb, buckets,
        versionAsOf = version)
      .join(broadcast(wanted), Seq(keyCol), "left_semi")
    hits.select(col(keyCol) +:
      hits.columns.filterNot(c => c == keyCol || c == kb).map(col): _*)
  }

  /** Batch multi-get with the reference's staleness warnings
    * (OnlineServingService.checkStaleness: any value older than
    * `maxAgeMs` at serve time): assembles vectors straight from the
    * EAV records (the reference's "scalar assembly" path — here the
    * materialization IS scalar assembly, so pre-materialized vs
    * assembled vectors cannot diverge), then flags per-entity how
    * many served slots are stale or default-filled.
    */
  def batchLookupWithWarnings(records: DataFrame, keys: DataFrame,
                              featureNames: Seq[String], default: Double,
                              asOf: String, maxAgeMs: Long): DataFrame = {
    import graft.offline.OfflineStore
    val full = OfflineStore.materializeFull(records, featureNames, default, asOf)
    val stale = featureNames
      .map(f => when(col(s"age_ms_$f") > maxAgeMs, 1L).otherwise(0L))
      .reduce(_ + _)
    val defaults = featureNames
      .map(f => col(s"is_default_$f"))
      .reduce(_ + _)
    batchLookup(full, keys)
      .withColumn("n_stale", stale)
      .withColumn("n_default", defaults)
      .withColumn("warn", col("n_stale") > 0 || col("n_default") > 0)
  }
}
