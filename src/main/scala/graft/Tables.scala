package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish tables plus the EAV
  * feature-record view derived from `events`.
  *
  * The reference stores offline feature data in EAV form
  * (entity_id, feature_name, value_float, event_time) — see
  * /root/reference .../store/offline/IcebergOfflineStore.java:42-53.
  * Here the `events` table plays that role: entity_id := user_id,
  * feature_name := event_type, value_float := value, event_time := ts.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Conditional scan-split compensation — see [[documents]]'s note:
    * every driver table is a single-row-group parquet file, so the
    * bare scan is ONE task and all map-side work (hashing,
    * aggregation, expression eval) serializes regardless of cores.
    * Repartition by the table's natural key only when the scan is
    * below the session shuffle parallelism (a sharded production
    * table never triggers this). The KEY choice makes the exchange
    * reusable: hash(orderkey) already satisfies the orderkey
    * joins/aggregates downstream, hash(user_id) the per-user windows
    * — so for many queries this REPLACES their first exchange rather
    * than adding one. */
  private def splitCompensated(s: SparkSession, raw: DataFrame,
                               key: String): DataFrame = {
    val target = graft.functions.Fns.shufflePartitions(s)
    if (raw.rdd.getNumPartitions < target) raw.repartition(target, col(key))
    else raw
  }

  def lineitem(s: SparkSession, d: String): DataFrame =
    splitCompensated(s, load(s, d, "lineitem"), "l_orderkey")
  def orders(s: SparkSession, d: String): DataFrame =
    splitCompensated(s, load(s, d, "orders"), "o_orderkey")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  /** `events.ts` has drifted across driver testdata generations:
    * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — [PARQUET_TYPE_ILLEGAL]) and plain TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false. Normalize BOTH to the same micros
    * TimestampType column, session-timezone-independently:
    * nanos read as a raw long (legacy conf) and rebuilt as µs = ns
    * DIV 1000; micros read as TimestampType directly by disabling
    * NTZ inference, so the stored int64 is taken as UTC epoch micros
    * — exactly the values DuckDB's naive read gives the oracle.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = load(s, d, "events")
    val normalized = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // reached only if a session read the file before the conf was
        // set; UTC-pinned sessions make this cast value-identical
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    // NOT split-compensated, deliberately (round-16 A/B): events
    // rows carry cheap numeric work, so the exchange tax outweighed
    // the parallel scan — the events family measured a NET +1.4 s
    // with compensation (q_psi_drift 0.44→0.78, q_time_travel
    // 0.28→0.53, q_asof_join 0.82→1.06) against only ~0.2 s of wins
    // on the user_id-window rows. Text-free tables stay as-read.
    normalized
  }
  /** The corpus table, scan-split-compensated. Parquet splits at ROW
    * GROUP granularity, and the gate/bench corpora are single-row-
    * group files — so the bare scan yields ONE task regardless of
    * cores, and every downstream text projection (token splits,
    * shingles, hashes: the expensive per-row work of this engine)
    * serializes onto one core. Round-16 probe at sf0.1/32c: shingle
    * explode 3.75 → 0.39 s, winnow fingerprints 2.53 → 0.37 s, gram
    * build 2.26 → 0.31 s once spread. Per guide §2.5 ("one huge
    * unsplittable file … repartition immediately after the read"),
    * repartition by doc_id ONLY when the scan is below the session
    * shuffle parallelism — on a real sharded corpus the scan already
    * carries ≥ that many splits, the condition is false, and no
    * corpus shuffle is ever added. Hash placement is deterministic
    * and row order never reaches results (every declared query is
    * value-deterministic and oracle-compared on sorted rows). */
  def documents(s: SparkSession, d: String): DataFrame =
    splitCompensated(s, load(s, d, "documents"), "doc_id")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events` reshaped to the reference's EAV feature-record schema. */
  def featureRecords(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      lit("user").as("entity_type"),
      col("user_id").cast("string").as("entity_id"),
      col("event_type").as("feature_name"),
      col("value").as("value_float"),
      col("ts").as("event_time"),
      col("event_id").as("commit_id") // arrival-order surrogate for created_at
    )
}
