package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar feature-store functions, all pure `functions._` compositions
  * so they stay inside whole-stage codegen (no UDFs).
  */
object Fns {

  /** Keyed repartition PINNED at the session shuffle-partition count:
    * row placement is identical to `repartition(cols…)`, but the
    * explicit count makes the exchange exempt from AQE's byte-based
    * partition coalescing. Use at the exchange feeding an
    * OUTPUT-DOMINATED stage — the self-join fan-outs behind the
    * near-dup detectors multiply kilobytes of keys into quadratic
    * pair streams, so AQE (which only sees the tiny shuffle INPUT)
    * folds them to ~one partition and serializes the whole scan:
    * round 16 measured q_gramvec_pairs flat from 8 to 32 cores, and
    * 9× faster once pinned. The count comes from
    * `spark.sql.shuffle.partitions` — the knob every deployment
    * already scales with its cluster — so this is not a local-mode
    * constant. */
  def pinnedRepartition(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(shufflePartitions(df.sparkSession), cols: _*)

  /** The session's `spark.sql.shuffle.partitions` as a count. A value
    * that is not a number (`auto` on some platforms) falls back to the
    * cluster's default parallelism instead of throwing. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "200").toIntOption
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** Deterministic 31-bit hash of an md5 hex prefix — the reference's
    * schema/categorical hash: `int(md5(key)[:8], 16) % 2^31`.
    * (reference python/gbdt_example/dataset.py:50,
    * python/criteo_example/dataset.py:103).
    */
  def md5Hash31(key: Column): Column =
    (conv(substring(md5(key), 1, 8), 16, 10).cast("long") % 2147483648L)
      .as("md5hash31")

  /** The driver-side scalar twin of [[md5Hash31]] — the SAME 31-bit
    * draw (first 8 md5 hex chars = first 4 digest bytes, unsigned,
    * & 0x7fffffff) for code that hashes off-plan (deterministic
    * inits, driver-side Lloyd seeding). One definition so the
    * column and scalar forms cannot drift. */
  def md5Hash31Of(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) & 0x7fffffffL
  }

  /** Categorical hash-bucketing (criteo-style): md5-based bucket in
    * [0, nBuckets). Empty / null values map to bucket 0.
    */
  def hashBucket(value: Column, nBuckets: Int): Column =
    when(value.isNull || value === "", lit(0L))
      .otherwise(md5Hash31(value) % nBuckets)

  /** Schema hash of an ordered feature-name list (comma-joined). */
  def schemaHash(featureNames: Column): Column =
    md5Hash31(array_join(featureNames, ","))

  /** Cosine similarity between two float-array columns, computed in
    * double precision with left-to-right accumulation (deterministic).
    * Uses the codegen'd FloatVecDot — bit-identical to the interpreted
    * higher-order-function fold, ~40× faster on pair scans.
    */
  def cosineSim(a: Column, b: Column): Column = {
    val dot = VectorExpressions.dotF _
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** L2 norm of a float-array column (codegen'd). */
  def l2Norm(a: Column): Column = sqrt(VectorExpressions.dotF(a, a))

  /** Whitespace word-split (single-space tokenizer, matching the
    * synthetic corpus).
    */
  def words(text: Column): Column = split(text, " ")

  /** Let-binding for expression trees: evaluates `v` ONCE per row and
    * hands it to `body` as a lambda VARIABLE. A higher-order-function
    * lambda EMBEDS any captured outer expression and re-evaluates it
    * per array element (HOFs run interpreted — no codegen, no
    * subexpression elimination), so e.g. `element_at(split(text), i)`
    * inside a transform re-splits the text for every element. Binding
    * the expensive value through `bound` turns each capture into a
    * variable read — round 16 measured [[shingles]] re-splitting 3×
    * per shingle (the q_distinct_hll scan stage). Implemented as
    * `element_at(transform(array(v), body), 1)`: the one-element
    * array is the binder; semantics (incl. null flow) are exactly
    * `body(v)`. */
  def bound(v: Column, body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Word n-gram shingles of a text column as a deduplicated array.
    * Documents shorter than n words yield an empty array (Spark's
    * `sequence(1, 0)` would otherwise count DOWN — guard against it).
    * The word array is [[bound]] so the split runs once per row, not
    * once per element_at. */
  def shingles(text: Column, n: Int): Column =
    bound(words(text), w =>
      when(size(w) >= n,
        array_distinct(
          transform(
            sequence(lit(1), size(w) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*))))
        .otherwise(array().cast("array<string>")))

  /** 64-bit SimHash over the words of a text column: for each of the 64
    * bits, sign of the sum over words of (+1/-1) from that word's
    * xxhash64 bit. Pure SQL-function composition: explode-free
    * (aggregate over the word array).
    */
  def simHash(text: Column): Column = {
    val w = words(text)
    val bitCols = (0 until 64).map { bit =>
      val contrib = aggregate(
        w, lit(0L),
        (acc, word) =>
          acc + when(shiftright(xxhash64(word), bit).bitwiseAND(1L) === 1L, 1L)
            .otherwise(-1L))
      when(contrib > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }
    bitCols.reduce(_.bitwiseOR(_))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
