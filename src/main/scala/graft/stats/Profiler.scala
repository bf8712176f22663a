package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-feature statistics profile — the reference's FeatureStatistics
  * row (reference src/main/java/.../domain/FeatureStatistics.java:
  * count, null_count, mean, stddev, min, max, p25/p50/p75/p95/p99).
  * Exact interpolated percentiles, all five read from ONE percentile
  * aggregate (one value buffer and one sort per feature, not five);
  * single shuffle per profile pass.
  */
object Profiler {
  def profile(records: DataFrame, nameCol: String, valueCol: String)
  : DataFrame = {
    import graft.operators.WindowedFeatures.dsum
    val v = col(valueCol)
    records.groupBy(col(nameCol).as("feature_name"))
      .agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(v)).as("null_count"),
        round(dsum(v) / count(v), 6).as("mean"),
        round(stddev(v), 4).as("stddev"),
        min(v).as("min_value"),
        max(v).as("max_value"),
        percentile(v, array(Percentiles.map(p => lit(p / 100.0)): _*))
          .as("pcts"))
      .select(col("*") +: Percentiles.indices.map(i =>
        round(col("pcts").getItem(i), 4).as(s"p${Percentiles(i)}")): _*)
      .drop("pcts")
  }

  /** The profile's percentile columns p25 … p99, in output order. */
  private val Percentiles = Seq(25, 50, 75, 95, 99)

  /** Fixed-width histogram per feature — the reference profile's
    * histogram_bins field (reference src/main/java/.../domain/
    * FeatureStatistics.java:49). Two aggregation passes: per-feature
    * min/max (tiny result, broadcast back), then a single groupBy on
    * (feature, bin) with bin = floor((v - min) / width) clamped to the
    * last bin. Bin ids and counts are exact integers, so the result is
    * engine-deterministic; bounds are rounded 6dp.
    */
  def histogram(records: DataFrame, nameCol: String, valueCol: String,
                nBins: Int = 10): DataFrame = {
    val v = col(valueCol)
    val ranges = records.filter(v.isNotNull)
      .groupBy(col(nameCol).as("feature_name"))
      .agg(min(v).cast("double").as("vmin"), max(v).cast("double").as("vmax"))
    val width = (col("vmax") - col("vmin")) / nBins
    records.filter(v.isNotNull)
      .select(col(nameCol).as("feature_name"), v.cast("double").as("v"))
      .join(broadcast(ranges), "feature_name")
      .withColumn("bin",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(floor((col("v") - col("vmin")) / width),
            lit(nBins - 1).cast("long"))).cast("long"))
      .groupBy(col("feature_name"), col("bin"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("n"))
      .select(col("feature_name"), col("bin"),
        round(col("vmin") + col("bin") * width, 6).as("bin_lo"),
        round(col("vmin") + (col("bin") + 1) * width, 6).as("bin_hi"),
        col("n"))
  }

  /** Population-stability-index drift between two event-time windows,
    * over the shared fixed-width histogram (bins from the combined
    * min/max): psi = Σ_bins (pA - pB) · ln(pA / pB), with additive
    * 0.5 smoothing so empty bins stay finite. This is the PSI-proper
    * companion to OfflineStore.drift's mean-shift score — the drift
    * signal the reference's histogram_bins exist for.
    */
  def psiDrift(records: DataFrame, nameCol: String, valueCol: String,
               tsCol: String, aStart: String, mid: String, bEnd: String,
               nBins: Int = 10): DataFrame = {
    val v = col(valueCol)
    val ts = col(tsCol)
    val inWin = ts >= lit(aStart).cast("timestamp") &&
                ts < lit(bEnd).cast("timestamp")
    val isA = ts < lit(mid).cast("timestamp")
    val base = records.filter(v.isNotNull && inWin)
      .select(col(nameCol).as("feature_name"), v.cast("double").as("v"),
        isA.as("in_a"))
    val ranges = base.groupBy("feature_name")
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val width = (col("vmax") - col("vmin")) / nBins
    val binned = base.join(broadcast(ranges), "feature_name")
      .withColumn("bin",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(floor((col("v") - col("vmin")) / width),
            lit(nBins - 1).cast("long"))).cast("long"))
      .groupBy("feature_name", "bin")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
           sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb"))
    val totals = binned.groupBy("feature_name")
      .agg(sum("ca").as("ta"), sum("cb").as("tb"))
    val pa = (col("ca") + 0.5) / (col("ta") + 0.5 * nBins)
    val pb = (col("cb") + 0.5) / (col("tb") + 0.5 * nBins)
    binned.join(broadcast(totals), "feature_name")
      .groupBy("feature_name")
      .agg(round(sum((pa - pb) * log(pa / pb)), 6).as("psi"))
  }

  /** Pairwise Pearson correlation between features — the
    * feature-selection signal (drop one of two near-duplicates, flag
    * target leakage). Observations are per-entity feature TOTALS, and
    * a pair's sample is the entities carrying both features.
    *
    * Deterministic on any cluster: every sufficient statistic
    * (Σx, Σy, Σxy, Σx², Σy²) accumulates as exact decimal, so the
    * double formula at the end sees identical inputs regardless of
    * partitioning or add order — a naive `corr(x, y)` would drift in
    * the last ulps across engines and cluster layouts.
    *
    * Scale shape: one EAV aggregate (map-side combining), a per-entity
    * self-join that fans out only f²/2 rows per entity (f = feature
    * count, single digits), then one tiny aggregate keyed by the pair.
    */
  def featureCorr(records: DataFrame, entityCol: String, nameCol: String,
                  valueCol: String): DataFrame = {
    import graft.operators.WindowedFeatures.dsum
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
    val perEnt = records.filter(col(valueCol).isNotNull)
      .groupBy(col(entityCol).as("e"), col(nameCol).as("f"))
      .agg(dsum(col(valueCol)).as("v"))
    val pairs = perEnt.select(col("e"), col("f").as("feature_a"),
        col("v").as("x"))
      .join(perEnt.select(col("e"), col("f").as("feature_b"),
        col("v").as("y")), "e")
      .filter(col("feature_a") < col("feature_b"))
    val s = pairs.groupBy("feature_a", "feature_b").agg(
      count(lit(1)).as("n_entities"),
      sum(dec(col("x"))).cast("double").as("sx"),
      sum(dec(col("y"))).cast("double").as("sy"),
      sum((dec(col("x")) * dec(col("y"))).cast("decimal(38,4)"))
        .cast("double").as("sxy"),
      sum((dec(col("x")) * dec(col("x"))).cast("decimal(38,4)"))
        .cast("double").as("sxx"),
      sum((dec(col("y")) * dec(col("y"))).cast("decimal(38,4)"))
        .cast("double").as("syy"))
    val n = col("n_entities")
    val varx = n * col("sxx") - col("sx") * col("sx")
    val vary = n * col("syy") - col("sy") * col("sy")
    // corr rounds at 4dp, not 6: the decimal(38,4) power sums can
    // exceed 2^53, where the decimal→double conversion may differ by
    // 1 ulp across engines, and the n·Σx² − (Σx)² cancellation
    // amplifies that — the same reason rankingAggs rounds var at -4.
    s.select(col("feature_a"), col("feature_b"), n,
      when(n > 1 && varx > 0 && vary > 0,
        round((n * col("sxy") - col("sx") * col("sy")) /
          sqrt(varx * vary), 4)).as("corr"))
  }

  /** Scale-path twin: approx_percentile (t-digest) instead of exact
    * interpolated percentiles. Exact percentile buffers every value
    * per group; the sketch is O(accuracy) per group regardless of
    * input size — the variant to run over 100 TB of records.
    */
  def profileApprox(records: DataFrame, nameCol: String, valueCol: String,
                    accuracy: Int = 10000): DataFrame = {
    import graft.operators.WindowedFeatures.dsum
    val v = col(valueCol)
    def pa(p: Double) = percentile_approx(v, lit(p), lit(accuracy))
    records.groupBy(col(nameCol).as("feature_name"))
      .agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(v)).as("null_count"),
        round(dsum(v) / count(v), 6).as("mean"),
        round(stddev(v), 4).as("stddev"),
        min(v).as("min_value"),
        max(v).as("max_value"),
        pa(0.25).as("p25"), pa(0.5).as("p50"), pa(0.75).as("p75"),
        pa(0.95).as("p95"), pa(0.99).as("p99"))
  }
}
