package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FeatureEngSpec extends AnyFunSuite {
  import graft.operators.FeatureEng
  import graft.registry.Registry

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rankingAggs: exact variance on a known group") {
    val df = Seq((1L, 2.0), (1L, 4.0), (1L, 6.0), (2L, 5.0))
      .toDF("k", "v")
    val out = FeatureEng.rankingAggs(df, "k", "v").collect()
      .map(r => r.getAs[Long]("group_id") -> r).toMap
    assert(out(1L).getAs[Double]("mean_v") == 4.0)
    // var({2,4,6}) = 4, rounded at -4 digits → 0.0
    assert(out(1L).getAs[Double]("var_v") == 0.0)
    assert(out(2L).getAs[Any]("var_v") == null) // n=1 → undefined
    assert(out(2L).getAs[Double]("sum_v") == 5.0)
  }

  test("trainTestSplit: deterministic and ~80/20") {
    val df = (1L to 1000L).toDF("k")
    val out = FeatureEng.trainTestSplit(df, "k", 80)
    val frac = out.filter(col("split") === "train").count() / 1000.0
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
    // deterministic: same result twice
    val a = out.orderBy("entity_id").collect().toSeq
    val b = FeatureEng.trainTestSplit(df, "k", 80).orderBy("entity_id")
      .collect().toSeq
    assert(a == b)
  }

  test("quantileLabel: top-8% labeled") {
    val orders = (1L to 100L).map(i => (i, i * 10.0))
      .toDF("o_custkey", "o_totalprice")
    val out = FeatureEng.quantileLabel(orders, "o_custkey", "o_totalprice", 0.92)
    assert(out.filter(col("risk_label") === 1).count() == 8)
    assert(out.filter(col("risk_label") === 1)
      .agg(min("entity_id")).head().getLong(0) == 93L)
  }

  test("quantileLabel: distributed rank equals percent_rank window on random tied data") {
    import org.apache.spark.sql.expressions.Window
    // heavily quantized values → many gmv ties across entities; the
    // offsets-based rank must reproduce percent_rank's tie semantics
    val rnd = new scala.util.Random(11)
    val orders = (1 to 500)
      .map(i => (i.toLong, (rnd.nextInt(40) * 100).toDouble))
      .toDF("o_custkey", "o_totalprice")
    val got = FeatureEng.quantileLabel(orders, "o_custkey", "o_totalprice",
        pct = 0.9, rangeParts = 7)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getInt(3))).toMap
    val ref = FeatureEng
      .quantileLabelApprox(orders, "o_custkey", "o_totalprice", 0.9) // reuse agg
      .select("entity_id", "gmv")
      .withColumn("pr", round(percent_rank().over(Window.orderBy($"gmv")), 6))
      .withColumn("risk_label", when($"pr" >= 0.9, 1).otherwise(0))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getInt(3))).toMap
    assert(got == ref)
  }

  test("quantileLabel: single-key input gets pr 0 (no divide-by-zero)") {
    val orders = Seq((7L, 123.0)).toDF("o_custkey", "o_totalprice")
    val row = FeatureEng.quantileLabel(orders, "o_custkey", "o_totalprice",
      0.5).head()
    assert(row.getDouble(2) == 0.0 && row.getInt(3) == 0)
  }

  test("quantileLabelApprox: sketch threshold tracks the exact one") {
    val orders = (1L to 100L).map(i => (i, i * 10.0))
      .toDF("o_custkey", "o_totalprice")
    val n = FeatureEng.quantileLabelApprox(orders, "o_custkey",
      "o_totalprice", 0.92).filter(col("risk_label") === 1).count()
    assert(n >= 7 && n <= 10, s"approx top-8% labeled $n of 100")
  }

  test("profileApprox: exact aggregates identical, sketch percentiles close") {
    import graft.stats.Profiler
    val recs = Tables.featureRecords(spark, TestSpark.sfDir)
    val exact = Profiler.profile(recs, "feature_name", "value_float")
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = Profiler.profileApprox(recs, "feature_name", "value_float")
      .collect().map(r => r.getString(0) -> r).toMap
    exact.foreach { case (f, e) =>
      val a = approx(f)
      assert(a.getAs[Long]("n") == e.getAs[Long]("n"))
      assert(a.getAs[Double]("mean") == e.getAs[Double]("mean"))
      assert(math.abs(a.getAs[Double]("p50") - e.getAs[Double]("p50")) <=
        0.05 * math.max(1.0, math.abs(e.getAs[Double]("p50"))), s"p50 off for $f")
    }
  }

  test("profile: one percentile buffer == five separate percentiles, with NULLs and a single value") {
    import graft.stats.Profiler
    val recs = (Seq[(String, java.lang.Double)](("nulls", null), ("nulls", 3.5),
        ("nulls", null), ("nulls", -1.25), ("nulls", 10.0), ("nulls", 2.0),
        ("one", 4.2), ("none", null)) ++
      (1 to 37).map(i => ("many", java.lang.Double.valueOf(i * 1.37 % 11))))
      .toDF("feature_name", "value_float")
    // the per-percentile formulation the profile used to run
    def p(q: Double) = round(percentile(col("value_float"), lit(q)), 4)
    val five = recs.groupBy(col("feature_name").as("feature_name"))
      .agg(p(0.25).as("p25"), p(0.5).as("p50"), p(0.75).as("p75"),
        p(0.95).as("p95"), p(0.99).as("p99"))
    val cols = Seq("feature_name", "p25", "p50", "p75", "p95", "p99")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val profiled = Profiler.profile(recs, "feature_name", "value_float")
    assert(profiled.columns.toSeq == Seq("feature_name", "n", "null_count",
      "mean", "stddev", "min_value", "max_value") ++ cols.tail)
    assert(rows(profiled) == rows(five))
    val one = profiled.filter(col("feature_name") === "one").head()
    assert(cols.tail.forall(c => one.getAs[Double](c) == 4.2))
    val none = profiled.filter(col("feature_name") === "none").head()
    assert(cols.tail.forall(c => none.isNullAt(none.fieldIndex(c))))
  }

  test("enrichStar plan broadcasts the tiny dims") {
    val plan = SparkEntry.qEnrichStar(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins")
  }

  test("registry schema hash matches distributed hash and reference algo") {
    val names = Seq("click", "error", "purchase", "signup", "view")
    val driverHash = Registry.schemaHash(names)
    val view = Registry.makeView("user_view", "user", 1, names)
    assert(view.schemaHash == driverHash)
    val dist = SparkEntry.qSchemaHash(spark, TestSpark.sfDir).head()
    // distributed hash over events' distinct feature names agrees
    assert(dist.getAs[String]("schema_str") == names.mkString(","))
    assert(dist.getAs[Long]("schema_hash") == driverHash)
  }

  test("registry deprecation: soft delete survives persistence") {
    import graft.registry.{FeatureDef, Registry}
    val dir = java.nio.file.Files.createTempDirectory("graft_feat").toString
    val feats = Seq(
      FeatureDef("gmv_30d", "user", "float", 0.0, 86400L),
      FeatureDef("txn_count", "user", "float", 0.0, 86400L)).toDS()
    val updated = Registry.deprecateFeature(feats, "gmv_30d")
    Registry.save(updated, s"$dir/features")
    val loaded = Registry.loadFeatures(spark, s"$dir/features")
    assert(Registry.activeFeatures(loaded).collect().map(_.name).toSeq ==
      Seq("txn_count"))
    assert(loaded.count() == 2) // soft delete: row retained
  }

  test("classBalanceSample: deterministic, per-class rates honored, unlisted classes dropped") {
    val df = (1L to 2000L).map(i =>
      (i, if (i % 4 == 0) "rare" else if (i % 4 == 1) "common" else "junk"))
      .toDF("k", "cls")
    val out = FeatureEng.classBalanceSample(df, "k", "cls",
      Map("rare" -> 10000, "common" -> 1000))
    val byClass = out.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byClass("rare") == 500L, "rate 10000bp keeps every rare row")
    val common = byClass("common")
    assert(common > 20 && common < 110, s"~10% of 500 expected, got $common")
    assert(!byClass.contains("junk"), "unlisted class must be dropped")
    // deterministic: the same rows survive on a re-run
    val again = FeatureEng.classBalanceSample(df, "k", "cls",
      Map("rare" -> 10000, "common" -> 1000))
    assert(out.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("k").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("weightedSample: keep rate tracks weight, clamps, NULL drops, seeds independent") {
    val df = (1L to 4000L).map { i =>
      val w: java.lang.Double =
        if (i % 10 == 0) null
        else if (i % 3 == 0) 2.5  // clamps to 1.0
        else if (i % 3 == 1) -0.3 // clamps to 0.0
        else 0.5
      (i, w)
    }.toDF("k", "w")
    val out = FeatureEng.weightedSample(df, "k", col("w"))
    val kept = out.select("k").collect().map(_.getLong(0)).toSet
    // w>=1 rows all survive; w<=0 and NULL rows never do
    assert((1L to 4000L).filter(i => i % 10 != 0 && i % 3 == 0)
      .forall(kept.contains), "weight >= 1 must keep every row")
    assert(!(1L to 4000L).exists(i =>
      (i % 10 == 0 || i % 3 == 1) && kept.contains(i)),
      "NULL and weight <= 0 must drop")
    // w=0.5 keeps roughly half
    val half = (1L to 4000L).count(i =>
      i % 10 != 0 && i % 3 == 2 && kept.contains(i))
    val n = (1L to 4000L).count(i => i % 10 != 0 && i % 3 == 2)
    assert(half > n * 0.4 && half < n * 0.6, s"~50% expected, got $half/$n")
    // deterministic on rerun; a different seed draws a different sample
    val again = FeatureEng.weightedSample(df, "k", col("w"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(again == kept)
    val reseeded = FeatureEng.weightedSample(df, "k", col("w"), seed = "e2")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(reseeded != kept, "a new seed must re-roll the sample")
    // the re-roll is unbiased too: w>=1 rows still all survive
    assert((1L to 4000L).filter(i => i % 10 != 0 && i % 3 == 0)
      .forall(reseeded.contains))
  }

  test("selectToBudget: greedy best-first prefix, tie order by id, straddler dropped") {
    val df = Seq[(Long, Option[Double], Long)](
      (1L, Some(0.8), 5L), (2L, Some(0.9), 10L), (3L, Some(0.8), 3L),
      (4L, Some(0.7), 4L),
      (5L, None, 100L),      // NULL score drops
      (6L, Some(0.95), 0L)   // zero tokens drops
    ).toDF("id", "sc", "tok")
    // order: 2 (10) -> 1 (15) -> 3 (18) -> 4 (22); budget 17:
    // doc 3 straddles (cum 18 > 17) and everything after it is out
    val out = FeatureEng.selectToBudget(df, "id", col("sc"), col("tok"),
        budgetTokens = 17L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out == Map(2L -> 10L, 1L -> 15L))
    // a budget past the corpus keeps every rankable doc, exact cums
    val all = FeatureEng.selectToBudget(df, "id", col("sc"), col("tok"),
        budgetTokens = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(all == Map(2L -> 10L, 1L -> 15L, 3L -> 18L, 4L -> 22L))
    // within a tie, smaller id wins the budget: 1 before 3
    val tie = FeatureEng.selectToBudget(df, "id", col("sc"), col("tok"),
        budgetTokens = 15L)
      .collect().map(_.getLong(0)).toSet
    assert(tie == Set(2L, 1L))
  }

  test("shuffleShard: reproducible permutation, dense per-shard positions, seeded epochs differ") {
    val df = (1L to 3000L).map(i => (i, s"text $i")).toDF("id", "text")
    val out = FeatureEng.shuffleShard(df, "id", nShards = 7)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 3000 && rows.map(_._1).distinct.length == 3000,
      "every doc exactly once")
    assert(rows.forall { case (_, s, _) => s >= 0 && s < 7 })
    // positions are dense 1..n within every shard
    rows.groupBy(_._2).foreach { case (s, g) =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.length).toSeq,
        s"shard $s positions must be dense from 1")
    }
    // no degenerate balance: each shard gets a nontrivial slice
    assert(rows.groupBy(_._2).values.map(_.length).min > 200)
    // identical rerun; different seed = different permutation
    val again = FeatureEng.shuffleShard(df, "id", nShards = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    val epoch2 = FeatureEng.shuffleShard(df, "id", nShards = 7, seed = "e2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sortBy(_._1).toSeq != epoch2.sortBy(_._1).toSeq,
      "a new seed must produce a new order")
    assert(epoch2.map(_._1).distinct.length == 3000,
      "the re-rolled epoch is still a permutation")
  }

  test("featureCorr: known perfect/inverse correlations, constant feature guarded to null") {
    import graft.stats.Profiler
    val rows = (1 to 50).flatMap { i =>
      Seq((s"e$i", "a", i.toDouble), (s"e$i", "b", 2.0 * i + 3),
        (s"e$i", "c", -i.toDouble), (s"e$i", "d", 7.0))
    }
    val df = rows.toDF("entity_id", "feature_name", "value_float")
    val out = Profiler.featureCorr(df, "entity_id", "feature_name",
        "value_float")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(("a", "b")) == Some(1.0), "y = 2x + 3 is corr 1")
    assert(out(("a", "c")) == Some(-1.0))
    assert(out(("a", "d")) == None, "zero-variance pair must be null, not NaN")
    assert(out.size == 6, "all feature pairs present")
  }

  test("runningTotal: distributed prefix sum equals the single-window cumsum") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(23)
    val df = (1L to 500L).map(i => (i * 7 % 1000, rnd.nextInt(50) + 1))
      .toMap.toSeq // unique keys
      .map { case (k, v) => (k, v.toLong) }.toDF("k", "v")
    val got = FeatureEng.runningTotal(df, "k", "v", buckets = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ref = df.withColumn("rt", sum("v").over(
        Window.orderBy("k").rowsBetween(Long.MinValue, 0)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == ref)
  }

  test("runningTotal: rejects non-numeric order columns; null values contribute 0") {
    // string order would bucket numerically but window lexicographically
    val bad = Seq(("2", 1L), ("10", 2L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      FeatureEng.runningTotal(bad, "k", "v"))
    assert(e.getMessage.contains("numeric"), e.getMessage)
    val withNulls = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("k", "v")
    val rt = FeatureEng.runningTotal(withNulls, "k", "v")
      .orderBy("ord").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
    assert(rt.toSeq == Seq((1L, 5L, 5L), (2L, -1L, 5L), (3L, 7L, 12L)))
  }

  test("packSequences: greedy contiguous bins by start offset, straddle allowed") {
    val docs = Seq(
      (1L, "a b c d e"),          // 5 tokens → bin 0, offset 0
      (2L, "a b c d e"),          // 5 tokens → bin 0, offset 5 (straddles)
      (3L, "a b c"),              // 3 tokens → bin 1, offset 2
      (4L, "a b c d"),            // 4 tokens → bin 1, offset 5
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = FeatureEng.packSequences(docs, "doc_id", "text", 8L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(1L -> (0L, 0L), 2L -> (0L, 5L),
      3L -> (1L, 2L), 4L -> (1L, 5L)))
  }

  test("packSegments: hand fixture — straddles chain, bins tile, masks aligned") {
    // counts 5,3,9,2 at seqLen 4 → stream 1..19, bins [0,4) [4,8)
    // [8,12) [12,16) [16,19]
    val df = Seq((1L, 5L), (2L, 3L), (3L, 9L), (4L, 2L)).toDF("doc_id", "n")
    val segs = FeatureEng.packSegments(df, "doc_id", "n", 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(segs === Set(
      (0L, 0L, 1L, 0L, 4L, 1L),  // doc1 tokens 1-4
      (1L, 0L, 1L, 0L, 1L, 5L),  // doc1 token 5 continues bin 1
      (1L, 1L, 2L, 1L, 3L, 1L),  // doc2 whole
      (2L, 0L, 3L, 0L, 4L, 1L),  // doc3 tokens 1-4
      (3L, 0L, 3L, 0L, 4L, 5L),  // doc3 tokens 5-8
      (4L, 0L, 3L, 0L, 1L, 9L),  // doc3 token 9
      (4L, 1L, 4L, 1L, 2L, 1L))) // doc4 whole, final bin short
    val masks = FeatureEng.packAttentionMasks(df, "doc_id", "n", 4L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3), r.getLong(4)))
      .toMap
    assert(masks(1L) === ((2L, Seq(0L, 1L), Seq(1L, 2L), 4L)))
    assert(masks(4L) === ((2L, Seq(0L, 1L), Seq(3L, 4L), 3L)))
    assert(masks.values.forall(_._2.head === 0L),
      "every bin's first boundary is offset 0")
  }

  test("packSegments: tiling invariants on the gate corpus") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n") > 0)
    val segs = FeatureEng.packSegments(docs, "doc_id", "n", 64L).cache()
    val lastBin = segs.agg(max("bin")).head().getLong(0)
    // every bin except the last is exactly full; offsets tile
    val bins = segs.groupBy("bin").agg(sum("seg_tokens").as("tot"),
        min("bin_offset").as("first"))
      .collect()
    bins.foreach { r =>
      assert(r.getLong(2) === 0L, s"bin ${r.getLong(0)} first offset")
      if (r.getLong(0) != lastBin)
        assert(r.getLong(1) === 64L, s"bin ${r.getLong(0)} not full")
    }
    // every doc's segments reassemble it: counts sum, starts chain
    val perDoc = segs.groupBy("doc_id").agg(
        sum("seg_tokens").as("tot"), min("doc_tok_start").as("first"))
      .join(docs, "doc_id")
    assert(perDoc.filter(col("tot") =!= col("n") ||
      col("first") =!= 1L).count() === 0L)
    // packSequences is the seg_idx-0-with-doc_tok_start-1 projection
    // of this (same bin/offset for every doc's first token)
    val starts = segs.filter(col("doc_tok_start") === 1L)
      .select(col("doc_id"), col("bin"), col("bin_offset"))
    val packed = FeatureEng.packSequences(
      Tables.documents(spark, TestSpark.sfDir), "doc_id", "text", 64L)
      .select(col("doc_id"), col("bin"), col("bin_offset"))
    assert(starts.exceptAll(packed).count() === 0L)
    assert(packed.exceptAll(starts).count() === 0L)
    segs.unpersist()
  }

  test("packStats: fill rate, straddle count and segs/bin from the hand fixture") {
    // counts 5,3,9,2 at seqLen 4: 5 bins, 7 segments, docs 1 and 3
    // straddle, 19 tokens over 20 capacity
    val df = Seq((1L, 5L), (2L, 3L), (3L, 9L), (4L, 2L)).toDF("doc_id", "n")
    val r = FeatureEng.packStats(df, "doc_id", "n", 4L).head()
    assert(r.getLong(0) === 5L)            // n_bins
    assert(r.getLong(1) === 4L)            // n_docs
    assert(r.getLong(2) === 7L)            // n_segments
    assert(r.getLong(3) === 2L)            // straddled docs (1 and 3)
    assert(r.getLong(4) === 19L)           // tokens
    assert(r.getDouble(5) === 0.95)        // fill 19/20
    assert(r.getDouble(6) === 1.4)         // 7 segs / 5 bins
  }

  test("registry round-trips view defs through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reg").toString
    val views = Seq(
      Registry.makeView("v1", "user", 1, Seq("a", "b")),
      Registry.makeView("v2", "user", 2, Seq("a", "b", "c"))).toDS()
    Registry.save(views, s"$dir/views")
    val loaded = Registry.loadViews(spark, s"$dir/views").collect().sortBy(_.name)
    assert(loaded.toSeq == views.collect().toSeq.sortBy(_.name))
  }

  test("stratifiedSample: exact k per cell, small cells whole, deterministic, seeds differ") {
    import org.apache.spark.sql.functions._
    val df = ((1L to 30L).map(i => (i, "a")) ++ (31L to 35L).map(i => (i, "b")))
      .toDF("id", "cell")
    val out = graft.operators.FeatureEng
      .stratifiedSample(df, "id", Seq("cell"), k = 10).cache()
    // big cell capped at k, small cell kept whole
    val sizes = out.groupBy("cell").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("a" -> 10L, "b" -> 5L), s"got $sizes")
    // ranks are contiguous 1..n per cell
    val ranksA = out.filter(col("cell") === "a")
      .select("strata_rank").collect().map(_.getLong(0)).sorted.toSeq
    assert(ranksA == (1L to 10L))
    // reproducible across invocations; a different seed draws a
    // different panel from the capped cell
    val again = graft.operators.FeatureEng
      .stratifiedSample(df, "id", Seq("cell"), k = 10)
    assert(out.select("id", "strata_rank").collect().toSet ==
      again.select("id", "strata_rank").collect().toSet)
    val otherSeed = graft.operators.FeatureEng
      .stratifiedSample(df, "id", Seq("cell"), k = 10, seed = "epoch2")
      .filter(col("cell") === "a").select("id").collect()
      .map(_.getLong(0)).toSet
    val thisSeed = out.filter(col("cell") === "a").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(otherSeed != thisSeed, "independent seeds must draw different panels")
    out.unpersist()
  }

  test("curriculumPack: exact quality-major order and bin arithmetic from a hand fixture; contract errors loud") {
    val docs = Seq((1L, 0.9, 100L), (2L, 0.2, 300L), (3L, 0.9, 50L),
      (4L, 0.55, 512L), (5L, 1.0, 10L), (6L, 0.0, 7L))
      .toDF("doc_id", "q", "n")
    val out = FeatureEng.curriculumPack(docs, "doc_id", "q", "n", 512L)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // order: q desc, id asc → 5, 1, 3, 4, 2, 6; starts 0, 10, 110,
    // 160, 672, 972 → (bin, offset) by hand
    assert(out == Set(
      (5L, 1.0, 10L, 0L, 0L), (1L, 0.9, 100L, 0L, 10L),
      (3L, 0.9, 50L, 0L, 110L), (4L, 0.55, 512L, 0L, 160L),
      (2L, 0.2, 300L, 1L, 160L), (6L, 0.0, 7L, 1L, 460L)))
    intercept[Exception] { // score out of [0, 1]
      FeatureEng.curriculumPack(Seq((1L, 1.2, 5L)).toDF("doc_id", "q", "n"),
        "doc_id", "q", "n", 512L).collect()
    }
    intercept[Exception] { // id past 28 bits
      FeatureEng.curriculumPack(
        Seq((1L << 29, 0.5, 5L)).toDF("doc_id", "q", "n"),
        "doc_id", "q", "n", 512L).collect()
    }
    intercept[Exception] { // NaN score: round(NaN*1e6) casts to 0L —
      // must hit the contract, not schedule silently as quality 0
      FeatureEng.curriculumPack(
        Seq((1L, Double.NaN, 5L)).toDF("doc_id", "q", "n"),
        "doc_id", "q", "n", 512L).collect()
    }
  }

  test("md5DenseRank: a permutation of [0, n) in exact (md5, id) order, for long and string ids") {
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) & 0x7fffffffL
    }
    // long ids, including negative and huge — sparse, unordered
    val longIds = Seq(-9000000000L, 0L, 7L, 1L << 40, 12345L, -1L, 99L)
    val gotL = FeatureEng.md5DenseRank(
        longIds.toDF("doc_id"), "doc_id", buckets = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantL = longIds.sortBy(i => (md5h(i.toString), i))
      .zipWithIndex.map { case (id, r) => id -> r.toLong }.toMap
    assert(gotL == wantL)
    // string ids through the same machinery
    val strIds = Seq("alpha", "beta", "Gamma", "δδ", "", "zzz")
    val gotS = FeatureEng.md5DenseRank(
        strIds.toDF("doc_id"), "doc_id", buckets = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantS = strIds.sortBy(s => (md5h(s), s))
      .zipWithIndex.map { case (id, r) => id -> r.toLong }.toMap
    assert(gotS == wantS)
  }

  test("epochSchedule: unit order, straddling prefix, decay chain, edge budgets — hand fixture") {
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) & 0x7fffffffL
    }
    // source A: docs 1 (3 tok), 2 (5 tok) = 8; source B: doc 3 (4 tok)
    // = 4. Unit order: (1,A)=8, (1,B)=4, (2,A)=8, (2,B)4, (3,A), (3,B)
    val docs = Seq(
      (1L, "a b c", "A"), (2L, "d e f g h", "A"), (3L, "x y z w", "B"),
      (4L, null.asInstanceOf[String], "A") // NULL text → dropped
    ).toDF("doc_id", "text", "source")
    def sched(budget: Long, maxE: Int = 3, decay: Long = 5000L) =
      FeatureEng.epochSchedule(docs, "doc_id", "text", "source",
          budget, maxE, decay)
        .collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    // budget 17: (1,A) full @8, (1,B) full @12, (2,A) straddles
    // (12+8>17, remaining 5): A-docs in (md5, id) order — prefix fits
    // docs until inclusive token sum > 5
    val aOrder = Seq(1L -> 3L, 2L -> 5L)
      .sortBy { case (id, _) => (md5h(id.toString), id) }
    val prefixDocs = aOrder.scanLeft(0L)(_ + _._2).zip(aOrder)
      .collect { case (before, (id, t)) if before + t <= 5L => id }
    val want17 = Set((1L, 1L, 10000L), (2L, 1L, 10000L),
      (3L, 1L, 10000L)) ++ prefixDocs.map(id => (id, 2L, 5000L)).toSet
    assert(sched(17L) == want17)
    // budget >= 3 epochs of everything: every doc 3 times, decayed
    val wantAll = (for (e <- 1 to 3; id <- Seq(1L, 2L, 3L)) yield
      (id, e.toLong, Seq(10000L, 5000L, 2500L)(e - 1))).toSet
    assert(sched(1000L) == wantAll)
    // budget smaller than the first unit: md5-prefix of (1, A) only
    val want2 = aOrder.scanLeft(0L)(_ + _._2).zip(aOrder)
      .collect { case (before, (id, t)) if before + t <= 3L => id }
      .map(id => (id, 1L, 10000L)).toSet
    assert(sched(3L) == want2)
    // integer decay chain truncates: 10000, 3333, 1110 (3333²//10⁴)
    val w = sched(1000L, maxE = 3, decay = 3333L)
      .groupBy(_._2).view.mapValues(_.head._3).toMap
    assert(w == Map(1L -> 10000L, 2L -> 3333L, 3L -> 1110L))
  }
}
