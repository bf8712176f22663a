package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

import graft.registry.Registry
import graft.validation.Validation

class ValidationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("validateView: schema ok, fill + stale rates, gate") {
    val recs = Seq(
      // u1 has both features fresh; u2 misses 'b' and 'a' is stale
      ("user", "u1", "a", 1.0, ts("2024-01-30 00:00:00"), 1L),
      ("user", "u1", "b", 2.0, ts("2024-01-30 00:00:00"), 2L),
      ("user", "u2", "a", 3.0, ts("2024-01-01 00:00:00"), 3L)
    ).toDF("entity_type", "entity_id", "feature_name", "value_float",
           "event_time", "commit_id")
    val view = Registry.makeView("v", "user", 1, Seq("a", "b"))
    val out = Validation.validateView(recs, view, "2024-02-01 00:00:00",
      Map("a" -> 7L * 86400000L, "b" -> 7L * 86400000L)).head()

    assert(out.getAs[Boolean]("schema_ok"))
    assert(out.getAs[Long]("n_entities") == 2L)
    assert(out.getAs[Int]("vector_length") == 2)
    assert(out.getAs[Double]("default_fill_rate") == 0.25) // 1 of 4 slots
    assert(out.getAs[Double]("stale_rate") == 0.25)        // u2.a is 31d old
    assert(out.getAs[Boolean]("validation_pass"))
  }

  test("validateView: schema mismatch fails the gate") {
    val recs = Seq(
      ("user", "u1", "a", 1.0, ts("2024-01-30 00:00:00"), 1L)
    ).toDF("entity_type", "entity_id", "feature_name", "value_float",
           "event_time", "commit_id")
    // view declares features (a, b) but the data only ever has 'a'
    val view = Registry.makeView("v", "user", 1, Seq("a", "b"))
    val out = Validation.validateView(recs, view, "2024-02-01 00:00:00",
      Map.empty).head()
    assert(!out.getAs[Boolean]("schema_ok"))
    assert(!out.getAs[Boolean]("validation_pass"))
  }

  test("batchLookupWithWarnings: stale + default slots flagged") {
    import graft.online.OnlineStore
    val recs = Seq(
      ("user", "u1", "a", 1.0, ts("2024-01-31 00:00:00"), 1L), // fresh
      ("user", "u1", "b", 2.0, ts("2024-01-01 00:00:00"), 2L), // stale
      ("user", "u2", "a", 3.0, ts("2024-01-31 00:00:00"), 3L)  // b missing
    ).toDF("entity_type", "entity_id", "feature_name", "value_float",
           "event_time", "commit_id")
    val keys = Seq("u1", "u2", "u404").toDF("entity_id")
    val out = OnlineStore.batchLookupWithWarnings(recs, keys, Seq("a", "b"),
      0.0, "2024-02-01 00:00:00", maxAgeMs = 7L * 86400000L)
      .collect().map(r => r.getAs[String]("entity_id") -> r).toMap
    assert(out.size == 2) // u404 is a complete miss → no row
    assert(out("u1").getAs[Long]("n_stale") == 1L)  // b is 31d old
    assert(out("u1").getAs[Long]("n_default") == 0L)
    assert(out("u2").getAs[Long]("n_default") == 1L)
    assert(out("u2").getAs[Double]("f_b") == 0.0)
    assert(out("u2").getAs[Long]("age_ms_b") == -1L)
    assert(out("u1").getAs[Boolean]("warn") && out("u2").getAs[Boolean]("warn"))
  }

  // one published snapshot shared by the pointLookup tests: 512
  // entities over 32 buckets / 16 files
  private lazy val shapeSnapshot = {
    import graft.online.OnlineStore
    val vectors = (0 until 512)
      .map(i => (s"u$i", i.toDouble, i * 2.0))
      .toDF("entity_id", "f_a", "f_b")
    val root = java.nio.file.Files
      .createTempDirectory("pointlk").toString + "/snap"
    OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 32, numFiles = 16)
    (vectors, root)
  }

  test("pointLookup: file-pruned multi-get equals the broadcast batch lookup") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // a 3-key batch must open a strict subset of files — on a fresh
    // publish no more than the buckets it touches — and return
    // exactly batchLookup
    val (vectors, root) = shapeSnapshot
    val allFiles = VersionedStore.read(spark, root).inputFiles.toSet
    assert(allFiles.size >= 8, s"expected ~16 files, got ${allFiles.size}")
    val keys = Seq("u7", "u300", "u999").toDF("entity_id") // u999 missing
    val served = OnlineStore.pointLookup(spark, root, keys)
    val opened = served.inputFiles.toSet
    assert(opened.nonEmpty && opened.subsetOf(allFiles))
    val buckets = keys.select(
        pmod(xxhash64(col("entity_id").cast("string")), lit(32L)))
      .distinct().count()
    assert(opened.size <= buckets,
      s"3-key batch must prune: opened ${opened.size}/${allFiles.size} " +
        s"files for $buckets buckets")
    val expected = OnlineStore.batchLookup(vectors, keys)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(served.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet == expected, "point lookup must equal the broadcast lookup")
    assert(expected.size == 2, "missing key yields no row")
  }

  test("pointLookup: a 3-key local batch runs at most two Spark jobs") {
    import graft.online.OnlineStore
    val (_, root) = shapeSnapshot
    val keys = Seq("u7", "u300", "u999").toDF("entity_id")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try {
        val r = OnlineStore.pointLookup(spark, root, keys).collect()
        org.apache.spark.GraftSparkTestAccess
          .waitListenerBusEmpty(spark.sparkContext, 30000)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(rows.map(_.getString(0)).toSet == Set("u7", "u300"))
    assert(jobs.get() <= 2,
      s"a local key batch must cost the broadcast and the scan, ran ${jobs.get()} jobs")
  }

  test("pointLookup: duplicate, null, empty and distributed key batches equal batchLookup") {
    import graft.online.OnlineStore
    import org.apache.spark.sql.functions.{col, concat, lit}
    val (vectors, root) = shapeSnapshot
    val batches = Seq(
      "duplicates" -> Seq("u7", "u7", "u300", "u7", "u999").toDF("entity_id"),
      "null" -> Seq(Some("u7"), None, Some("u42")).toDF("entity_id"),
      "empty" -> Seq.empty[String].toDF("entity_id"),
      "distributed" -> spark.range(0, 600, 7)
        .select(concat(lit("u"), col("id")).as("entity_id")))
    batches.foreach { case (name, keys) =>
      val got = OnlineStore.pointLookup(spark, root, keys)
      val want = OnlineStore.batchLookup(vectors, keys)
      assert(got.columns.toSeq == want.columns.toSeq &&
        got.columns.head == "entity_id",
        s"$name: columns ${got.columns.mkString(",")}")
      val g = got.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
      val w = want.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
      assert(g == w, s"$name: pointLookup must equal batchLookup")
    }
  }

  test("upsertSnapshot: merge refresh serves new values; compact restores pruning") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    val vectors = (0 until 256)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("snapup").toString + "/snap"
    OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 32, numFiles = 8)
    val filesBefore = VersionedStore.read(spark, root).inputFiles.toSet
    // update one entity, insert a new one
    OnlineStore.upsertSnapshot(
      Seq(("u7", -1.0), ("u9999", 42.0)).toDF("entity_id", "f_a"), root)
    // partial copy-on-write: merging on the numeric bucket prunes, so
    // the files NOT containing the two touched buckets carry over
    // untouched (a string-key-only merge would rewrite all 8)
    val filesAfter = VersionedStore.read(spark, root).inputFiles.toSet
    assert((filesBefore & filesAfter).size >= filesBefore.size - 3,
      s"merge must carry untouched files: kept " +
        s"${(filesBefore & filesAfter).size} of ${filesBefore.size}")
    val keys = Seq("u7", "u9999", "u3").toDF("entity_id")
    val got = OnlineStore.pointLookup(spark, root, keys)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("u7" -> -1.0, "u9999" -> 42.0, "u3" -> 3.0),
      s"merge refresh must serve updated + inserted + untouched: $got")
    // compaction restores layout and changes nothing observable
    OnlineStore.compactSnapshot(spark, root, numFiles = 8)
    val after = OnlineStore.pointLookup(spark, root, keys)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(after == got)
    assert(VersionedStore.read(spark, root).inputFiles.length <= 8)
  }

  test("deleteSnapshotKeys: retracted entities stop resolving; pruned rewrite; history intact") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    val vectors = (0 until 256)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("snapdel").toString + "/snap"
    val v0 = OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 32, numFiles = 8)
    val filesBefore = VersionedStore.read(spark, root).inputFiles.toSet
    OnlineStore.deleteSnapshotKeys(
      Seq("u7", "u8", "u9999").toDF("entity_id"), root) // u9999 absent
    // partial copy-on-write on the numeric bucket, like upserts
    val filesAfter = VersionedStore.read(spark, root).inputFiles.toSet
    assert((filesBefore & filesAfter).size >= filesBefore.size - 3,
      s"delete must carry untouched files: kept " +
        s"${(filesBefore & filesAfter).size} of ${filesBefore.size}")
    val got = OnlineStore.pointLookup(spark, root,
        Seq("u7", "u8", "u3").toDF("entity_id"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("u3" -> 3.0),
      s"deleted entities must stop resolving: $got")
    // the pre-deletion snapshot remains time-travelable (vacuum is
    // the compliance step that retires it)
    assert(VersionedStore.read(spark, root, v0).count() == 256)
    assert(VersionedStore.read(spark, root).count() == 254)
  }

  test("metricGate: thresholds enforced") {
    assert(Validation.metricGate(
      Map("auc" -> 0.91, "pr_auc" -> 0.5), Map("auc" -> 0.9)))
    assert(!Validation.metricGate(
      Map("auc" -> 0.85), Map("auc" -> 0.9)))
    assert(!Validation.metricGate(Map.empty, Map("auc" -> 0.9)))
  }

  test("validateCorpus: dup/null/short/coverage gates, absent lang observes 0") {
    val docs = Seq(
      (1L, "a b c d e", "en"),
      (2L, "a b c d e", "en"), // exact dup of 1
      (3L, null.asInstanceOf[String], "de"), // null text: null gate only
      (4L, "x y", "en"),       // short at minWords=3
      (5L, "p q r s t", "de")
    ).toDF("doc_id", "text", "lang")
    val out = Validation.validateCorpus(docs, "doc_id", "text", "lang",
        Validation.CorpusGates(maxExactDupFrac = 0.1, maxShortFrac = 0.5,
          minWords = 3, maxNullTextFrac = 0.1,
          minLangCoverage = Map("en" -> 0.5, "ru" -> 0.1)))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // 4 non-null docs, 3 distinct texts → dup frac 0.25 > 0.1
    assert(out("exact_dup_frac") == ((0.25, 0.1, false)))
    assert(out("null_text_frac") == ((0.2, 0.1, false)))
    // only doc 4 is short: the null doc is NOT counted here
    assert(out("short_frac") == ((0.2, 0.5, true)))
    assert(out("lang_coverage:en") == ((0.6, 0.5, true)))
    assert(out("lang_coverage:ru") == ((0.0, 0.1, false)))
    assert(out.size == 5)
  }
}
