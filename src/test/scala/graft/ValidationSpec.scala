package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

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
  // entities over 32 buckets / 16 slots, one file per run of slots
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
    // a 3-key batch must open exactly the files whose bucket range
    // holds one of its buckets — no more than the buckets it touches —
    // and return exactly batchLookup
    val (vectors, root) = shapeSnapshot
    val kb = "_kb_entity_id_32"
    val allFiles = dataFiles(VersionedStore.read(spark, root))
    assert(allFiles.size == runsOf(16), s"one file per run, got ${allFiles.size}")
    val keys = Seq("u7", "u300", "u999").toDF("entity_id") // u999 missing
    val served = OnlineStore.pointLookup(spark, root, keys)
    val opened = dataFiles(served)
    val buckets = keys.select(
        pmod(xxhash64(col("entity_id").cast("string")), lit(32L)))
      .distinct().as[Long].collect().toSet
    val holding = bucketRanges(root, kb).collect {
      case (f, lo, hi) if buckets.exists(b => b >= lo && b <= hi) => f
    }.toSet
    assert(opened.nonEmpty && opened == holding && opened.size <= buckets.size,
      s"3-key batch must prune: opened ${opened.size}/${allFiles.size} " +
        s"files for ${buckets.size} buckets held by ${holding.size}")
    val expected = OnlineStore.batchLookup(vectors, keys)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(served.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet == expected, "point lookup must equal the broadcast lookup")
    assert(expected.size == 2, "missing key yields no row")
  }

  /** Spark jobs started while `body` runs, counted by a listener. */
  private def countJobs[T](body: => T): (T, Int) = {
    val (r, jobs, _) = countJobsAndStages(body)
    (r, jobs)
  }

  /** [[countJobs]], and the task counts of the stages completed, in
    * completion order. */
  private def countJobsAndStages[T](body: => T): (T, Int, Seq[Int]) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftSparkTestAccess
        .waitListenerBusEmpty(spark.sparkContext, 30000)
      (r, jobs.get(), stages.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pointLookup: a 3-key local batch runs at most two Spark jobs") {
    import graft.online.OnlineStore
    val (_, root) = shapeSnapshot
    val keys = Seq("u7", "u300", "u999").toDF("entity_id")
    val (rows, jobs) =
      countJobs(OnlineStore.pointLookup(spark, root, keys).collect())
    assert(rows.map(_.getString(0)).toSet == Set("u7", "u300"))
    assert(jobs <= 2,
      s"a local key batch must cost the broadcast and the scan, ran $jobs jobs")
  }

  test("pointLookup: a read keeping more than 32 files runs two jobs, no listing") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    // 64 single-bucket files (a snapshot past a read split per slot is
    // written one file per slot): a 100-key batch keeps about 50 of
    // them, past the 32 paths at which a path read lists files in a job
    val vectors = (0 until 1024)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("pointwide").toString + "/snap"
    withSplit("100b")(OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 64, numFiles = 64))
    assert(VersionedStore.read(spark, root).inputFiles.length == 64)
    val keys = (0 until 1024 by 10).map(i => s"u$i").toDF("entity_id")
    // counted from the call on: a path-based file index lists its
    // files when the frame is built, not when it runs
    val (rows, jobs) =
      countJobs(OnlineStore.pointLookup(spark, root, keys).collect())
    assert(jobs == 2, s"broadcast + pruned scan, ran $jobs jobs")
    val opened = OnlineStore.pointLookup(spark, root, keys).inputFiles.toSet
    assert(opened.size >= 33 &&
      opened.subsetOf(VersionedStore.read(spark, root).inputFiles.toSet),
      s"the batch must keep more than 32 files, kept ${opened.size}")
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSet ==
      OnlineStore.batchLookup(vectors, keys).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet)
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
    val v1 = OnlineStore.upsertSnapshot(
      Seq(("u7", -1.0), ("u9999", 42.0)).toDF("entity_id", "f_a"), root)
    // partial copy-on-write: merging on the numeric bucket prunes, so
    // the files of the runs NOT holding the two touched buckets carry
    // over untouched (a string-key-only merge would rewrite them all)
    val filesAfter = VersionedStore.read(spark, root).inputFiles.toSet
    assert((filesBefore & filesAfter).size >= filesBefore.size - 2,
      s"merge must carry untouched files: kept " +
        s"${(filesBefore & filesAfter).size} of ${filesBefore.size}")
    val keys = Seq("u7", "u9999", "u3").toDF("entity_id")
    val got = OnlineStore.pointLookup(spark, root, keys)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("u7" -> -1.0, "u9999" -> 42.0, "u3" -> 3.0),
      s"merge refresh must serve updated + inserted + untouched: $got")
    // the upsert kept the layout, so pruning needs no compaction: the
    // compaction commits nothing and changes nothing observable
    assertLaidOut(root, "_kb_entity_id_32", 32, 8)
    assert(OnlineStore.compactSnapshot(spark, root, numFiles = 8) == v1)
    val after = OnlineStore.pointLookup(spark, root, keys)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(after == got)
    assert(VersionedStore.read(spark, root).inputFiles.toSet == filesAfter)
  }

  test("upsertSnapshot: a local batch of at most 1,024 keys runs at most two jobs") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val vectors = (0 until 512)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("snapjobs").toString + "/snap"
    val v0 = OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 32, numFiles = 16)
    val before = VersionedStore.read(spark, root, v0)
    val fileSet = dataFiles(before)
    // the entities of half the buckets, one of them twice, a NULL key
    // and a new key: a few hundred rows that leave some files untouched
    val kb = "_kb_entity_id_32"
    val bucketOf = pmod(xxhash64(col("entity_id").cast("string")), lit(32L))
    val hot = vectors.select(col("entity_id"), bucketOf.as("b"))
      .where(col("b") < 16).select("entity_id").as[String].collect()
    val rows = hot.map(k => (Option(k), -1.0)).toSeq ++
      Seq((Some(hot(0)), -2.0), (None, 7.0), (Some("u9999"), 42.0))
    assert(rows.size <= 1024)
    val updates = rows.toDF("entity_id", "f_a")
    val (v1, jobs) = countJobs(OnlineStore.upsertSnapshot(updates, root))
    assert(jobs <= 2, s"an upsert of a local batch ran $jobs jobs")
    // the snapshot equals the anti-join + union reference over the
    // batch's non-NULL keys: a NULL-key row is dropped, never stored
    val keyed = updates.where(col("entity_id").isNotNull)
      .withColumn(kb, bucketOf)
    val want = before.join(keyed.select(kb, "entity_id"),
        Seq(kb, "entity_id"), "left_anti").unionByName(keyed)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("entity_id", "f_a", kb).collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
    assert(rowsOf(VersionedStore.read(spark, root, v1)) == rowsOf(want))
    // carried files: exactly those of the runs no update bucket falls
    // in; the layout holds
    val runs = keyed.select(kb).as[Long].collect()
      .map(b => runOf(b, 32, 16)).toSet
    val expectCarried = bucketRanges(root, kb, v0).collect {
      case (f, lo, _) if !runs(runOf(lo, 32, 16)) => f
    }.toSet
    val carried = fileSet & dataFiles(VersionedStore.read(spark, root, v1))
    assert(expectCarried.nonEmpty && carried == expectCarried,
      s"carried ${carried.size}, expected ${expectCarried.size} of ${fileSet.size}")
    assertLaidOut(root, kb, 32, 16)
    // upserting the same batch again stores no NULL-key row either
    val v2 = OnlineStore.upsertSnapshot(updates, root)
    assert(VersionedStore.read(spark, root, v2)
      .where(col("entity_id").isNull).count() == 0)
    assert(rowsOf(VersionedStore.read(spark, root, v2)) == rowsOf(want))
  }

  test("deleteSnapshotKeys: retracted entities stop resolving; pruned rewrite; history intact") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val vectors = (0 until 256)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("snapdel").toString + "/snap"
    val v0 = OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 32, numFiles = 8)
    val filesBefore = dataFiles(VersionedStore.read(spark, root))
    val deleted = Seq("u7", "u8", "u9999").toDF("entity_id") // u9999 absent
    OnlineStore.deleteSnapshotKeys(deleted, root)
    // partial copy-on-write on the numeric bucket, like upserts: only
    // the files whose bucket range holds a deleted key's bucket are
    // rewritten, and the layout holds
    val kb = "_kb_entity_id_32"
    val buckets = deleted.select(pmod(xxhash64(col("entity_id")), lit(32L)))
      .as[Long].collect().toSet
    val ids = Set("u7", "u8", "u9999")
    val expectCarried = fileRanges(root, kb, v0).collect {
      case (f, lo, hi, sLo, sHi) if !buckets.exists(b => b >= lo && b <= hi) ||
          !ids.exists(i => i >= sLo && i <= sHi) => f
    }.toSet
    val filesAfter = dataFiles(VersionedStore.read(spark, root))
    assert(expectCarried.nonEmpty && (filesBefore & filesAfter) == expectCarried,
      s"delete must carry untouched files: kept " +
        s"${(filesBefore & filesAfter).size} of ${filesBefore.size}")
    assertLaidOut(root, kb, 32, 8)
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

  // --- the serving layout: one file per non-empty run of slots ---------

  /** Runs of a small snapshot's layout of `numFiles` slots: one per
    * core, at most one per slot. */
  private def runsOf(numFiles: Int): Int =
    math.min(numFiles, spark.sparkContext.defaultParallelism)

  /** The run of bucket `b` in that layout. */
  private def runOf(b: Long, nBuckets: Int, numFiles: Int): Long =
    (b * numFiles / nBuckets) * runsOf(numFiles) / numFiles

  /** A data file's path below its table root: `input_file_name` and
    * `inputFiles` spell the same file's URI differently. */
  private def rel(path: String): String = path.substring(path.indexOf("/data/") + 1)

  private def dataFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(rel).toSet

  /** Per file of a version: its path below the table root and the least
    * and greatest bucket and entity it holds. */
  private def fileRanges(root: String, kb: String, version: Long = -1L)
  : Seq[(String, Long, Long, String, String)] = {
    import graft.offline.VersionedStore
    import org.apache.spark.sql.functions.{input_file_name, max, min}
    VersionedStore.read(spark, root, version)
      .groupBy(input_file_name()).agg(min(kb), max(kb), min("entity_id"),
        max("entity_id"))
      .collect().map(r => (rel(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
      .toSeq.sortBy(_._2)
  }

  private def bucketRanges(root: String, kb: String, version: Long = -1L)
  : Seq[(String, Long, Long)] =
    fileRanges(root, kb, version).map(r => (r._1, r._2, r._3))

  /** The serving layout of `numFiles` slots over `nBuckets` buckets in
    * the runs of a small snapshot: the manifest records it, every
    * file's bucket range lies inside one run, the ranges are pairwise
    * disjoint, no run holds two files, and every file holds rows. */
  private def assertLaidOut(root: String, kb: String, nBuckets: Int,
                            numFiles: Int): Unit = {
    import graft.offline.VersionedStore
    val head = VersionedStore.latestVersion(spark, root)
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(f"$root/_graft_log/v$head%08d.json"))
    val layout = manifest.get("layout")
    assert(layout != null, s"version $head records no layout")
    assert((layout.get("column").asText, layout.get("buckets").asInt,
      layout.get("count").asInt, layout.get("runs").asInt) ==
      ((kb, nBuckets, numFiles, runsOf(numFiles))), s"layout $layout")
    val ranges = bucketRanges(root, kb)
    assert(ranges.size == VersionedStore.read(spark, root).inputFiles.length,
      "every file holds rows")
    def run(b: Long) = runOf(b, nBuckets, numFiles)
    ranges.foreach { case (f, lo, hi) =>
      assert(run(lo) == run(hi), s"$f holds buckets $lo..$hi across runs")
    }
    ranges.zip(ranges.drop(1)).foreach { case (a, b) =>
      assert(a._3 < b._2, s"overlapping bucket ranges: $a, $b")
    }
    val runs = ranges.map(r => run(r._2))
    assert(runs.distinct.size == runs.size, s"a run holds two files: $runs")
  }

  /** `body` with a read split of `bytes`: a snapshot larger than a
    * split per slot is written one file per slot. */
  private def withSplit[T](bytes: String)(body: => T): T = {
    val split = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(split, bytes)
    try body finally spark.conf.unset(split)
  }

  /** Parquet files under `root`, by path. */
  private def parquetOnDisk(root: String): Set[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSet

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("serving layout: publish and upserts write one file per run, compaction writes nothing; rows equal batchLookup") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val vectors = (0 until 256)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("slotpub").toString + "/snap"
    val kb = "_kb_entity_id_32"
    val v0 = OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 32, numFiles = 8)
    assertLaidOut(root, kb, 32, 8)
    assert(VersionedStore.read(spark, root).inputFiles.length == runsOf(8))
    // the layout is no column of the snapshot and names no directory
    assert(VersionedStore.schemaOf(spark, root).fieldNames.toSeq ==
      Seq("entity_id", "f_a", kb))
    assert(!VersionedStore.read(spark, root).inputFiles.exists(_.contains("/slot=")))
    // a narrow upsert rewrites only its run's file, as that run's one file
    val before = dataFiles(VersionedStore.read(spark, root))
    val v1 = OnlineStore.upsertSnapshot(
      Seq(("u7", -1.0)).toDF("entity_id", "f_a"), root)
    val b7 = Seq("u7").toDF("entity_id")
      .select(pmod(xxhash64(col("entity_id")), lit(32L))).as[Long].head()
    val (run7, others) = bucketRanges(root, kb, v0)
      .partition(r => runOf(r._2, 32, 8) == runOf(b7, 32, 8))
    val after = dataFiles(VersionedStore.read(spark, root, v1))
    assert(before -- after == run7.map(_._1).toSet && run7.size == 1)
    assert((after -- before).size == 1 && others.map(_._1).toSet.subsetOf(after))
    assertLaidOut(root, kb, 32, 8)
    // a wider upsert, a new key included: the layout still holds, and a
    // lookup opens at most min(keys, runs) files
    OnlineStore.upsertSnapshot(Seq(("u8", -2.0), ("u9999", 42.0), ("u100", -3.0))
      .toDF("entity_id", "f_a"), root)
    assertLaidOut(root, kb, 32, 8)
    val want = vectors.where(!col("entity_id").isin("u7", "u8", "u100"))
      .unionByName(Seq(("u7", -1.0), ("u8", -2.0), ("u9999", 42.0), ("u100", -3.0))
        .toDF("entity_id", "f_a"))
    val two = Seq("u8", "u9999").toDF("entity_id")
    assert(OnlineStore.pointLookup(spark, root, two).inputFiles.length <=
      math.min(2, runsOf(8)))
    // compacting the laid-out head commits nothing and writes no file
    val head = VersionedStore.latestVersion(spark, root)
    val onDisk = parquetOnDisk(root)
    val (v, jobs) = countJobs(OnlineStore.compactSnapshot(spark, root, numFiles = 8))
    assert(v == head && jobs == 0 && parquetOnDisk(root) == onDisk)
    assert(VersionedStore.latestVersion(spark, root) == head)
    val keys = want.select("entity_id").unionByName(Seq("u404").toDF("entity_id"))
    assert(rowsOf(OnlineStore.pointLookup(spark, root, keys)) ==
      rowsOf(OnlineStore.batchLookup(want, keys)))
    assert(rowsOf(VersionedStore.read(spark, root).drop(kb)) == rowsOf(want))
    // a publish with no non-NULL key writes one file of no rows, yet
    // stays a readable snapshot that serves nothing
    val empty = root + "_empty"
    OnlineStore.publishSnapshot(Seq((None: Option[String], 1.0))
      .toDF("entity_id", "f_a"), empty, "entity_id", nBuckets = 32, numFiles = 8)
    assert(VersionedStore.read(spark, empty).inputFiles.length == 1)
    assert(OnlineStore.pointLookup(spark, empty, keys).count() == 0)
  }

  test("compactSnapshot: two jobs, a write stage of one task per core; one per slot past a read split per core") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    val vectors = (0 until 512)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("slotjobs").toString + "/snap"
    val kb = "_kb_entity_id_64"
    OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 64, numFiles = 64)
    val v1 = OnlineStore.upsertSnapshot(
      (0 until 300 by 3).map(i => (s"u$i", -1.0)).toDF("entity_id", "f_a"), root)
    // another slot count is another layout: the head is rewritten
    val (v2, jobs, stageTasks) =
      countJobsAndStages(OnlineStore.compactSnapshot(spark, root, numFiles = 32))
    val cores = spark.sparkContext.defaultParallelism
    assert(v2 == v1 + 1)
    assert(jobs <= 2, s"compaction ran $jobs jobs")
    assert(stageTasks.nonEmpty && stageTasks.last <= cores,
      s"the write stage ran ${stageTasks.last} tasks on $cores cores")
    assertLaidOut(root, kb, 64, 32)
    assert(VersionedStore.read(spark, root).inputFiles.length == runsOf(32))
    // a snapshot of more than a read split per core is written by one
    // task per slot, one file per slot
    val (v3, _, bigStages) =
      withSplit("256b")(countJobsAndStages(
        OnlineStore.compactSnapshot(spark, root, numFiles = 16)))
    assert(v3 == v2 + 1)
    assert(bigStages.last == 16,
      s"the write stage ran ${bigStages.last} tasks for 16 slots")
    val ranges = bucketRanges(root, kb)
    assert(ranges.size == 16 && ranges.forall(r => r._2 * 16 / 64 == r._3 * 16 / 64),
      s"one file per slot: $ranges")
    // and is kept so while it stays that large
    assert(withSplit("256b")(OnlineStore.compactSnapshot(spark, root, numFiles = 16)) == v3)
    assert(rowsOf(VersionedStore.read(spark, root)) ==
      rowsOf(VersionedStore.read(spark, root, v1)))
  }

  test("serving layout: a slotted snapshot time-travels, deletes keys, vacuums and diffs") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    val vectors = (0 until 256)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("slotlife").toString + "/snap"
    val kb = "_kb_entity_id_32"
    val v0 = OnlineStore.publishSnapshot(vectors, root, "entity_id",
      nBuckets = 32, numFiles = 8)
    val v1 = OnlineStore.upsertSnapshot(Seq(("u7", -1.0)).toDF("entity_id", "f_a"), root)
    val v2 = OnlineStore.compactSnapshot(spark, root, numFiles = 8)
    assert(v2 == v1, "the upsert kept the layout: nothing to compact")
    val v3 = OnlineStore.deleteSnapshotKeys(Seq("u8").toDF("entity_id"), root)
    assertLaidOut(root, kb, 32, 8)
    def served(keys: String*) = OnlineStore.pointLookup(spark, root,
        keys.toDF("entity_id"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(served("u7", "u8", "u3") == Map("u7" -> -1.0, "u3" -> 3.0))
    // time travel to the publish and the upsert
    assert(rowsOf(VersionedStore.read(spark, root, v0).drop(kb)) == rowsOf(vectors))
    assert(VersionedStore.read(spark, root, v1).count() == 256)
    val diff = VersionedStore.diffVersions(spark, root, "entity_id", v0, v3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diff == Map("u7" -> "changed", "u8" -> "removed"))
    // vacuum keeps the head; every parquet file left on disk is the head's
    assert(VersionedStore.vacuum(spark, root, keepVersions = 1) == Seq(0L, 1L))
    assert(parquetOnDisk(root + "/data").size ==
      VersionedStore.read(spark, root).inputFiles.length)
    assert(served("u7", "u8", "u3") == Map("u7" -> -1.0, "u3" -> 3.0))
  }

  test("serving layout: a flat snapshot reads, merges and compacts into slots") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // the flat layout a publish wrote before slots: range-partitioned
    // and sorted by bucket, one file per task
    val vectors = (0 until 256)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("slotflat").toString + "/snap"
    val kb = "_kb_entity_id_32"
    VersionedStore.overwrite(vectors
      .withColumn(kb, pmod(xxhash64(col("entity_id").cast("string")), lit(32L)))
      .repartitionByRange(8, col(kb)).sortWithinPartitions(kb), root)
    OnlineStore.upsertSnapshot(Seq(("u7", -1.0)).toDF("entity_id", "f_a"), root)
    val merged = VersionedStore.latestVersion(spark, root)
    assert(OnlineStore.compactSnapshot(spark, root, numFiles = 8) == merged + 1)
    assertLaidOut(root, kb, 32, 8)
    val want = vectors.where(col("entity_id") =!= "u7")
      .unionByName(Seq(("u7", -1.0)).toDF("entity_id", "f_a"))
    assert(rowsOf(OnlineStore.pointLookup(spark, root, want.select("entity_id"))) ==
      rowsOf(want))
  }

  test("serving layout: a store of one file per slot directory reads, merges and compacts into runs") {
    import graft.online.OnlineStore
    import graft.offline.VersionedStore
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // the layout publishes wrote before runs: one file per non-empty
    // slot in a hidden slot=N/ directory, a manifest with per-file
    // bucket ranges and no recorded layout
    val vectors = (0 until 256)
      .map(i => (s"u$i", i.toDouble)).toDF("entity_id", "f_a")
    val root = java.nio.file.Files
      .createTempDirectory("slotdirs").toString + "/snap"
    val kb = "_kb_entity_id_32"
    val bucketed = vectors
      .withColumn(kb, pmod(xxhash64(col("entity_id").cast("string")), lit(32L)))
    bucketed.withColumn("slot", (col(kb) * 8 / 32).cast("int"))
      .repartition(col("slot")).sortWithinPartitions(kb)
      .write.partitionBy("slot").parquet(s"$root/data/old")
    val files = parquetOnDisk(s"$root/data").toSeq.sorted
      .map(_.stripPrefix(s"$root/"))
    assert(files.size == 8 && files.forall(_.contains("/slot=")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.createObjectNode()
    manifest.put("version", 0L).put("op", "overwrite")
      .put("rows", 256L).put("schema", bucketed.schema.json).put("ts", 0L)
    val names = manifest.putArray("files")
    val stats = manifest.putObject("stats")
    files.foreach { f =>
      names.add(f)
      val r = spark.read.parquet(s"$root/$f")
        .agg(org.apache.spark.sql.functions.min(kb),
          org.apache.spark.sql.functions.max(kb)).head()
      stats.putObject(f).putArray(kb).add(r.getLong(0).toDouble)
        .add(r.getLong(1).toDouble)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_graft_log"))
    mapper.writeValue(new java.io.File(s"$root/_graft_log/v00000000.json"), manifest)
    // reads
    assert(rowsOf(VersionedStore.read(spark, root).drop(kb)) == rowsOf(vectors))
    val some = Seq("u7", "u8", "u200").toDF("entity_id")
    assert(rowsOf(OnlineStore.pointLookup(spark, root, some)) ==
      rowsOf(OnlineStore.batchLookup(vectors, some)))
    // merges: pruned by the recorded ranges, no layout recorded
    val v1 = OnlineStore.upsertSnapshot(Seq(("u7", -1.0)).toDF("entity_id", "f_a"), root)
    val kept = VersionedStore.read(spark, root, v1).inputFiles
    assert(kept.count(_.contains("/slot=")) == 7)
    // compacts into runs, then keeps them
    val v2 = OnlineStore.compactSnapshot(spark, root, numFiles = 8)
    assert(v2 == v1 + 1)
    assertLaidOut(root, kb, 32, 8)
    assert(!VersionedStore.read(spark, root).inputFiles.exists(_.contains("/slot=")))
    assert(OnlineStore.compactSnapshot(spark, root, numFiles = 8) == v2)
    val want = vectors.where(col("entity_id") =!= "u7")
      .unionByName(Seq(("u7", -1.0)).toDF("entity_id", "f_a"))
    assert(rowsOf(OnlineStore.pointLookup(spark, root, want.select("entity_id"))) ==
      rowsOf(want))
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
