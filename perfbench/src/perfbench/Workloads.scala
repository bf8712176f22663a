package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.offline.{OfflineStore, TrainingExport, VersionedStore}
import graft.online.OnlineStore
import graft.operators.{AsofJoin, Curate}
import graft.registry.Registry
import graft.stats.Profiler
import graft.validation.Validation

/** One timed operation. `round` numbers the workload's repeating unit
  * (a build and a curation, a rotation of lookups, a write round), so
  * rates are taken over whole rounds only. */
final case class Op(kind: String, seconds: Double, cpuSeconds: Double,
                    items: Long, round: Int)

/** A metric for the human-readable report. */
final case class Reported(name: String, value: Double, unit: String,
                          better: String, n: Int)

/** State shared by the driver loop and a workload. */
final class Ctx(val seed: Long, val root: File,
                val startSession: () => SparkSession) {
  var spark: SparkSession = startSession()
  var tracer: Tracer = new Tracer(spark)
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def path(name: String): String = new File(root, name).getPath

  /** Counts one checked operation; it fails if `ok` is false. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  /** Stops the session and starts a new one in the same process. */
  def restartSession(): Unit = {
    spark.stop()
    spark = startSession()
    tracer = new Tracer(spark)
  }
}

abstract class Workload(val ctx: Ctx) {
  val ops = ArrayBuffer.empty[Op]

  /** Builds the workload's state under a fresh directory: generates and
    * writes the inputs, prepares what the operations read through graft,
    * then runs the workload's operations untimed and unchecked, so JIT
    * and first-use costs land in set-up, not in the measured phase. */
  def setup(): Unit
  /** Computes what the output checks compare against; runs after set-up,
    * outside every timed window. */
  def references(): Unit = ()
  /** Runs the next timed operation and appends it to [[ops]]. */
  def step(opId: Int): Unit
  /** Rounds that every run completes. Figures that would otherwise grow
    * with the number of rounds a run fits in (the heap peak, the store
    * footprint) are taken over these rounds only. */
  def fixedRounds: Int = 1
  /** Checks that run once after the measured phase. */
  def finish(): Unit = ()
  /** Op kinds whose items count toward the item rates. */
  def itemKinds: Set[String]
  /** Workload-specific end-to-end metrics for the report. */
  def report(): Seq[Reported]
  /** Layer metrics from the traced operations; absent names read 0. */
  def layers(): Map[String, Double]
  /** Number of completed rounds. */
  def roundsDone: Int

  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  /** CPU seconds spent in the last [[timed]] body, see [[Cpu]]. */
  protected var lastCpuS = 0.0

  protected def timed[T](body: => T): (T, Double) = {
    val c0 = Cpu.threads()
    val t0 = System.nanoTime()
    val out = body
    val secs = (System.nanoTime() - t0) / 1e9
    lastCpuS = Cpu.since(c0)
    (out, secs)
  }

  protected def rm(p: String): Unit = Files.delete(new File(p))

  def completeRoundOps: Seq[Op] = ops.toSeq.filter(_.round < roundsDone)

  /** Some operations of an unfinished round have run. */
  def midRound: Boolean = ops.nonEmpty && ops.last.round >= roundsDone

  private def itemsPer(cost: Op => Double): Double = {
    val done = completeRoundOps
    Stats.ratio(done.filter(o => itemKinds(o.kind)).map(_.items).sum.toDouble,
      done.map(cost).sum)
  }
  /** Items per wall second over complete rounds. */
  def itemsPerSecond: Double = itemsPer(_.seconds)
  /** Items per CPU second over complete rounds. */
  def itemsPerCpuSecond: Double = itemsPer(_.cpuSeconds)

  def p50ms(kind: String): Double =
    Stats.median(ops.toSeq.filter(_.kind == kind).map(_.seconds)) * 1e3

  /** Median latency over every measured operation, whatever its kind. */
  def opP50ms: Double = Stats.median(ops.toSeq.map(_.seconds)) * 1e3
  /** Median CPU seconds over every measured operation. */
  def opCpuP50s: Double = Stats.median(ops.toSeq.map(_.cpuSeconds))

  protected def count(kind: String): Int = ops.count(_.kind == kind)

  // ---- shared layer arithmetic over recorded spans ----
  /** Recorded spans named `name` inside measured operations. */
  protected def measured(name: String): Seq[SpanStat] =
    tracer.stats(name).filter(_.span.opId > 0)

  protected def sum(xs: Seq[SpanStat])(f: SpanStat => Double): Double =
    xs.map(f).sum
  protected def perCall(xs: Seq[SpanStat])(f: SpanStat => Double): Double =
    Stats.ratio(sum(xs)(f), xs.size)
  /** Wall time of `name` spans as a share of the traced ops' wall time. */
  protected def wallShare(name: String, opKinds: Set[String]): Double =
    Stats.ratio(sum(measured(name))(_.wallS),
      opKinds.toSeq.flatMap(k => measured(s"op.$k")).map(_.wallS).sum)
}

/** CPU time of the JVM's threads that do the program's work: every Java
  * thread (the client, Spark's scheduler and, in local mode, its executor
  * threads) and HotSpot's own GC and VM-operation threads. JIT compiler
  * threads are left out: their work varies from run to run and is not the
  * program's. HotSpot's threads are read through its internal thread
  * bean, which needs `--add-exports java.management/sun.management=ALL-UNNAMED`. */
object Cpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  private val vmBean =
    Class.forName("sun.management.ManagementFactoryHelper")
      .getMethod("getHotspotThreadMBean").invoke(null)
  private val vmTimes = Class.forName("sun.management.HotspotThreadMBean")
    .getMethod("getInternalThreadCpuTimes")

  private def jit(name: String): Boolean =
    name.contains("CompilerThread") || name.startsWith("Sweeper")

  /** CPU nanoseconds by thread. */
  def threads(): Map[String, Long] = {
    val javaThreads = mx.getAllThreadIds.map(id => s"java-$id" -> mx.getThreadCpuTime(id))
      .filter(_._2 >= 0)
    val vm = vmTimes.invoke(vmBean).asInstanceOf[java.util.Map[String, java.lang.Long]]
      .asScala.collect { case (n, ns) if !jit(n) => s"vm-$n" -> ns.longValue }
    (javaThreads ++ vm).toMap
  }

  /** CPU seconds the threads spent since `before`; threads started
    * meanwhile count from zero. */
  def since(before: Map[String, Long]): Double =
    threads().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** CPU seconds of the whole process so far, JIT included. */
  def process(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
  def bytes(f: File): Long = walk(f).map(_.length).sum
  /** Parquet data files under `f`, by path, with their sizes. */
  def parquet(f: File): Map[String, Long] =
    walk(f).filter(_.getName.endsWith(".parquet"))
      .map(x => x.getPath -> x.length).toMap
}

// ---------------------------------------------------------------------
// corpus curation, shared by train_pit and corpus_curate
// ---------------------------------------------------------------------

/** Curation of a generated corpus: `Curate.corpus` against an eval set,
  * then `TrainingExport.exportShuffled` into 8 shards. */
trait Curating extends Workload {
  def nDocs: Int
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var evalDocs: DataFrame = _
  private var survivors = -1L
  private val shardBytes = ArrayBuffer.empty[Double]
  private val cfg = Curate.CurateConfig(decontamN = 8)

  protected def setupCorpus(): Unit = {
    rm(ctx.path("in/docs")); rm(ctx.path("in/eval"))
    corpus = Gen.corpus(Gen.rng(ctx.seed, -5), nDocs, nDocs / 50)
    Gen.writeDocs(spark, corpus.texts, 8, ctx.path("in/docs"))
    Gen.writeDocs(spark, corpus.evalTexts, 1, ctx.path("in/eval"))
    docs = spark.read.parquet(ctx.path("in/docs"))
    evalDocs = spark.read.parquet(ctx.path("in/eval"))
    survivors = -1L
  }

  /** One curation; with a negative `opId` a warm-up, neither checked nor
    * recorded. */
  protected def curate(opId: Int, round: Int): Unit = {
    val exportRoot = ctx.path("shards")
    val ((kept, rows), secs) = timed {
      tracer.span("op.curate", opId) {
        val kept = tracer.span("curate") {
          Curate.corpus(docs, "doc_id", "text", Some(evalDocs), cfg).localCheckpoint()
        }
        val rows = tracer.span("shard_export") {
          TrainingExport.exportShuffled(kept, exportRoot, "doc_id", 8)
        }
        (kept, rows)
      }
    }
    if (opId >= 0) {
      val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      if (survivors < 0) survivors = ids.size.toLong
      ctx.check("curate: an exact copy survived",
        !corpus.exactCopies.exists(i => ids(i.toLong)))
      ctx.check("curate: a contaminated doc survived",
        !corpus.contaminated.exists(i => ids(i.toLong)))
      ctx.check("curate: survivor count changed between iterations",
        ids.size == survivors)
      ctx.check("curate: export rows != survivors", rows == ids.size)
      shardBytes += Files.parquet(new File(exportRoot, "data")).values.sum
      ops += Op("curate", secs, lastCpuS, nDocs, round)
    }
  }

  protected def curateReported: Seq[Reported] = Seq(
    Reported("curate_docs_per_s",
      Stats.ratio(nDocs * count("curate").toDouble,
        ops.filter(_.kind == "curate").map(_.seconds).sum),
      "1/s", "higher", count("curate")),
    Reported("curate_survivors", survivors.toDouble, "count", "none", 1))

  protected def curateLayers(): Map[String, Double] = {
    val cs = measured("curate")
    val curates = Set("curate")
    Map(
      "curate.wall_share" -> wallShare("curate", curates),
      "curate.jobs" -> perCall(cs)(_.work.jobs.toDouble),
      "curate.stages" -> perCall(cs)(_.work.stages.toDouble),
      "curate.shuffle_write_bytes" -> perCall(cs)(_.work.shuffleWriteBytes.toDouble),
      "curate.spill_bytes" -> perCall(cs)(_.work.spillBytes.toDouble),
      "curate.task_skew" -> perCall(cs)(_.work.taskSkew),
      "curate.cpu_utilization" ->
        Stats.ratio(sum(cs)(_.work.executorCpuS), sum(cs)(_.wallS)),
      "curate.driver_share" -> Stats.ratio(sum(cs)(_.driverS), sum(cs)(_.wallS)),
      "shard_export.wall_share" -> wallShare("shard_export", curates),
      "shard_export.bytes_written" -> Stats.median(shardBytes.toSeq))
  }
}

// ---------------------------------------------------------------------
// train_pit: validate -> profile -> point-in-time join -> export, then a
// corpus curation
// ---------------------------------------------------------------------

final class TrainPit(c: Ctx) extends Workload(c) with Curating {
  val nEntities = 2000
  val nFeatures = 16
  val nRecords = 64000
  val historyDays = 90
  val nLabels = 3000
  val lookbackDays = 180
  val nSampled = 200
  val nDocs = 1500
  val default = -1.0

  private var rec: Records = _
  private var labelEnt: Array[Int] = _
  private var labelTs: Array[Long] = _
  private var labelVal: Array[Double] = _
  private var records: DataFrame = _
  private var labels: DataFrame = _
  private var sample: IndexedSeq[Int] = _
  private var expected: Map[Long, Array[Double]] = _
  private var featureCounts: Map[String, Long] = _
  private var featureMin: Map[String, Double] = _
  private var featureMax: Map[String, Double] = _
  private var entitiesSeen = 0
  private var expectedFill = 0.0
  private var ingestedFiles = 0
  private val exportFiles = ArrayBuffer.empty[Double]
  private val exportBytes = ArrayBuffer.empty[Double]
  private val view = Registry.makeView("activity", "user", 1, Gen.featureNames(16))
  private val asOf = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    .format(java.time.Instant.ofEpochMilli(Gen.T0 + 90 * Gen.DayMs))
  private val sla = Gen.featureNames(16).map(_ -> 30L * Gen.DayMs).toMap

  def itemKinds = Set("build", "curate")
  def roundsDone: Int = count("curate")
  private def store: String = ctx.path("offline")

  def setup(): Unit = {
    rm(ctx.path("in")); rm(store)
    val (seed, ne, nf, nr, days) =
      (ctx.seed, nEntities, nFeatures, nRecords, historyDays)
    rec = Gen.writeRecords(spark, 8, ctx.path("in/records"))(s =>
      Gen.skewedShard(seed, s, 8, ne, nf, nr, days))
    val (le, lt, lv) = Gen.labels(seed, nEntities, nLabels, 30, historyDays)
    labelEnt = le; labelTs = lt; labelVal = lv
    Gen.writeRows(spark, labelEnt.indices.map(i =>
        Row(Gen.entityId(labelEnt(i)), new Timestamp(labelTs(i)), i.toLong,
          labelVal(i))),
      StructType(Seq(StructField("entity_id", StringType),
        StructField("event_time", org.apache.spark.sql.types.TimestampType),
        StructField("label_id", org.apache.spark.sql.types.LongType),
        StructField("label", org.apache.spark.sql.types.DoubleType))),
      4, ctx.path("in/labels"))
    // the history becomes version 0 of an offline-store table, which
    // every build reads
    tracer.span("offline.ingest") {
      VersionedStore.create(spark.read.parquet(ctx.path("in/records")), store)
    }
    ingestedFiles = Files.parquet(new File(store)).size
    records = VersionedStore.read(spark, store)
    labels = spark.read.parquet(ctx.path("in/labels"))
    setupCorpus()
    // two rounds: after one, the JIT is still speeding up the classes
    // Spark generates for them
    (1 to 2).foreach { _ => build(-1); curate(-1, -1) }
  }

  override def references(): Unit = {
    sample = Gen.permutation(nLabels, Gen.rng(ctx.seed, -3)).take(nSampled).toIndexedSeq
    expected = expectedFeatures()
    val names = rec.features
    featureCounts = rec.feat.groupBy(identity).map { case (f, xs) =>
      names(f) -> xs.length.toLong }
    val byFeat = rec.feat.indices.groupBy(rec.feat(_))
    featureMin = byFeat.map { case (f, is) => names(f) -> is.map(rec.value).min }
    featureMax = byFeat.map { case (f, is) => names(f) -> is.map(rec.value).max }
    val perEntity = rec.ent.indices.groupBy(rec.ent(_))
      .map { case (_, is) => is.map(rec.feat).distinct.size }
    entitiesSeen = perEntity.size
    expectedFill = (entitiesSeen * nFeatures - perEntity.sum).toDouble /
      (entitiesSeen * nFeatures)
  }

  /** The reference semantics, driver-side: per (entity, feature) a
    * TreeMap by time; floorEntry at the label time inside the lookback,
    * the greatest value on equal timestamps, else the default. */
  private def expectedFeatures(): Map[Long, Array[Double]] = {
    val ents = sample.map(labelEnt).toSet
    val hist = mutable.Map.empty[(Int, Int), java.util.TreeMap[Long, Double]]
    var i = 0
    while (i < rec.size) {
      if (ents(rec.ent(i))) {
        val m = hist.getOrElseUpdate((rec.ent(i), rec.feat(i)),
          new java.util.TreeMap[Long, Double]())
        if (!m.containsKey(rec.ts(i)) || m.get(rec.ts(i)) < rec.value(i))
          m.put(rec.ts(i), rec.value(i))
      }
      i += 1
    }
    sample.map { l =>
      val t = labelTs(l)
      l.toLong -> Array.tabulate(nFeatures) { f =>
        hist.get((labelEnt(l), f)).flatMap(m => Option(m.floorEntry(t)))
          .filter(_.getKey >= t - lookbackDays * Gen.DayMs)
          .map(_.getValue.doubleValue).getOrElse(default)
      }
    }.toMap
  }

  /** One build; with a negative `opId` a warm-up, neither checked nor
    * recorded. */
  private def build(opId: Int): Unit = {
    val exportRoot = ctx.path("export")
    val ((report, profile, manifest), secs) = timed {
      tracer.span("op.build", opId) {
        val report = tracer.span("validate") {
          Validation.validateView(records, view, asOf, sla).collect()
        }
        val profile = tracer.span("profile") {
          Profiler.profile(records, "feature_name", "value_float").collect()
        }
        val manifest = tracer.span("asof_export") {
          val pit = AsofJoin.pointInTime(records, labels, "entity_id",
            "event_time", "feature_name", "value_float", "label_id", "label",
            rec.features, default, lookbackDays)
          TrainingExport.exportDataset(pit, exportRoot, "entity_id")
        }
        (report, profile, manifest)
      }
    }
    if (opId >= 0) {
      val exported = manifest.trainRows + manifest.testRows
      val written = Files.parquet(new File(exportRoot, "data"))
      checkBuild(exportRoot, exported, report, profile)
      exportFiles += written.size
      exportBytes += written.values.sum
      ops += Op("build", secs, lastCpuS, exported, roundsDone)
    }
  }

  private def checkBuild(exportRoot: String, exported: Long, report: Array[Row],
                         profile: Array[Row]): Unit = {
    ctx.check("train_pit: manifest rows != label count", exported == nLabels)
    ctx.check("train_pit: validation report", report.length == 1 && {
      val r = report.head
      r.getAs[Boolean]("schema_ok") &&
        r.getAs[Long]("n_entities") == entitiesSeen &&
        r.getAs[Int]("vector_length") == nFeatures &&
        math.abs(r.getAs[Double]("default_fill_rate") - expectedFill) < 1e-6
    })
    ctx.check("train_pit: profile", profile.length == nFeatures &&
      profile.forall { r =>
        val f = r.getAs[String]("feature_name")
        r.getAs[Long]("n") == featureCounts(f) &&
          r.getAs[Double]("min_value") == featureMin(f) &&
          r.getAs[Double]("max_value") == featureMax(f)
      })
    val got = spark.read.parquet(new File(exportRoot, "data").getPath)
      .where(col("label_id").isin(sample.map(_.toLong): _*)).collect()
    val wrong = got.iterator.flatMap { r =>
      val l = r.getAs[Long]("label_id")
      val want = expected(l)
      val cells = Seq("entity_id" -> (r.getAs[String]("entity_id"),
          Gen.entityId(labelEnt(l.toInt))),
        "label" -> (r.getAs[Double]("label"), labelVal(l.toInt))) ++
        rec.features.indices.map(f => s"f_${rec.features(f)}" ->
          (r.getAs[Double](s"f_${rec.features(f)}"), want(f)))
      cells.collectFirst { case (c, (g, w)) if g != w =>
        s"label $l $c: exported $g, expected $w" }
    }.toSeq
    ctx.check(s"train_pit: sampled point-in-time features: ${got.length} of " +
      s"$nSampled rows; ${wrong.size} wrong${wrong.headOption.fold("")("; " + _)}",
      got.length == nSampled && wrong.isEmpty)
  }

  def step(opId: Int): Unit =
    if (ops.lastOption.exists(_.kind == "build")) curate(opId, roundsDone)
    else build(opId)

  def report(): Seq[Reported] = Seq(
    Reported("train_rows_per_s",
      Stats.ratio(nLabels * count("build").toDouble,
        ops.filter(_.kind == "build").map(_.seconds).sum),
      "1/s", "higher", count("build"))) ++ curateReported

  def layers(): Map[String, Double] = {
    val builds = Set("build")
    val asof = measured("asof_export")
    val opWall = measured("op.build").map(_.wallS).sum
    val ingest = tracer.stats("offline.ingest")
    curateLayers() ++ Map(
      "offline.ingest.setup_share" ->
        Stats.ratio(sum(ingest)(_.wallS), tracer.stats("setup").map(_.wallS).sum),
      "offline.ingest.files_written" -> ingestedFiles.toDouble,
      "asof.map_stage_share" -> Stats.ratio(sum(asof)(_.work.mapStageS), opWall),
      "asof.result_stage_share" ->
        Stats.ratio(sum(asof)(_.work.resultStageS), opWall),
      "asof.shuffle_write_bytes" -> perCall(asof)(_.work.shuffleWriteBytes.toDouble),
      "asof.spill_bytes" -> perCall(asof)(_.work.spillBytes.toDouble),
      "asof.task_skew" -> perCall(asof)(_.work.taskSkew),
      "asof.cpu_utilization" ->
        Stats.ratio(sum(asof)(_.work.executorCpuS), sum(asof)(_.wallS)),
      "export.wall_share" -> wallShare("asof_export", builds),
      "export.bytes_written" -> Stats.median(exportBytes.toSeq),
      "export.files_written" -> Stats.median(exportFiles.toSeq),
      "validate.wall_share" -> wallShare("validate", builds),
      "validate.jobs" -> perCall(measured("validate"))(_.work.jobs.toDouble),
      "profile.wall_share" -> wallShare("profile", builds),
      "profile.shuffle_write_bytes" ->
        perCall(measured("profile"))(_.work.shuffleWriteBytes.toDouble),
      "profile.spill_bytes" ->
        perCall(measured("profile"))(_.work.spillBytes.toDouble))
  }
}

// ---------------------------------------------------------------------
// serve_read / serve_write: a published snapshot and point lookups
// ---------------------------------------------------------------------

abstract class Serving(c: Ctx) extends Workload(c) {
  val nEntities = 10000
  val nFeatures = 16
  val historyDays = 30
  val nBuckets = 256
  val nFiles = 64
  val default = 0.0

  protected def store: String = ctx.path("store")
  protected val features: IndexedSeq[String] = Gen.featureNames(nFeatures)
  /** The vector each entity should serve: 16 values, then n_default. */
  protected var truth: Array[Array[Double]] = _
  protected var truthDefaults: Array[Int] = _
  protected var rng: SplittableRandom = _
  private val keySchema = StructType(Seq(StructField("entity_id", StringType)))
  private var publishedFiles = 0

  /** Generates the history, materializes and publishes it. */
  protected def publish(): Unit = {
    rm(ctx.path("in")); rm(store)
    val (seed, ne, nf, days) = (ctx.seed, nEntities, nFeatures, historyDays)
    val rec = Gen.writeRecords(spark, 8, ctx.path("in/records"))(s =>
      Gen.snapshotShard(seed, s, 8, ne, nf, days))
    rng = Gen.rng(seed, -4)
    val records = spark.read.parquet(ctx.path("in/records"))
    val vectors = tracer.span("offline.materialize") {
      OfflineStore.materializeVectors(records, features, default).localCheckpoint()
    }
    tracer.span("online.publish") {
      OnlineStore.publishSnapshot(vectors, store, "entity_id", nBuckets, nFiles)
    }
    publishedFiles = Files.parquet(new File(store)).size
    // latest value per (entity, feature) by (event_time, commit_id)
    truth = Array.fill(nEntities)(Array.fill(nFeatures)(default))
    val latest = Array.fill(nEntities, nFeatures)(Long.MinValue)
    truthDefaults = Array.fill(nEntities)(nFeatures)
    var i = 0
    while (i < rec.size) {
      val e = rec.ent(i); val f = rec.feat(i)
      if (latest(e)(f) == Long.MinValue) truthDefaults(e) -= 1
      if (rec.ts(i) >= latest(e)(f)) {
        latest(e)(f) = rec.ts(i); truth(e)(f) = rec.value(i)
      }
      i += 1
    }
  }

  /** One pointLookup of `keys` (entity indexes), checked against
    * [[truth]] unless it is a warm-up; recorded when `opId` >= 0. */
  protected def lookup(kind: String, keys: Seq[Int], opId: Int,
                       checked: Boolean = true): Unit = {
    val keyDf = spark.createDataFrame(
      keys.map(k => Row(Gen.entityId(k))).asJava, keySchema)
    val (rows, secs) = timed {
      tracer.span(s"op.$kind", opId) {
        tracer.span("online.lookup") {
          OnlineStore.pointLookup(spark, store, keyDf).collect()
        }
      }
    }
    if (checked) {
      val want = keys.distinct
      val byId = rows.map(r => r.getAs[String]("entity_id") -> r).toMap
      ctx.check(s"$kind: lookup returned wrong rows or values",
        rows.length == want.size && want.forall { k =>
          byId.get(Gen.entityId(k)).exists { r =>
            r.getAs[Int]("n_default") == truthDefaults(k) &&
              features.indices.forall(f => r.getAs[Double](s"f_${features(f)}") ==
                truth(k)(f))
          }
        })
    }
    if (opId >= 0) ops += Op(kind, secs, lastCpuS, rows.length, round)
  }

  protected def round: Int

  /** Per-call cost of the lookup layer, shared by both serve workloads. */
  protected def lookupLayer(): Map[String, Double] = {
    val l = measured("online.lookup")
    val returned = ops.filter(o => o.kind.startsWith("lookup") || o.kind == "ryw")
      .map(_.items).sum
    Map(
      "online.lookup.jobs_per_call" -> perCall(l)(_.work.jobs.toDouble),
      "online.lookup.stages_per_call" -> perCall(l)(_.work.stages.toDouble),
      "online.lookup.tasks_per_call" -> perCall(l)(_.work.tasks.toDouble),
      "online.lookup.files_read_per_call" -> perCall(l)(_.work.filesRead.toDouble),
      "online.lookup.rows_scanned_per_row_returned" ->
        Stats.ratio(sum(l)(_.work.rowsScanned.toDouble), returned.toDouble),
      "online.lookup.driver_share" ->
        Stats.ratio(sum(l)(_.driverS), sum(l)(_.wallS)))
  }

  protected def setupLayers(): Map[String, Double] = {
    val setups = tracer.stats("setup").map(_.wallS).sum
    val mat = tracer.stats("offline.materialize")
    val pub = tracer.stats("online.publish")
    // set-up spans all carry op id 0
    Map(
      "offline.materialize.setup_share" -> Stats.ratio(sum(mat)(_.wallS), setups),
      "offline.materialize.shuffle_write_bytes" ->
        perCall(mat)(_.work.shuffleWriteBytes.toDouble),
      "online.publish.setup_share" -> Stats.ratio(sum(pub)(_.wallS), setups),
      "online.publish.files_written" -> publishedFiles.toDouble)
  }
}

/** Read-only multi-get: 1-, 100- and 10k-key batches in a fixed 16:4:1
  * rotation, keys drawn Zipf-skewed. */
final class ServeRead(c: Ctx) extends Serving(c) {
  private val rotation: IndexedSeq[Int] =
    (0 until 4).flatMap(_ => Seq(1, 1, 1, 1, 100)) :+ 10000
  private var hot: Array[Int] = _
  private val zipf = new Zipf(nEntities, 1.0)
  private var next = 0

  def itemKinds = Set("lookup_b1", "lookup_b100", "lookup_b10k")
  def roundsDone: Int = next / rotation.size
  protected def round: Int = (next - 1) / rotation.size

  private def keys(n: Int): Seq[Int] = Seq.fill(n)(hot(zipf.sample(rng)))

  private def kind(n: Int) = if (n == 10000) "lookup_b10k" else s"lookup_b$n"

  def setup(): Unit = {
    publish()
    hot = Gen.permutation(nEntities, rng)
    next = 0
    Seq(1, 100, 10000).foreach(n => lookup(kind(n), keys(n), -1, checked = false))
  }

  def step(opId: Int): Unit = {
    val n = rotation(next % rotation.size)
    next += 1
    lookup(kind(n), keys(n), opId)
  }

  def report(): Seq[Reported] = {
    val b1 = ops.filter(_.kind == "lookup_b1").map(_.seconds * 1e3).toSeq
    Seq(
      Reported("lookup_b1_p50_ms", p50ms("lookup_b1"), "ms", "lower", b1.size),
      Reported("lookup_b1_p90_ms", Stats.quantile(b1, 0.9), "ms", "lower", b1.size),
      Reported("lookup_b100_p50_ms", p50ms("lookup_b100"), "ms", "lower",
        count("lookup_b100")),
      Reported("lookup_b10k_p50_ms", p50ms("lookup_b10k"), "ms", "lower",
        count("lookup_b10k")),
      Reported("lookup_keys_per_s", itemsPerSecond, "1/s", "higher",
        completeRoundOps.size))
  }

  def layers(): Map[String, Double] = lookupLayer() ++ setupLayers()
}

/** Reads beside writes: each round upserts 1,000 changed vectors, runs
  * four 100-key lookups and a read-your-writes lookup of the upserted
  * keys, then compacts the snapshot. Every run completes two rounds; the
  * store's footprint is taken after the second. */
final class ServeWrite(c: Ctx) extends Serving(c) {
  val upsertSize = 1000
  private var phase = 0
  private val acknowledged = mutable.LinkedHashSet.empty[Int]
  private var lastUpsert: Seq[Int] = Nil
  private var bytesByUpserts, bytesByCompactions, bytesUpdatesAlone = 0L
  private val upsertFiles = ArrayBuffer.empty[Int]
  private val upsertBytes = ArrayBuffer.empty[Long]
  private val compactBytes = ArrayBuffer.empty[Long]
  private var footprint: Option[(Double, Map[String, Double])] = None
  private var schema: StructType = _

  def itemKinds = Set("upsert")
  def roundsDone: Int = count("compact")
  protected def round: Int = count("compact")
  override def fixedRounds: Int = 2

  def setup(): Unit = {
    publish()
    schema = StructType(VersionedStore.schemaOf(spark, store).fields
      .filterNot(_.name.startsWith("_kb_")))
    acknowledged.clear()
    // one whole round, so the measured rounds start from a compacted
    // store, as every later round does
    upsert(-1)
    (1 to 4).foreach(_ => lookup("lookup_b100", uniform(100), -1, checked = false))
    lookup("ryw", lastUpsert, -1, checked = false)
    compact(-1)
    phase = 0
    bytesByUpserts = 0; bytesByCompactions = 0; bytesUpdatesAlone = 0
    footprint = None
  }

  private def uniform(n: Int): Seq[Int] = Seq.fill(n)(rng.nextInt(nEntities))

  private def upsert(opId: Int): Unit = {
    val keys = Gen.permutation(nEntities, rng).take(upsertSize).toSeq
    val vectors = keys.map(_ =>
      Array.fill(nFeatures)(math.rint(rng.nextDouble() * 100000) / 100))
    val rows = keys.zip(vectors).map { case (k, v) =>
      Row.fromSeq(schema.fieldNames.toSeq.map {
        case "entity_id" => Gen.entityId(k)
        case "n_default" => 0
        case f => v(features.indexOf(f.stripPrefix("f_")))
      })
    }
    val updates = spark.createDataFrame(rows.asJava, schema)
    val before = Files.parquet(new File(store))
    val (_, secs) = timed {
      tracer.span("op.upsert", opId) {
        tracer.span("online.upsert") { OnlineStore.upsertSnapshot(updates, store) }
      }
    }
    // acknowledged: the commit returned
    keys.zip(vectors).foreach { case (k, v) =>
      truth(k) = v; truthDefaults(k) = 0; acknowledged += k }
    lastUpsert = keys
    val added = Files.parquet(new File(store)) -- before.keySet
    val alone = ctx.path("updates_alone")
    updates.write.parquet(alone)
    bytesUpdatesAlone += Files.parquet(new File(alone)).values.sum
    rm(alone)
    bytesByUpserts += added.values.sum
    if (opId >= 0) {
      upsertFiles += added.size
      upsertBytes += added.values.sum
      ops += Op("upsert", secs, lastCpuS, upsertSize, round)
      ctx.check("serve_write: snapshot row count != entity count",
        VersionedStore.rowCount(spark, store) == nEntities)
    }
  }

  private def compact(opId: Int): Unit = {
    val before = Files.parquet(new File(store))
    val (_, secs) = timed {
      tracer.span("op.compact", opId) {
        tracer.span("online.compact") {
          OnlineStore.compactSnapshot(spark, store, nFiles)
        }
      }
    }
    val added = (Files.parquet(new File(store)) -- before.keySet).values.sum
    bytesByCompactions += added
    if (opId >= 0) {
      ctx.check("serve_write: row count after compaction",
        VersionedStore.rowCount(spark, store) == nEntities)
      compactBytes += added
      ops += Op("compact", secs, lastCpuS, 0, round)
      if (roundsDone == fixedRounds) footprint = Some(storeFootprint())
    }
  }

  def step(opId: Int): Unit = {
    phase match {
      case 0 => upsert(opId)
      case p if p <= 4 => lookup("lookup_b100", uniform(100), opId)
      case 5 => lookup("ryw", lastUpsert, opId)
      case _ => compact(opId)
    }
    phase = (phase + 1) % 7
  }

  /** Space amplification (all bytes under the store root over the live
    * snapshot's) and the store counters. */
  private def storeFootprint(): (Double, Map[String, Double]) = {
    val live = VersionedStore.read(spark, store).inputFiles
      .map(u => new File(new java.net.URI(u))).toSeq
    val liveBytes = live.map(_.length).sum
    val total = Files.bytes(new File(store))
    (Stats.ratio(total.toDouble, liveBytes.toDouble), Map(
      "offline.store.versions" ->
        (VersionedStore.latestVersion(spark, store) + 1).toDouble,
      "offline.store.live_files" -> live.size.toDouble,
      "offline.store.total_bytes" -> total.toDouble,
      "offline.store.live_bytes" -> liveBytes.toDouble))
  }

  override def finish(): Unit = {
    // durability: a new session in the same process must serve every
    // acknowledged upsert (local FS through Hadoop, no fsync)
    ctx.restartSession()
    lookup("durability", acknowledged.toSeq, -1)
  }

  def report(): Seq[Reported] = Seq(
    Reported("upsert_p50_ms", p50ms("upsert"), "ms", "lower", count("upsert")),
    Reported("mixed_lookup_p50_ms", p50ms("lookup_b100"), "ms", "lower",
      count("lookup_b100")),
    Reported("write_amp",
      Stats.ratio((bytesByUpserts + bytesByCompactions).toDouble,
        bytesUpdatesAlone.toDouble), "ratio", "lower", count("upsert")),
    Reported("space_amp", footprint.get._1, "ratio", "lower", fixedRounds))

  def layers(): Map[String, Double] = {
    val u = measured("online.upsert")
    val rounds = Set("upsert", "lookup_b100", "ryw", "compact")
    lookupLayer() ++ setupLayers() ++ footprint.get._2 ++ Map(
      "online.upsert.files_rewritten_per_commit" ->
        Stats.median(upsertFiles.map(_.toDouble).toSeq),
      "online.upsert.bytes_written_per_commit" ->
        Stats.median(upsertBytes.map(_.toDouble).toSeq),
      "online.upsert.jobs_per_commit" -> perCall(u)(_.work.jobs.toDouble),
      "online.upsert.driver_share" -> Stats.ratio(sum(u)(_.driverS), sum(u)(_.wallS)),
      "online.compact.wall_share" -> wallShare("online.compact", rounds),
      "online.compact.bytes_written" -> Stats.median(compactBytes.map(_.toDouble).toSeq))
  }
}

// ---------------------------------------------------------------------
// corpus_curate: Curate.corpus, then a shuffled shard export
// ---------------------------------------------------------------------

final class CorpusCurate(c: Ctx) extends Workload(c) with Curating {
  val nDocs = 1500

  def itemKinds = Set("curate")
  def roundsDone: Int = count("curate")

  def setup(): Unit = {
    setupCorpus()
    curate(-1, -1)
  }

  def step(opId: Int): Unit = curate(opId, roundsDone)

  def report(): Seq[Reported] = curateReported

  def layers(): Map[String, Double] = curateLayers()
}

object Workloads {
  val names: Seq[String] =
    Seq("train_pit", "serve_write", "serve_read", "corpus_curate")
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "serve_write" => new ServeWrite(ctx)
    case "train_pit" => new TrainPit(ctx)
    case "serve_read" => new ServeRead(ctx)
    case "corpus_curate" => new CorpusCurate(ctx)
  }
}
