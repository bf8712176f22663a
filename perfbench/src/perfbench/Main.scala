package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** Metric names and units; BENCHMARK.json lists the same. */
object Metrics {
  /** Printed on every untraced run, for every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "heap_peak_mb" -> "MB", "op_cpu_s" -> "s",
    "items_per_cpu_s" -> "1/s")

  private val engine = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.gc_s" -> "s", "op.wall_s" -> "s", "op.driver_s" -> "s",
    "op.executor_busy_s" -> "s", "op.executor_cpu_s" -> "s",
    "op.shuffle_write_bytes" -> "bytes", "op.spill_bytes" -> "bytes",
    "op.task_skew" -> "ratio", "trace.overhead_frac" -> "frac")
  private val layer = Seq(
    "offline.ingest.setup_share" -> "frac",
    "offline.ingest.files_written" -> "count",
    "online.lookup.jobs_per_call" -> "count",
    "online.lookup.stages_per_call" -> "count",
    "online.lookup.tasks_per_call" -> "count",
    "online.lookup.files_read_per_call" -> "count",
    "online.lookup.rows_scanned_per_row_returned" -> "ratio",
    "online.lookup.driver_share" -> "frac",
    "online.upsert.files_rewritten_per_commit" -> "count",
    "online.upsert.bytes_written_per_commit" -> "bytes",
    "online.upsert.jobs_per_commit" -> "count",
    "online.upsert.driver_share" -> "frac",
    "online.compact.wall_share" -> "frac",
    "online.compact.bytes_written" -> "bytes",
    "online.publish.setup_share" -> "frac",
    "online.publish.files_written" -> "count",
    "offline.store.versions" -> "count",
    "offline.store.live_files" -> "count",
    "offline.store.total_bytes" -> "bytes",
    "offline.store.live_bytes" -> "bytes",
    "offline.materialize.setup_share" -> "frac",
    "offline.materialize.shuffle_write_bytes" -> "bytes",
    "asof.map_stage_share" -> "frac",
    "asof.result_stage_share" -> "frac",
    "asof.shuffle_write_bytes" -> "bytes",
    "asof.spill_bytes" -> "bytes",
    "asof.task_skew" -> "ratio",
    "asof.cpu_utilization" -> "ratio",
    "export.wall_share" -> "frac",
    "export.bytes_written" -> "bytes",
    "export.files_written" -> "count",
    "shard_export.wall_share" -> "frac",
    "shard_export.bytes_written" -> "bytes",
    "validate.wall_share" -> "frac",
    "validate.jobs" -> "count",
    "profile.wall_share" -> "frac",
    "profile.shuffle_write_bytes" -> "bytes",
    "profile.spill_bytes" -> "bytes",
    "curate.wall_share" -> "frac",
    "curate.jobs" -> "count",
    "curate.stages" -> "count",
    "curate.shuffle_write_bytes" -> "bytes",
    "curate.spill_bytes" -> "bytes",
    "curate.task_skew" -> "ratio",
    "curate.cpu_utilization" -> "ratio",
    "curate.driver_share" -> "frac")
  /** Printed on every traced run, for every workload; a layer the
    * workload never calls reads 0. */
  val perLayer: Seq[(String, String)] = engine ++ layer
}

/** Runs one workload and prints its result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}`. */
object Main {
  private final case class Args(workload: String, seed: Long, seconds: Int,
                                trace: Boolean, workDir: File)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Workloads.names.contains(w), s"unknown workload $w")
    Args(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", new File(need("--work-dir")))
  }

  private def session(work: File, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val pid = ProcessHandle.current().pid()
    val root = new File(a.workDir, s"runs/${a.workload}-${a.seed}-$pid")
    var ctx: Ctx = null
    val code =
      try {
        Files.delete(root)
        root.mkdirs()
        ctx = new Ctx(a.seed, root, () => session(a.workDir, cores))
        run(a, ctx, cores)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        if (ctx != null) ctx.spark.stop()
        Files.delete(root)
      }
    sys.exit(code)
  }

  private def run(a: Args, ctx: Ctx, cores: Int): Unit = {
    val w = Workloads(a.workload, ctx)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionReadyS = sinceStart
    // set-up: process start to the end of the warm-up, in wall and CPU time
    ctx.tracer.recorded(a.trace) { ctx.tracer.span("setup", 0)(w.setup()) }
    val setupWallS = sinceStart
    val setupCpuS = Cpu.process()
    w.references()
    System.gc()
    val heap = new HeapWatch
    // measured phase: whole rounds until the time budget is spent, and
    // never fewer than the workload's fixed rounds. A full collection
    // before each op, outside its timing, starts every op from the live
    // set, so the heap peak is that of one op, not of the rounds so far.
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var opId = 1
    var heapPeakMb = 0.0
    val overhead0 = ctx.tracer.overheadS
    while (elapsed < a.seconds || w.roundsDone < w.fixedRounds || w.midRound) {
      System.gc()
      ctx.tracer.recorded(a.trace)(w.step(opId))
      opId += 1
      if (heapPeakMb == 0.0 && w.roundsDone == w.fixedRounds && !w.midRound)
        heapPeakMb = heap.peakMb()
    }
    val measuredS = elapsed
    heap.close()
    val ops = w.ops.toSeq
    val e2e = ListMap(
      "setup_s" -> setupCpuS,
      "heap_peak_mb" -> heapPeakMb,
      "op_cpu_s" -> w.opCpuP50s,
      "items_per_cpu_s" -> w.itemsPerCpuSecond)
    val reported = w.report()
    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val opStats = ctx.tracer.stats("op.", prefix = true).filter(_.span.opId > 0)
        def perOp(f: SpanStat => Double) = Stats.ratio(opStats.map(f).sum, opStats.size)
        Map(
          "spark.jobs" -> perOp(_.work.jobs.toDouble),
          "spark.stages" -> perOp(_.work.stages.toDouble),
          "spark.tasks" -> perOp(_.work.tasks.toDouble),
          "spark.gc_s" -> perOp(_.span.gcS),
          "op.wall_s" -> perOp(_.wallS),
          "op.driver_s" -> perOp(_.driverS),
          "op.executor_busy_s" -> perOp(_.busyS),
          "op.executor_cpu_s" -> perOp(_.work.executorCpuS),
          "op.shuffle_write_bytes" -> perOp(_.work.shuffleWriteBytes.toDouble),
          "op.spill_bytes" -> perOp(_.work.spillBytes.toDouble),
          "op.task_skew" -> perOp(_.work.taskSkew),
          "trace.overhead_frac" ->
            Stats.ratio(ctx.tracer.overheadS - overhead0, opStats.map(_.wallS).sum)
        ) ++ w.layers()
      }
    if (a.trace)
      ctx.tracer.writeJson(
        new File(a.workDir, s"traces/${a.workload}-${a.seed}.json"),
        ListMap("workload" -> a.workload, "seed" -> a.seed, "cores" -> cores))
    w.finish()

    // ---- report, then the result line ----
    val failedFrac = Stats.ratio(ctx.failed.toDouble, ctx.attempted.toDouble)
    println(f"# perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      f"cores=$cores ops=${ops.size} rounds=${w.roundsDone} measured_s=$measuredS%.2f " +
      f"session_ready_s=$sessionReadyS%.2f")
    def line(kind: String, name: String, v: Double, unit: String, better: String,
             n: String) =
      println(f"# $kind%-10s $name%-46s $v%14.4f $unit%-6s $better%-6s $n")
    Seq("setup_s" -> "lower", "heap_peak_mb" -> "lower", "op_cpu_s" -> "lower",
      "items_per_cpu_s" -> "higher").foreach { case (k, b) =>
      line("e2e", k, e2e(k), Metrics.endToEnd.toMap.apply(k), b, "")
    }
    line("e2e", "setup_wall_s", setupWallS, "s", "lower", "")
    line("e2e", "op_p50_ms", w.opP50ms, "ms", "lower", s"n=${ops.size}")
    line("e2e", "items_per_s", w.itemsPerSecond, "1/s", "higher",
      s"rounds=${w.roundsDone}")
    line("e2e", "ops_failed_frac", failedFrac, "frac", "lower",
      s"failed=${ctx.failed} attempted=${ctx.attempted}")
    reported.foreach(r => line("e2e", r.name, r.value, r.unit, r.better, s"n=${r.n}"))
    if (a.trace) {
      Metrics.perLayer.foreach { case (k, u) =>
        line("layer", k, layers.getOrElse(k, 0.0), u, "", Moves.of(k))
      }
    }
    ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      println(s"# ops $k ms: " + xs.map(o => f"${o.seconds * 1e3}%.0f").mkString(" ") +
        " | cpu ms: " + xs.map(o => f"${o.cpuSeconds * 1e3}%.0f").mkString(" "))
    }
    ctx.failures.foreach(f => println(s"# FAILED $f"))
    val metrics =
      if (a.trace) Metrics.perLayer.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }
      else Metrics.endToEnd.map { case (k, u) => k -> (e2e(k), u) }
    println(Json.write(ListMap(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }
}

/** Which end-to-end metric, on which workload, a layer metric should move. */
object Moves {
  def of(layer: String): String =
    if (layer.startsWith("online.lookup")) "-> op_cpu_s on serve_write, serve_read"
    else if (layer.startsWith("online.publish") || layer.startsWith("offline.materialize"))
      "-> setup_s on serve_write, serve_read"
    else if (layer.startsWith("offline.ingest")) "-> setup_s on train_pit"
    else if (layer.startsWith("online.") || layer.startsWith("offline."))
      "-> items_per_cpu_s on serve_write"
    else if (Seq("asof.", "export.", "validate.", "profile.").exists(layer.startsWith))
      "-> op_cpu_s, items_per_cpu_s on train_pit"
    else if (layer.startsWith("curate.") || layer.startsWith("shard_export."))
      "-> op_cpu_s, items_per_cpu_s on train_pit, corpus_curate"
    else "-> every end-to-end metric of the workload"
}

/** The driver's old-generation bytes after every garbage collection from
  * the watch's creation on, from HotSpot's GC notifications. Created
  * right after a full collection, so it starts from the live set. */
final class HeapWatch {
  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val from = beans.map(b => b.getName -> b.getCollectionCount).toMap
  private val startBytes = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => isOld(p.getName)).map(_.getUsage.getUsed).sum
  private val after = new ConcurrentLinkedQueue[java.lang.Long]()
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcInfo.getId > from.getOrElse(info.getGcName, 0L))
          after.add(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (p, u) if isOld(p) => u.getUsed }.sum)
      }
  }
  private val emitters = beans.collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** The largest old-generation use after a collection so far, in MB.
    * Notifications arrive on another thread; this waits (up to 5 s) for
    * one per collection counted so far. */
  def peakMb(): Double = {
    val gcs = beans.map(b => b.getCollectionCount - from(b.getName)).sum
    val deadline = System.nanoTime() + 5000000000L
    while (after.size < gcs && System.nanoTime() < deadline) Thread.sleep(5)
    (startBytes +: after.asScala.map(_.longValue).toSeq).max / 1048576.0
  }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}
