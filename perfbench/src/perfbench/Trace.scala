package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: an operation, or one call into a layer inside it. */
final class Span(val id: Int, val name: String, val parent: Int, val opId: Int) {
  var startNs, endNs, startMs, endMs, gcStartMs, gcEndMs = 0L
  def wallS: Double = (endNs - startNs) / 1e9
  def gcS: Double = (gcEndMs - gcStartMs) / 1e3
}

/** Engine work caused by one span's own jobs and queries. */
final class Work {
  var jobs, stages, tasks = 0L
  var mapStageS, resultStageS, executorRunS, executorCpuS = 0.0
  var shuffleWriteBytes, spillBytes = 0L
  var filesRead, rowsScanned = 0L
  /** (launch, finish) epoch ms of every task. */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  /** Per completed stage: (sum, max, median) of its task times in ms. */
  val stageTaskMs = ArrayBuffer.empty[(Long, Long, Double)]

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    mapStageS += o.mapStageS; resultStageS += o.resultStageS
    executorRunS += o.executorRunS; executorCpuS += o.executorCpuS
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    filesRead += o.filesRead; rowsScanned += o.rowsScanned
    taskIntervals ++= o.taskIntervals
    stageTaskMs ++= o.stageTaskMs
  }

  /** Max over median task time of the stage with the most task time. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val (_, mx, med) = stageTaskMs.maxBy(_._1)
      if (med > 0) mx / med else 1.0
    }
}

/** A span with the work of its whole subtree. `busyS` is the part of the
  * span's interval during which at least one task ran; the rest is
  * driver time (planning, eager metadata work, scheduling gaps). */
final case class SpanStat(span: Span, work: Work, busyS: Double) {
  def wallS: Double = span.wallS
  def driverS: Double = math.max(0.0, wallS - busyS)
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Records spans around the benchmark's calls into graft, and attributes
  * the Spark jobs, stages, tasks and queries they cause to the innermost
  * active span: the span id rides each job as a local property, which
  * the listeners read back. Listeners are attached only while recording,
  * and everything stays in memory until [[stats]] or [[writeJson]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var recording = false
  private val own = new ConcurrentHashMap[Int, Work]()
  private val engine = new EngineListener(this)
  private val plans = new PlanListener(this)
  private val ownNs = new AtomicLong

  def isRecording: Boolean = recording

  /** Seconds spent so far in the tracer's own code: span bookkeeping on
    * the client thread and the listeners' callbacks on Spark's listener
    * bus thread. This is the cost tracing adds to a run. */
  def overheadS: Double = ownNs.get / 1e9

  private[perfbench] def charge[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ownNs.addAndGet(System.nanoTime() - t0)
  }

  private[perfbench] def workOf(spanId: Int): Work =
    own.computeIfAbsent(spanId, _ => new Work)

  /** Runs `body` with recording on when `on`; the listener bus is drained
    * before the listeners detach, outside the body's own timing. */
  def recorded[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      sc.addSparkListener(engine)
      spark.listenerManager.register(plans)
      recording = true
      try body
      finally {
        recording = false
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(engine)
        spark.listenerManager.unregister(plans)
      }
    }

  /** A span named `name` around `body`; an `opId` >= 0 starts a new
    * operation, otherwise the span belongs to its parent's. */
  def span[T](name: String, opId: Int = -1)(body: => T): T =
    if (!recording) body
    else {
      val s = charge {
        val parent = stack.headOption
        val s = new Span(spans.size, name, parent.fold(-1)(_.id),
          if (opId >= 0) opId else parent.fold(-1)(_.opId))
        spans += s
        stack = s :: stack
        sc.setLocalProperty(SpanKey, s.id.toString)
        s.gcStartMs = gcMillis
        s.startMs = System.currentTimeMillis()
        s
      }
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        charge {
          s.endMs = System.currentTimeMillis()
          s.gcEndMs = gcMillis
          stack = stack.tail
          sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
        }
      }
    }

  private def resolveQueries(): Unit = {
    plans.byExecution.asScala.foreach { case (exec, w) =>
      Option(engine.execSpan.get(exec)).foreach(id => workOf(id).add(w))
    }
    plans.byExecution.clear()
  }

  /** Every recorded span named `name` (or, with `prefix`, whose name
    * starts with it), with its subtree's work. */
  def stats(name: String, prefix: Boolean = false): Seq[SpanStat] = {
    resolveQueries()
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).toSeq.flatMap(subtree)
    spans.toSeq
      .filter(s => if (prefix) s.name.startsWith(name) else s.name == name)
      .map { s =>
        val w = new Work
        subtree(s).foreach(c => Option(own.get(c.id)).foreach(w.add))
        SpanStat(s, w, busySeconds(w.taskIntervals.toSeq, s.startMs, s.endMs))
      }
  }

  private def busySeconds(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var end = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
    covered / 1e3
  }

  /** All spans with their own (not subtree) counters, as JSON. */
  def writeJson(file: java.io.File, header: Map[String, Any]): Unit = {
    resolveQueries()
    val rows = spans.map { s =>
      val w = Option(own.get(s.id)).getOrElse(new Work)
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.opId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "gc_s" -> s.gcS, "jobs" -> w.jobs,
        "stages" -> w.stages, "tasks" -> w.tasks,
        "map_stage_s" -> w.mapStageS, "result_stage_s" -> w.resultStageS,
        "executor_run_s" -> w.executorRunS, "executor_cpu_s" -> w.executorCpuS,
        "shuffle_write_bytes" -> w.shuffleWriteBytes,
        "spill_bytes" -> w.spillBytes, "files_read" -> w.filesRead,
        "rows_scanned" -> w.rowsScanned)
    }
    file.getParentFile.mkdirs()
    Json.writeFile(file, header + ("spans" -> rows.toSeq))
  }
}

/** Counts jobs, stages and tasks of the jobs that carry a span id. Runs on
  * the listener bus thread only. */
private final class EngineListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  val execSpan = new ConcurrentHashMap[Long, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = tracer.charge {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .foreach { s =>
        val id = s.toInt
        tracer.workOf(id).jobs += 1
        e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, id))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, id))
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tracer.charge {
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val w = tracer.workOf(id)
      w.tasks += 1
      w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) +=
        e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        w.executorRunS += m.executorRunTime / 1e3
        w.executorCpuS += m.executorCpuTime / 1e9
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tracer.charge {
    val si = e.stageInfo
    Option(stageSpan.get(si.stageId)).foreach { id =>
      val w = tracer.workOf(id)
      w.stages += 1
      val dur = (for (a <- si.submissionTime; b <- si.completionTime)
        yield (b - a) / 1e3).getOrElse(0.0)
      if (PerfbenchBus.isShuffleMap(si)) w.mapStageS += dur
      else w.resultStageS += dur
      Option(stageTasks.remove(si.stageId)).filter(_.nonEmpty).foreach { t =>
        val sorted = t.sorted
        val n = sorted.size
        val med =
          if (n % 2 == 1) sorted(n / 2).toDouble
          else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
        w.stageTaskMs += ((sorted.sum, sorted.last, med))
      }
    }
  }
}

/** Reads per-query scan metrics from each executed plan,
  * keyed by execution id; [[Tracer]] maps them onto spans. */
private final class PlanListener(tracer: Tracer)
    extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val byExecution = new ConcurrentHashMap[Long, Work]()

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = tracer.charge {
    val w = new Work
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanLike => s }
      .foreach { s =>
        w.filesRead += metric(s, "numFiles")
        w.rowsScanned += metric(s, "numOutputRows")
      }
    byExecution.put(qe.id, w)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
