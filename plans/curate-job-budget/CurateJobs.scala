// Lists the Spark jobs of one warm `Curate.corpus` call on the benchmark's
// generated corpus, one line per job: its description (the Curate stage
// that owns it), the call site, the stages and tasks it ran and their
// executor CPU. Compile and run against the benchmark's jars:
//
//   CP=$(python3 perfbench/build.py)
//   mkdir -p /tmp/cj && java -cp "$CP" scala.tools.nsc.Main -nowarn \
//     -d /tmp/cj -cp "$CP" plans/curate-job-budget/CurateJobs.scala
//   java <the --add-opens of perfbench/run.py> -cp "/tmp/cj:$CP" \
//     CurateJobs 7 1500 /tmp/cj-work
//
// Arguments: the corpus seed, the number of docs and a scratch directory.
// The corpus, eval set, config and Spark settings are those of the
// benchmark's `train_pit` and `corpus_curate` workloads.

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.operators.Curate

object CurateJobs {
  final case class Job(id: Int, desc: String, exec: Long, kind: String,
                       stages: Seq[Int])

  def main(args: Array[String]): Unit = {
    val Array(seed, n, work) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = perfbench.Gen.corpus(perfbench.Gen.rng(seed.toLong, -5),
      n.toInt, n.toInt / 50)
    perfbench.Gen.writeDocs(spark, corpus.texts, 8, s"$work/docs")
    perfbench.Gen.writeDocs(spark, corpus.evalTexts, 1, s"$work/eval")
    val docs = spark.read.parquet(s"$work/docs")
    val evalDocs = spark.read.parquet(s"$work/eval")
    val cfg = Curate.CurateConfig(decontamN = 8)
    def curate() =
      Curate.corpus(docs, "doc_id", "text", Some(evalDocs), cfg)
        .localCheckpoint()
    (1 to 2).foreach(_ => curate())

    val jobs = ArrayBuffer.empty[Job]
    val tasks = new ConcurrentHashMap[Int, Int]()
    val cpuNs = new ConcurrentHashMap[Int, Long]()
    val sites = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        val p = Option(j.properties)
        jobs += Job(j.jobId,
          p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .getOrElse("-"),
          p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
            .map(_.toLong).getOrElse(-1L),
          if (j.stageInfos.nonEmpty && org.apache.spark.PerfbenchBus
              .isShuffleMap(j.stageInfos.maxBy(_.stageId))) "map"
          else "result",
          j.stageIds)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sites.put(x.executionId, x.description)
        case _ =>
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        tasks.put(s.stageInfo.stageId, s.stageInfo.numTasks)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          cpuNs.merge(t.stageId, t.taskMetrics.executorCpuTime, _ + _)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val kept = curate()
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    val survivors = kept.count()
    val rows = jobs.toSeq.sortBy(_.id).map { j =>
      val ran = j.stages.filter(tasks.containsKey)
      val t = ran.map(tasks.get(_).toInt).sum
      val cpu = ran.map(s => cpuNs.getOrDefault(s, 0L)).sum / 1e6
      val site = Option(sites.get(j.exec)).getOrElse("-")
      f"${j.id}%5d  ${j.desc}%-22s ${j.kind}%-6s ${ran.size}%3d ${t}%4d " +
        f"${cpu}%8.1f  ${j.exec}%4d $site"
    }
    println(s"# one warm curation (Curate.corpus(...).localCheckpoint()): " +
      s"seed $seed, $n docs, $survivors survivors")
    println(f"${"job"}%5s  ${"description"}%-22s ${"kind"}%-6s ${"stg"}%3s " +
      f"${"task"}%4s ${"cpu_ms"}%8s  ${"sql"}%4s call site of the SQL execution")
    rows.foreach(println)
    val byDesc = jobs.groupBy(_.desc).map { case (d, js) => d -> js.size }
    println(s"# ${jobs.size} jobs: " +
      byDesc.toSeq.sortBy(_._1).map { case (d, k) => s"$d $k" }.mkString(", "))
    spark.stop()
  }
}
