package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Scheduler details Spark keeps package-private. */
object PerfbenchBus {
  /** Listener events are delivered asynchronously; the benchmark waits
    * for the bus to drain before it reads its listeners' counters, so no
    * job, stage or task of a measured operation is missed. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A shuffle-map stage, as opposed to a job's result stage. */
  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
