package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two private Spark members the benchmark reads: the listener
  * bus (to wait until every posted event has been delivered, so the
  * traced run reads complete per-op totals) and whether a stage is a
  * shuffle map stage. */
object LcsbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMapStage(s: StageInfo): Boolean = s.shuffleDepId.nonEmpty
}
