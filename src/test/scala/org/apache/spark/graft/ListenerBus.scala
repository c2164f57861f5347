package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Access to listener-bus internals, which Spark keeps package-private:
  * specs that count jobs or capture executed plans wait for the bus to
  * drain, so every event of the code under test has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a stage that writes shuffle output (a shuffle-map stage). */
  def isShuffleMapStage(s: StageInfo): Boolean = s.shuffleDepId.nonEmpty
}
