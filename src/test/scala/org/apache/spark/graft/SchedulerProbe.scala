package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Scheduler facts a spec may read that Spark keeps package-private. */
object SchedulerProbe {

  /** Blocks until every listener event posted so far is delivered, so a
    * spec can read what its SparkListener counted without sleeping.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a stage that writes shuffle output (a shuffle-map stage). */
  def isShuffleMap(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
