package org.apache.spark.connbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a traced
  * op's jobs and tasks are all recorded before the op's spans are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
