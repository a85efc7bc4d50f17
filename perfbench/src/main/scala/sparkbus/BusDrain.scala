package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to two package-private SparkContext members, hence this
  * file's package.
  */
object BusDrain {
  /** Waits until every queued listener event has been delivered, so
    * task metrics read right after an action are complete.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Reserves and returns the next RDD id: every RDD created later has
    * a larger one.
    */
  def nextRddId(sc: SparkContext): Int = sc.newRddId()
}
