package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Test access to scheduler and block-manager internals that Spark keeps
  * package-private.
  */
object GraftTestBridge {
  /** Block until every queued listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage writes shuffle output. */
  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.isDefined

  /** Drop every block of an RDD from all block managers, as a lost
    * executor would.
    */
  def removeRdd(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)

  /** Number of an RDD's blocks the block managers hold right now. */
  def rddBlocks(sc: SparkContext, rddId: Int): Int =
    sc.env.blockManager.master.getMatchingBlockIds(
      _.asRDDId.exists(_.rddId == rddId), askStorageEndpoints = true).size
}
