package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` members the harness needs, hence this bridge in
  * Spark's package. */
object SparkBridge {
  /** The listener bus delivers events on its own thread; the harness must
    * see every job and stage of a pass before it reads the ledger. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A shuffle-map stage feeds an exchange; the other kind ends its job. */
  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
