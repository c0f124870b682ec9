package org.apache.spark

/** Accessor for the private[spark] listener bus: PlanCensus and the specs
  * drain async listener events deterministically instead of sleeping. */
object GraftBus {
  def drain(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
