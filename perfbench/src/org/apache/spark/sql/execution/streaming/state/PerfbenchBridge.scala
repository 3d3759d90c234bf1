package org.apache.spark.sql.execution.streaming.state

import org.apache.spark.SparkContext

/** The two Spark internals the benchmark touches, both package-private to
  * Spark, hence this bridge inside Spark's packages. */
object PerfbenchBridge {
  /** Waits until every queued listener event has been delivered, so the
    * census is complete before it is read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Unloads every loaded state store, as the state-store maintenance
    * task does for the stores of stopped queries on its next tick. */
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
