package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The two Spark internals the benchmark needs; both are private to Spark,
  * hence this file's package. */
object SparkInternals {

  /** Listener events reach listeners asynchronously; the benchmark reads
    * its listeners' aggregates only after every event posted so far is
    * delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Unload every state store provider this JVM holds. */
  def unloadStateStores(): Unit = StateStore.unloadAll()
}
