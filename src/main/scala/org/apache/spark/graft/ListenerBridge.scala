package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test/bench-only bridge into the private[spark] listener bus: the
  * shuffle-byte meter ([[graft.ShuffleBytes]], used by `Bench` and
  * the `kmv`, `media_scale` and `media_skew` splits of
  * [[graft.BenchSplit]]) must DRAIN the
  * async listener bus before reading its counters, or a fast job's
  * stage-completed events race the read. Same pattern as
  * [[org.apache.spark.sql.graft.ColumnBridge]] — one line of
  * private-API surface, isolated in a bridge object. */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
