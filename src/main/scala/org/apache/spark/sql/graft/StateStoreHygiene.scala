package org.apache.spark.sql.graft

/** This package is where the library reaches into Spark's `private[sql]`
  * surface (see also [[PinnedConf]]). Here:
  * `StateStore.unloadAll()` drops every registered streaming state-store
  * provider (state maps on heap + maintenance polling). Spark only does
  * this at SparkContext stop; a long-lived session that runs many
  * short-lived streaming queries (the Bench/Verify harness, or a service
  * executing ad-hoc streams) accumulates providers it will never touch
  * again. Called from graft.util.Harness.sweep between harness queries —
  * the next streaming query reloads its own providers from its checkpoint
  * exactly as it would on a fresh executor.
  */
object StateStoreHygiene {
  def unloadAll(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
