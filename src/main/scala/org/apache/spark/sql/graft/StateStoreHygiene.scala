package org.apache.spark.sql.graft

import org.apache.spark.sql.execution.streaming.state.StateStore

/** `StateStore.unloadAll()` is `private[sql]`; this shim exposes it to
  * the engine's throwaway-stream harness. Stopped AvailableNow queries
  * otherwise leave their provider instances (in-memory maps / RocksDB
  * handles) loaded for the background maintenance pass to walk — pure
  * overhead once the run is over; a restart on the same checkpoint
  * loads its state from the checkpoint files.
  */
object StateStoreHygiene {
  def unloadAll(): Unit = StateStore.unloadAll()
}
