package org.apache.spark.ml.util

/** spark.ml's local saving mode, reached from outside the package.
  * Spark 4 keeps `ReadWriteUtils` `private[spark]`; while its
  * thread-local `localSavingModeState` is set, the model writers' and
  * readers' `saveText`/`saveObject`/`saveArray` (and their loads) use
  * plain local files instead of one Spark job per stage — the same
  * one-hop shim as `GraftColumnBridge`.
  */
object GraftMlBridge {

  /** Run `body` with local saving mode on for this thread, restoring
    * the previous value afterwards. */
  def localSaving[T](body: => T): T = {
    val state = ReadWriteUtils.localSavingModeState
    val prior = state.get()
    state.set(true)
    try body finally state.set(prior)
  }
}
