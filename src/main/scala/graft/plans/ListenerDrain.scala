package org.apache.spark

/** Bridge into Spark's `private[spark]` listener bus.
  *
  * The scale rehearsals attribute shuffle-spill deltas to the key that ran
  * between two listener reads, but task-end events post asynchronously —
  * so the rehearsal previously slept a fixed 200 ms per key, which is both
  * racy (a slow flush still bleeds into the next key) and adds
  * 200 ms × keys of dead wall time. `LiveListenerBus.waitUntilEmpty` is
  * the deterministic drain Spark's own tests use; it is `private[spark]`,
  * hence this one-method shim in Spark's package.
  */
object GraftListenerDrain {
  /** Block until every queued listener event is delivered, or `timeoutMs`
    * elapses. Returns true when drained, false on timeout — the caller's
    * telemetry is a cap-audit signal, not an exact ledger, so a timeout
    * degrades attribution rather than failing the rehearsal.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
