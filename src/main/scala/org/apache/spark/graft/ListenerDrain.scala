package org.apache.spark

/** Deterministic listener-bus drain for [[graft.QueryMetrics]].
  *
  * ScaleRehearsal and StageProbe read the listener's per-group job and
  * stage metrics right after their timed runs. The listener bus is async,
  * so a straggling SparkListenerStageCompleted from a slow stage could
  * land after the read and silently under-report SCALE.md numbers.
  * `LiveListenerBus.waitUntilEmpty` is the precise "all posted events
  * delivered" barrier, but it is `private[spark]` — this one-method shim
  * in the `org.apache.spark` package exposes it. Test-only/diagnostic surface;
  * nothing in the query path depends on it.
  */
object GraftListenerDrain {
  /** Block until every event posted so far has been delivered to all
    * listeners, or `timeoutMillis` elapses (returns false on timeout
    * rather than throwing, so a wedged bus degrades to the old
    * fixed-sleep behavior instead of failing the rehearsal).
    */
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
