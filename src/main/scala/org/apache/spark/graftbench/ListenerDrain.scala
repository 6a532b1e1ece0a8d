package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain for the harnesses' per-rep
  * task-metric reads ([[graft.tools.Measure.TaskMetrics]]).
  *
  * Spark delivers task-end events on async queues, so a metrics snapshot
  * taken right after a job can miss stragglers — and a fixed sleep only
  * bounds the common case: under load the bus can lag longer, silently
  * attributing one rep's shuffle/spill bytes (or its peak task) to the
  * next rep. `LiveListenerBus.waitUntilEmpty` — the same call Spark's own
  * test harness uses to quiesce the bus — blocks until every queued event
  * is dispatched, making the snapshot exact whenever the drain succeeds.
  *
  * The one-object package shim exists because `SparkContext.listenerBus`
  * is `private[spark]`: this is the narrowest access (no reflection, no
  * string-typed method lookup, compile-checked against the Spark on the
  * classpath) and it is bench-telemetry-only — no query semantics ride on
  * it.
  */
object ListenerDrain {

  /** Block until the listener bus is empty; false iff `timeoutMs` elapsed
    * first (callers fall back to a settle sleep so a wedged queue cannot
    * hang the sweep).
    */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
