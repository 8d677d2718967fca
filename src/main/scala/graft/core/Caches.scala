package graft.core

import org.apache.spark.sql.SparkSession

/** Cache lifecycle for the query registry (VERDICT r2 "cache hygiene").
  *
  * Queries may pin blocks two ways: `Dataset.cache()` (registered in the
  * session's CacheManager) and `Dataset.localCheckpoint()` (pins the
  * underlying RDD directly, invisible to the CacheManager). Both must be
  * released once a query's action completes — at 100 TB a leaked cached
  * corpus frame evicts working memory on every executor, so the rule is:
  * the *caller* that runs the action drains after consuming the result
  * (the query function cannot, because its caches must survive until the
  * caller's action finishes).
  */
object Caches {

  /** Release every pinned block in the session: DataFrame cache entries
    * and any directly-persisted RDDs (incl. localCheckpoint storage).
    * Safe to call between registry queries — cached frames recompute
    * from lineage if re-used, checkpointed frames are never re-used
    * across queries by construction.
    *
    * HARNESS-ONLY (Bench/Verify/tests): this is a session-WIDE sweep.
    * In an application embedding graft in a shared SparkSession it
    * would clobber caches pinned by unrelated code, and a foreign
    * localCheckpoint-backed frame would be permanently invalidated
    * (its lineage is truncated — nothing left to recompute from). An
    * embedding application should release only the blocks its own
    * queries pinned (the `checkpointTracked`/`releaseRdds` pattern in
    * [[graft.llm.Dedup]]) and leave this to the harness. */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Release EVERY driver-side shuffle and broadcast registration in
    * the JVM. The weak-reference ContextCleaner only reclaims dead
    * registrations when the JVM happens to GC, so a session that runs
    * hundreds of queries back-to-back accumulates map-output statuses,
    * shuffle files on local disk and block-manager broadcast entries,
    * and late queries run against a degraded JVM. This sweep
    * unregisters them all deterministically through the cleaner's own
    * cleanup path, with no System.gc.
    *
    * HARNESS-ONLY, and stronger than [[drain]]: it assumes NOTHING in
    * the JVM still depends on any past shuffle or broadcast. That holds
    * between harness runs after [[drain]] (caches cleared, queries
    * rebuilt from parquet per run) because cross-query memoized state
    * ([[Fixtures.memo]]) holds staged PATHS only, never DataFrames or
    * broadcasts; a memo of a Spark-side object would break later
    * queries with missing-block errors. It is false inside a live query
    * or beside another thread's work, so the sweep is skipped unless
    * the session is idle: no active streaming query and no active job.
    * Call [[drain]] first. */
  def release(spark: SparkSession): Unit = {
    val shim = org.apache.spark.sql.graft.StreamingShim
    if (shim.listenersSettled(spark) && spark.streams.active.isEmpty &&
        spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
      shim.releaseAll(spark)
  }
}
