package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => CDataset}

/** Bridge into `private[sql]` / `private[spark]` internals: rebase a
  * just-persisted DataFrame onto its registered `InMemoryRelation` leaf,
  * drain the listener bus for [[graft.Rep]], and hand a body to a pool
  * thread with the caller's job-local properties.
  *
  * Why rebase: every Dataset transformation eagerly re-runs analysis
  * (resolution, `DeduplicateRelations`, `CheckAnalysis` full-tree walks)
  * over the whole accumulated logical plan, so a deep multi-stage
  * pipeline like v10 pays O(ops x tree) DRIVER time per construction —
  * measured 3.5-6.6 s of `build=` against 0.6 s of execution (r17
  * planning-phase profile,
  * with the hot frames in `DeduplicateRelations` / `checkCollectedMetrics`
  / `isLazyAnalysis`). Returning a Dataset whose logical plan is the
  * cached relation ITSELF (the same `InMemoryRelation` the cache manager
  * would substitute at physical-planning time anyway) makes every
  * downstream tree shallow, without changing what executes: the IMR scan
  * is byte-identical to what cache substitution produces, recomputation
  * on eviction still runs the original child plan (the compute-from-
  * parquet invariant is untouched), and unpersist lifecycles keep working
  * because callers retain the original DataFrame handle.
  *
  * Returns None when `df` has no registered cache entry (caller falls
  * back to the un-truncated frame).
  */
object GraftCacheBridge {
  /** `sessionUUID` is `private[sql]` on the classic session; graft's
    * relation memo keys on it because — unlike `identityHashCode` — it is
    * unique and never reused across sessions.
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Blocks until every event posted to the listener bus so far has been
    * delivered (`listenerBus` is `private[spark]`), so counters a listener
    * aggregates for finished jobs are complete. Gives up after `timeoutMs`.
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        System.err.println(s"WARN graft: listener bus not drained: ${e.getMessage}")
    }

  /** Runs `body` on `pool` under the calling thread's job-local properties
    * and active session (`SQLExecution.withThreadLocalCaptured` is
    * `private[sql]`). A pool thread otherwise keeps the properties of the
    * thread that created it: a stale [[graft.Rep]] tag or job group.
    */
  def onPool[T](spark: SparkSession, pool: java.util.concurrent.ExecutorService)(
      body: => T): scala.concurrent.Future[T] = {
    import scala.jdk.FutureConverters._
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body).asScala
      .recover { case e: java.util.concurrent.CompletionException if e.getCause != null =>
        throw e.getCause }(scala.concurrent.ExecutionContext.parasitic)
  }

  def cachedLeaf(df: DataFrame): Option[DataFrame] = {
    val cds = df.asInstanceOf[CDataset[_]]
    val spark = cds.sparkSession
    // withOutput remaps the IMR's attributes to the CALLER's exprIds (what
    // CacheManager.useCachedData does): if a structurally-equal plan was
    // cached first by another query, the raw cachedRepresentation carries
    // THAT query's attribute ids and attribute-bound Columns (df("col"))
    // held by this caller would not resolve (r17 advice).
    spark.sharedState.cacheManager
      .lookupCachedData(spark, cds.logicalPlan)
      .map(cd => CDataset.ofRows(spark,
        cd.cachedRepresentation.withOutput(cds.logicalPlan.output)))
  }
}
