package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, GraftCacheBridge, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of materialized intermediates: every cache, checkpoint
  * and scratch directory in the engine is made here and released here.
  *
  * Release happens at FAMILY boundaries ([[releaseAll]], called by Bench,
  * Verify and ScaleProbe between query modules), so executor blocks never
  * outlive the family that built them; queries re-materialize on next use.
  * A released checkpoint cannot be recomputed (its lineage is cut), so a
  * frame built before a [[releaseAll]] must not be executed after it — the
  * cross-query memos hold parquet relations or driver arrays only.
  *
  * The one exemption is [[graft.operators.Expectations.split]], whose
  * caller owns the persisted frame and releases it through the handle.
  */
object Intermediates {

  private val releases = new ConcurrentLinkedQueue[() => Unit]()

  /** Persist `df`, register it for release, and return the frame rebased
    * onto its `InMemoryRelation` leaf ([[GraftCacheBridge.cachedLeaf]]):
    * downstream trees stay shallow, so Dataset-op eager re-analysis stops
    * dominating build time (r17 phase profile: 3.5-6.6 s per v10 build).
    * Execution is unchanged — the cache manager substitutes the same
    * relation at planning time anyway.
    */
  def cache(df: DataFrame): DataFrame = {
    df.persist()
    releases.add(() => df.unpersist(blocking = false))
    GraftCacheBridge.cachedLeaf(df).getOrElse(df)
  }

  /** Eagerly checkpoint `df` into executor storage and register the
    * materialized RDD for release. Held weakly: an unreachable checkpoint
    * is still freed by Spark's ContextCleaner before the boundary.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true)
    leaves(ck).foreach { rdd =>
      val ref = new WeakReference(rdd)
      releases.add(() => Option(ref.get).foreach(_.unpersist(blocking = false)))
    }
    ck
  }

  /** Free a checkpoint before the boundary: a superseded round checkpoint,
    * or one whose operator returns only driver state. (`df.unpersist()`
    * is a cache-manager no-op here — the blocks belong to the RDD inside
    * the frame's `LogicalRDD` leaf.)
    */
  def release(df: DataFrame): Unit = {
    val rdds = leaves(df)
    rdds.foreach(_.unpersist(blocking = false))
    // no leaf means a Spark upgrade moved the class and the blocks would
    // silently stay resident — surface it instead of leaking
    if (rdds.isEmpty)
      System.err.println(
        "WARN graft: Intermediates.release found no LogicalRDD leaf to unpersist — " +
          "checkpoint blocks stay resident (plan: " + df.queryExecution.analyzed.nodeName + ")")
  }

  /** A scratch directory that lives until the next [[releaseAll]]: any
    * earlier copy of `path` is deleted now, and the directory is deleted
    * at the release (s7/s9's rehearsal indexes). Returns `path`.
    */
  def directory(spark: SparkSession, path: String): String = {
    graft.sources.FsUtil.delete(spark, path)
    releases.add(() => graft.sources.FsUtil.delete(spark, path))
    path
  }

  /** Collect a frame whose size is bounded by a parameter (centroid
    * tables, codebooks), never by the data, onto the driver. At most
    * `maxRows + 1` rows are fetched; more than `maxRows` throws
    * [[ContractRefusedException]] naming `what` and the bound, so nothing
    * data-sized reaches the driver. Nothing is registered for release:
    * the rows are plain driver state.
    */
  def local(df: DataFrame, maxRows: Int, what: String): Array[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows)
      throw new ContractRefusedException(
        s"$what refused: more than $maxRows rows would be collected to the driver " +
          s"(bound $maxRows). A driver-held relation must stay parameter-sized.")
    rows
  }

  /** Release every registered cache, checkpoint and directory.
    * Non-blocking for blocks: their removal runs asynchronously, so the
    * caller waits only on the directory deletes. */
  def releaseAll(): Unit =
    Iterator.continually(releases.poll()).takeWhile(_ != null).foreach(_())

  private def leaves(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
