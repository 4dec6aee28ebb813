package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{ColdStore, FsUtil, ParquetPaymentsSource}

/** Structured-Streaming driver for the cooling pipeline — the
  * Trigger.AvailableNow form of the reference's hourly single-flight
  * schedule (/root/reference/src/py/yq_dag.py:45-52: `@hourly`,
  * `max_active_runs=1`, `catchup=False`), which BASELINE.json's north
  * star names as the target idiom.
  *
  * Shape: a file stream over the hot store's partition directories is the
  * work signal; each micro-batch runs the cooling DAG
  * ([[CoolingPipeline.runAll]] → export, reconcile, advance, drop) inside
  * `foreachBatch`. Together with the watermark's lease this supplies
  * exactly the three properties the Airflow schedule provided:
  *
  *  - **single-flight**: `runAll` holds the [[Watermark.lease]] for the
  *    whole drain, so a second driver on the same watermark (another
  *    stream, [[graft.Cool]]) is refused at once (`max_active_runs=1`);
  *  - **catch-up on demand**: `Trigger.AvailableNow` drains everything
  *    present, then terminates — re-launching on any cadence (cron, the
  *    next Airflow, …) picks up newly landed months (`catchup=False`);
  *  - **restart recovery**: the [[Watermark]] file, kept in the checkpoint
  *    directory, is the only recovery state. Every launch starts the stream
  *    with an empty stream log, so a launch over a non-empty hot store
  *    always fires one batch, and that batch resumes at the watermark's
  *    year. `runOnce`'s ordering (idempotent export → read-only reconcile
  *    → watermark advance as the commit → idempotent drop, finished by the
  *    next run when cut short) makes a run cut short anywhere converge on
  *    the next launch, year by year.
  *
  * The batch's row content is deliberately never materialized — the file
  * source is a work *signal* (the hot store has files), while the DAG
  * reads the hot store through the same batch scan the driver loop uses.
  * A stream log kept across launches would hold every file already seen
  * and fire no batch, leaving years below a raised `stopBeforeYear` hot.
  * At 100 TB the signal stream stays a metadata-only listing; no data
  * flows through the streaming plan itself.
  */
object CoolingStream {

  /** Drain-and-stop cooling run. Cools, year by year from the watermark
    * (persisted at `checkpointDir/watermark.json`, initialized to
    * `startDate` on first run), every year that still has a hot partition,
    * up to but excluding `stopBeforeYear`; a partly landed year cools with
    * the months it has. Returns the (year, rowsExported, diffCount) of each
    * completed run.
    *
    * `onYearCooled` fires after each year's advance and drop
    * (observability; CoolingStreamSpec's crash injection).
    */
  def runAvailableNow(
      spark: SparkSession,
      hotPath: String,
      coldPath: String,
      checkpointDir: String,
      startDate: LocalDate,
      stopBeforeYear: Int = Int.MaxValue,
      onYearCooled: ((Int, Long, Long)) => Unit = _ => ()): Seq[(Int, Long, Long)] = {

    val source = new ParquetPaymentsSource(hotPath)
    // the watermark lives inside the checkpoint dir (one recovery root);
    // make sure the root exists before the first atomic write into it
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(checkpointDir))
    val wm = new Watermark(s"$checkpointDir/watermark.json")
    wm.initIfAbsent(startDate)
    val pipeline = new CoolingPipeline(source, new ColdStore(coldPath), wm)

    FsUtil.delete(spark, s"$checkpointDir/stream")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val q = spark.readStream
      .schema(source.schema.add("pmonth", org.apache.spark.sql.types.StringType))
      .option("basePath", hotPath)
      .parquet(s"$hotPath/pmonth=*")
      .writeStream
      .option("checkpointLocation", s"$checkpointDir/stream")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: Dataset[Row], _: Long) =>
        val cap = math.max(0L, stopBeforeYear.toLong - wm.year)
        out ++= pipeline.runAll(spark, maxRuns = math.min(cap, 100L).toInt,
          onRun = onYearCooled)
        ()
      }
      .start()
    q.awaitTermination()
    out.toSeq
  }
}
