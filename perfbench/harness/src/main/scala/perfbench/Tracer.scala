package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one unit of work (an operation tag or one SQL execution). */
final class LayerAgg {
  var jobs, stages, tasks, taskFailures = 0L
  var taskRunMs, gcMs, cpuNs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L
  /** (submitted, completed) epoch-ms spans of the finished stages. */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def +(o: LayerAgg): LayerAgg = {
    val s = new LayerAgg
    s.jobs = jobs + o.jobs; s.stages = stages + o.stages; s.tasks = tasks + o.tasks
    s.taskFailures = taskFailures + o.taskFailures; s.taskRunMs = taskRunMs + o.taskRunMs
    s.gcMs = gcMs + o.gcMs; s.cpuNs = cpuNs + o.cpuNs
    s.shuffleWrite = shuffleWrite + o.shuffleWrite; s.shuffleRead = shuffleRead + o.shuffleRead
    s.spill = spill + o.spill; s.inputBytes = inputBytes + o.inputBytes
    s.outputBytes = outputBytes + o.outputBytes
    s.stageSpans ++= stageSpans ++= o.stageSpans
    s
  }

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "task_run_s" -> taskRunMs / 1e3,
    "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_bytes" -> inputBytes, "output_bytes" -> outputBytes)

  /** Time inside `[from, to]` (epoch ms) during which no stage of this unit
    * was running. */
  def schedGapMs(from: Long, to: Long): Long = {
    val spans = stageSpans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = from
    spans.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0L, (to - from) - covered)
  }
}

/** One query execution reported through the [[QueryExecutionListener]]. */
final case class QeEvent(execId: Long, funcName: String, durationNs: Long,
    outputFiles: Long, ok: Boolean)

/** The benchmark's trace: a `SparkListener` that aggregates scheduler,
  * executor, shuffle and I/O counters per operation tag (the job-local
  * property [[Tracer.OpKey]]) and per SQL execution id, plus a
  * `QueryExecutionListener` and a `StreamingQueryListener` that record the
  * cooling pipeline's step executions and micro-batch durations. Attached
  * only in traced runs, through the public registration APIs.
  *
  * Events arrive on Spark's listener bus thread, after the fact; readers
  * take the aggregates once the session has stopped (which drains the bus).
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val byTag = mutable.Map.empty[String, LayerAgg]
  val byExec = mutable.Map.empty[Long, LayerAgg]
  val qeEvents = mutable.ArrayBuffer.empty[QeEvent]
  /** Operation tag of each SQL execution's jobs. */
  val execTags = mutable.Map.empty[Long, String]
  /** Per streaming micro-batch: (trigger start epoch ms, addBatch ms,
    * triggerExecution ms). */
  val batches = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  /** (addBatch ms, triggerExecution ms) of the micro-batches that started
    * inside `[from, to]` (epoch ms). */
  def batchesIn(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    batches.filter(b => b._1 >= from && b._1 <= to).map(b => (b._2, b._3)).toSeq
  }

  private val stageTag = mutable.Map.empty[Int, String]
  private val stageExec = mutable.Map.empty[Int, Long]

  private def aggs(stage: Int): Seq[LayerAgg] =
    stageTag.get(stage).map(t => byTag.getOrElseUpdate(t, new LayerAgg)).toSeq ++
      stageExec.get(stage).map(e => byExec.getOrElseUpdate(e, new LayerAgg)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).getOrElse("untagged")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    e.stageIds.foreach { s => stageTag(s) = tag; exec.foreach(stageExec(s) = _) }
    byTag.getOrElseUpdate(tag, new LayerAgg).jobs += 1
    exec.foreach { x => byExec.getOrElseUpdate(x, new LayerAgg).jobs += 1; execTags(x) = tag }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    aggs(info.stageId).foreach { a =>
      a.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime) a.stageSpans += ((s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    aggs(e.stageId).foreach { a =>
      a.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) a.taskFailures += 1
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qeEvents += QeEvent(qe.id, funcName, durationNs, Tracer.filesWritten(qe), ok = true) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { qeEvents += QeEvent(qe.id, funcName, 0L, 0L, ok = false) }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      Tracer.this.synchronized { batches += ((at, ms("addBatch"), ms("triggerExecution"))) }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }
}

object Tracer {
  /** Job-local property naming the operation a job belongs to. */
  val OpKey = "perfbench.op"

  /** Files written by a write command, from its SQL metrics. */
  def filesWritten(qe: QueryExecution): Long = {
    def plans(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: CommandResultExec => c +: plans(c.commandPhysicalPlan)
      case other => other.collect { case x => x }
    }
    val executed = try Some(qe.executedPlan) catch { case _: Throwable => None }
    executed.toSeq.flatMap(plans).collect { case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
}
