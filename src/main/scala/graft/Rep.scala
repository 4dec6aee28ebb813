package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftCacheBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One timed rep of a query and the layers its time went to. The rep is
  * the only place the engine times a query: Bench, ABTime and ScaleProbe
  * all call [[Rep.time]].
  *
  * A rep's time is building the frame plus executing its physical plan
  * with `queryExecution.toRdd.count()` — never `df.count()`, whose fast
  * path lets the optimizer prune per-row projections and whole unique-key
  * left joins and replans around cached relations (v10 read 12.9 s under
  * `count()` against 4.3 s for the same query on the same host).
  *
  * Layers, named as in BENCHMARK.json's `per_layer` where they overlap:
  *  - `wall_s`, `build_s`: the whole rep, and building the frame;
  *  - `analysis_s`, `optimization_s`, `planning_s`: the plan's
  *    `QueryPlanningTracker` phases;
  *  - `jobs`, `stages`, `tasks`, `task_run_s` (summed executor run time),
  *    `shuffle_read_bytes`, `shuffle_write_bytes`, `spill_bytes`: every job
  *    of the rep; `build_jobs` of those ran while the frame was built (an
  *    eager checkpoint, say);
  *  - `serial_stages`: stages of at most 4 tasks whose run time sums to at
  *    least 0.4 s — the signature of AQE coalescing a stage's work onto a
  *    few cores (at `local[4]` a 4-task stage already fills the cores, so
  *    compare the count across runs at one core count);
  *  - `compiles`, `compile_s`: classes Janino compiled during the rep and
  *    the time it took, read from JVM-wide counters
  *    (`CodegenMetrics.METRIC_COMPILATION_TIME`, `CodeGenerator.compileTime`).
  *    The delta belongs to the rep only because reps run one at a time; in
  *    local mode it includes executor-side compiles. A class found in
  *    Spark's codegen cache is not compiled and not counted.
  */
private[graft] final case class Rep(
    rows: Long, startMs: Long, wallS: Double, buildS: Double, buildJobs: Long,
    analysisS: Double, optimizationS: Double, planningS: Double,
    jobs: Long, stages: Long, tasks: Long, taskRunS: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, serialStages: Long,
    compiles: Long, compileS: Double) {

  def fields: Seq[(String, Any)] = Seq(
    "rows" -> rows, "wall_s" -> wallS, "build_s" -> buildS, "build_jobs" -> buildJobs,
    "analysis_s" -> analysisS, "optimization_s" -> optimizationS, "planning_s" -> planningS,
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_run_s" -> taskRunS,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "serial_stages" -> serialStages,
    "compiles" -> compiles, "compile_s" -> compileS)

  /** One JSON object: the `lead` fields, then [[fields]]. */
  def json(lead: (String, Any)*): String = (lead ++ fields).map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v: Double) => s""""$k":${String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))}"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")
}

private[graft] object Rep {

  /** Job-local property naming the rep a job belongs to: `<id>` while the
    * plan executes, `<id>.build` while the frame is built. Job groups are
    * left alone: ScaleProbe cancels its reps by job group. */
  private val Key = "graft.rep"
  private val Build = ".build"
  private val ids = new AtomicLong

  /** Builds the frame and materializes its full result, timing both; the
    * counters are read once the listener bus has delivered the rep's
    * events. Throws what the build or the execution throws. */
  def time(spark: SparkSession)(build: => DataFrame): Rep = {
    val sc = spark.sparkContext
    val layers = layersOn(sc)
    val id = ids.incrementAndGet()
    layers.open(id)
    val (compiles0, compileNs0) = (compileCount, CodeGenerator.compileTime)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      sc.setLocalProperty(Key, s"$id$Build")
      val df = build
      val t1 = System.nanoTime()
      sc.setLocalProperty(Key, id.toString)
      val qe = df.queryExecution
      val rows = qe.toRdd.count()
      val t2 = System.nanoTime()
      GraftCacheBridge.drainListenerBus(spark, 60000L)
      val a = layers.take(id)
      def phase(p: String) = qe.tracker.phases.get(p).fold(0.0)(_.durationMs / 1e3)
      Rep(rows, startMs, (t2 - t0) / 1e9, (t1 - t0) / 1e9, a.buildJobs,
        phase("analysis"), phase("optimization"), phase("planning"),
        a.jobs, a.stages, a.tasks, a.runMs / 1e3, a.shuffleRead, a.shuffleWrite, a.spill,
        a.load.values.count { case (n, ms) => n <= 4 && ms >= 400 }.toLong,
        compileCount - compiles0, (CodeGenerator.compileTime - compileNs0) / 1e9)
    } finally {
      sc.setLocalProperty(Key, null)
      layers.forget(id)
    }
  }

  private def compileCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Counters of one rep. */
  private final class Agg {
    var jobs, buildJobs, stages, tasks, runMs, shuffleRead, shuffleWrite, spill = 0L
    /** Per stage: (tasks, summed executor run ms). */
    val load = mutable.Map.empty[Int, (Long, Long)]
  }

  /** Aggregates tagged jobs' scheduler and executor counters per rep. Events
    * arrive on the listener bus thread, after the fact. */
  private final class Layers extends SparkListener {
    private val reps = mutable.Map.empty[Long, Agg]
    private val stageRep = mutable.Map.empty[Int, Long]

    private def agg(stage: Int): Option[Agg] = stageRep.get(stage).flatMap(reps.get)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      for (tag <- Option(e.properties).flatMap(p => Option(p.getProperty(Key)));
           id = tag.stripSuffix(Build).toLong; a <- reps.get(id)) {
        a.jobs += 1
        if (tag.endsWith(Build)) a.buildJobs += 1
        e.stageIds.foreach(stageRep(_) = id)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      agg(e.stageInfo.stageId).foreach(_.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (a <- agg(e.stageId); m <- Option(e.taskMetrics)) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        val (n, ms) = a.load.getOrElse(e.stageId, (0L, 0L))
        a.load(e.stageId) = (n + 1, ms + m.executorRunTime)
      }
    }

    def open(id: Long): Unit = synchronized(reps(id) = new Agg)

    def take(id: Long): Agg = synchronized(reps(id))

    def forget(id: Long): Unit = synchronized {
      reps -= id
      stageRep.filterInPlace((_, rep) => rep != id)
    }
  }

  private var attached: Option[(SparkContext, Layers)] = None

  /** The context's listener, registered on first use. */
  private def layersOn(sc: SparkContext): Layers = synchronized {
    attached match {
      case Some((c, l)) if c eq sc => l
      case _ =>
        val l = new Layers
        sc.addSparkListener(l)
        attached = Some((sc, l))
        l
    }
  }
}
