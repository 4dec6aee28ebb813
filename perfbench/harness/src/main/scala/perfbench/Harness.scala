package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.pipeline.{CoolingPipeline, CoolingStream, PaymentsGenerator, Watermark}
import graft.queries.DedupQueries
import graft.sources.{ColdStore, ParquetPaymentsSource}

/** Settings of one benchmark run, passed as `--key value` pairs by
  * `perfbench/run.py`.
  *
  *  - `queries`: the `sql`/`corpus` query set, `SparkEntry.queries` names;
  *  - `min-passes`: timed passes (cooling cycles) run even when `seconds`
  *    has already elapsed;
  *  - `order`: `seeded` shuffles the queries inside each family by seed and
  *    pass, `name` keeps `graft.Bench`'s name order;
  *  - `corrupt`: `drop` or `flip` damages the first cooled year (self-test).
  */
final case class Conf(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String, queries: Seq[String], minPasses: Int,
    order: String, corrupt: String)

object Conf {
  def parse(args: Array[String]): Conf = {
    require(args.length % 2 == 0, "arguments come as --key value pairs")
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def list(k: String) = kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Conf(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1", data = kv.getOrElse("data", ""),
      work = kv("work"), out = kv("out"), queries = list("queries"),
      minPasses = kv.getOrElse("min-passes", "1").toInt, order = kv.getOrElse("order", "name"),
      corrupt = kv.getOrElse("corrupt", "none"))
  }
}

/** The benchmark's JVM side. It drives the engine only through public entry
  * points (`SparkEntry.queries`, `CoolingStream.runAvailableNow`,
  * `CoolingPipeline.federationAnalytics`, `Dataset.queryExecution`) and
  * writes one JSON result file: set-up time, one record per operation
  * (start offset, latency, rows, outcome, and in traced runs its layer
  * counters), pass wall times and the cooling checks. Metrics are derived
  * from that file by `run.py`.
  *
  * Every query is timed as `queryExecution.toRdd.count()`, the action
  * `graft.Bench` times; result values are checked outside the timed region.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val conf = Conf.parse(args)
    val run = new Run(conf)
    val result = conf.workload match {
      case "cool" => run.cool()
      case "sql" | "corpus" => run.queries()
      case other => sys.error(s"unknown workload $other")
    }
    Files.createDirectories(Paths.get(conf.out).getParent)
    Files.writeString(Paths.get(conf.out), Json.render(result))
  }
}

final class Run(conf: Conf) {
  private val t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9

  private var spark: SparkSession = _
  private val tracer = if (conf.trace) Some(new Tracer) else None
  private val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val releases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var peakStorageBytes = 0L

  private def tag(t: String): Unit = spark.sparkContext.setLocalProperty(Tracer.OpKey, t)

  /** Cached RDD blocks and their bytes, from the block manager master. */
  private def storage(): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum)
  }

  private def sampleStorage(): Unit = if (conf.trace) {
    peakStorageBytes = math.max(peakStorageBytes, storage()._2)
  }

  private def describe(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${t.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").take(300)}"
  }

  private def newOp(kind: String, name: String, pass: Int, start: Double) = {
    val op = mutable.LinkedHashMap[String, Any](
      "idx" -> ops.size, "kind" -> kind, "name" -> name, "pass" -> pass, "start_s" -> start)
    ops += op
    op
  }

  private def meta: Map[String, Any] = Map(
    "spark_version" -> org.apache.spark.SPARK_VERSION,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "cores" -> spark.sparkContext.defaultParallelism,
    "heap_bytes" -> Runtime.getRuntime.maxMemory(),
    "seed" -> conf.seed, "trace" -> conf.trace)

  // ---------------------------------------------------------------- sql, corpus

  private def family(name: String): String = name.takeWhile(_.isLetter)

  private lazy val querySet: Seq[String] = conf.queries.sorted

  /** One query operation: build the DataFrame, then execute its physical
    * plan with `toRdd.count()`. Latency covers both, as in `graft.Bench`. */
  private def runQuery(name: String, pass: Int): Boolean = {
    val op = newOp("query", name, pass, now)
    val idx = op("idx")
    val start = System.nanoTime()
    val startMs = System.currentTimeMillis()
    tag(s"op$idx.build")
    try {
      val df = SparkEntry.queries(name)(spark, conf.data)
      val built = System.nanoTime()
      tag(s"op$idx")
      val rows = df.queryExecution.toRdd.count()
      val end = System.nanoTime()
      op ++= Seq("latency_s" -> (end - start) / 1e9, "build_s" -> (built - start) / 1e9,
        "rows" -> rows, "ok" -> true,
        "exec_window_ms" -> Seq(startMs + (built - start) / 1000000L, System.currentTimeMillis()))
      if (conf.trace) op ++= df.queryExecution.tracker.phases.toSeq.map { case (k, v) =>
        s"${k}_s" -> v.durationMs / 1e3 }
    } catch {
      case t: Throwable =>
        op ++= Seq("latency_s" -> (System.nanoTime() - start) / 1e9, "ok" -> false,
          "error" -> describe(t))
        System.err.println(s"[perfbench] $name FAILED: ${describe(t)}")
    } finally tag(null)
    sampleStorage()
    op("ok") == true
  }

  /** Releases the shared intermediates at a family boundary, as
    * `graft.Bench` does, and records the RDD blocks still resident. */
  private def release(pass: Int, fam: String): Unit = {
    DedupQueries.unpersistShared()
    if (conf.trace) {
      // unpersist drops the RDD from the persisted set at once (its blocks
      // go asynchronously), so what storage() still reports was never released
      val (blocks, bytes) = storage()
      releases += Map("pass" -> pass, "family" -> fam, "blocks_left" -> blocks, "bytes_left" -> bytes)
    }
  }

  /** One pass over the query set: family by family in name order, as
    * `graft.Bench` runs them (a family's leftovers shape the next family's
    * run, so that order stays fixed); inside a family in [[Conf]]`.order`. */
  private def queryPass(pass: Int): Unit = {
    val rnd = new Random(conf.seed * 7919L + pass)
    val fams = querySet.groupBy(family).toSeq.sortBy(_._1)
    val p0 = now
    var ok = true
    fams.foreach { case (fam, names) =>
      val ordered = if (conf.order == "seeded") rnd.shuffle(names) else names.sorted
      ordered.foreach(n => ok &= runQuery(n, pass))
      release(pass, fam)
    }
    passes += Map("pass" -> pass, "wall_s" -> (now - p0), "ok" -> ok)
  }

  def queries(): Map[String, Any] = {
    val unknown = querySet.filterNot(SparkEntry.queries.contains)
    require(querySet.nonEmpty && unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // Set-up: session start, then the first execution of every query.
    // Results with a DuckDB oracle are written under work/check/ for the
    // comparison after the run; the others are only executed.
    spark = GraftSession.prepare(GraftSession.local("perfbench"))
    tracer.foreach(_.attach(spark))
    val checkDir = s"${conf.work}/check"
    val checked = querySet.groupBy(family).toSeq.sortBy(_._1).flatMap { case (_, names) =>
      val done = names.map { n =>
        val op = newOp("check", n, -1, now)
        val oracle = SparkEntry.oracleSql.get(n)
        tag(s"check.$n")
        try {
          val df = SparkEntry.queries(n)(spark, conf.data)
          if (oracle.isDefined) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
          else df.queryExecution.toRdd.count()
          op += "ok" -> true
        } catch { case t: Throwable => op ++= Seq("ok" -> false, "error" -> describe(t)) }
        finally tag(null)
        oracle.map(n -> _)
      }
      DedupQueries.unpersistShared()
      done.flatten
    }
    val setup = now
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.render(checked.toMap))

    val m0 = now
    var pass = 0
    while (pass < conf.minPasses || now - m0 < conf.seconds) { queryPass(pass); pass += 1 }
    val measured = now - m0
    finish(Map("setup_s" -> setup, "measured_s" -> measured, "queries" -> querySet.size))
  }

  // ---------------------------------------------------------------- cool

  /** The hot store: one full year plus the next January, FIXTURES.md's
    * 13-month fixture shifted by the seed (leap years change the counts). */
  private lazy val startYear = 2020 + (conf.seed % 8).toInt
  private lazy val lastYear = startYear + 1
  private def coolDir(p: String) = s"${conf.work}/cool/$p"

  private def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) {
      val w = Files.walk(path)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally w.close()
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val w = Files.walk(src)
    try w.forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  /** Row count and content hash of each year: the cold store must match
    * the hot store it was cut from, value for value. */
  private def yearDigest(df: DataFrame, yearCol: org.apache.spark.sql.Column): Map[Int, (Long, Long)] =
    df.groupBy(yearCol.as("y"))
      .agg(count(lit(1)).as("n"),
        bit_xor(xxhash64(CoolingPipeline.reconcileKeys.map(col): _*)).as("h"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Self-test fault: damage one cooled year after its reconcile passed, so
    * only the benchmark's own checks can see it. */
  private def corrupt(year: Int): Unit = {
    val part = s"${coolDir("cold")}/payment_year=$year"
    val tmp = s"${coolDir("cold")}/_corrupt"
    val df = spark.read.parquet(part)
    val victim = df.agg(min("id")).head().getLong(0)
    val bad = conf.corrupt match {
      case "drop" => df.where(col("id") =!= victim)
      case "flip" => df.withColumn("amount",
        when(col("id") === victim, -col("amount")).otherwise(col("amount")))
    }
    bad.write.mode("overwrite").parquet(tmp)
    deleteTree(part)
    Files.move(Paths.get(tmp), Paths.get(part))
  }

  /** One cooling cycle on a pristine copy of the hot store: drain every
    * full year through `CoolingStream`, then run Q3 over both stores. */
  private def coolCycle(cycle: Int, expected: Map[Int, (Long, Long)]): Unit = {
    Seq("hot", "cold", "ckpt").foreach(p => deleteTree(coolDir(p)))
    copyTree(coolDir("pristine"), coolDir("hot"))
    val cooled = mutable.ArrayBuffer.empty[(Double, Int, Long, Long)]
    var damaged = false

    val c0 = now
    val c0Ms = System.currentTimeMillis()
    tag(s"c$cycle.drain")
    val drainErr = try {
      CoolingStream.runAvailableNow(spark, coolDir("hot"), coolDir("cold"), coolDir("ckpt"),
        LocalDate.of(startYear, 1, 1), stopBeforeYear = lastYear,
        onYearCooled = { case (y, rows, diff) =>
          cooled += ((now, y, rows, diff))
          if (conf.corrupt != "none" && !damaged) { damaged = true; corrupt(y) }
        })
      None
    } catch { case t: Throwable => Some(describe(t)) }
    finally tag(null)
    val drain = now - c0
    val drainEndMs = System.currentTimeMillis()

    tag(s"c$cycle.q3")
    val q0 = now
    val pipeline = new CoolingPipeline(new ParquetPaymentsSource(coolDir("hot")),
      new ColdStore(coolDir("cold")), new Watermark(s"${coolDir("ckpt")}/watermark.json"))
    val q3 = pipeline.federationAnalytics(spark)
    val q3Built = now - q0
    val q3Err = try { q3.queryExecution.toRdd.count(); None }
      catch { case t: Throwable => Some(describe(t)) }
    val q3Lat = now - q0
    val q3EndMs = System.currentTimeMillis()
    tag(null)
    val wall = now - c0
    sampleStorage()

    // checks, untimed: calendar counts, reconcile diffs, content digests, Q3 grid
    val coldDigest = try yearDigest(new ColdStore(coolDir("cold")).scan(spark), col("payment_year"))
      catch { case t: Throwable => errors += s"cold digest: ${describe(t)}"; Map.empty[Int, (Long, Long)] }
    var prev = c0
    var ok = drainErr.isEmpty
    (startYear until lastYear).foreach { y =>
      val op = newOp("year", s"cool_$y", cycle, prev)
      cooled.find(_._2 == y) match {
        case Some((t, _, rows, diff)) =>
          val good = rows == expected(y)._1 && diff == 0L && coldDigest.get(y).contains(expected(y))
          op ++= Seq("latency_s" -> (t - prev), "rows" -> rows, "diff" -> diff, "ok" -> good,
            "window_ms" -> Seq(c0Ms + ((prev - c0) * 1000).toLong, c0Ms + ((t - c0) * 1000).toLong))
          if (!good) op += "error" -> (s"year $y: rows $rows (expected ${expected(y)._1}), " +
            s"diff $diff, digest ${coldDigest.get(y)} (expected ${expected(y)})")
          ok &= good
          prev = t
        case None =>
          op ++= Seq("ok" -> false, "error" -> drainErr.getOrElse(s"year $y was not cooled"))
          ok = false
      }
    }
    val grid = try q3.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sorted
      catch { case _: Throwable => Seq.empty }
    val wantGrid = (expected.toSeq.collect {
      case (y, (n, _)) if y < lastYear => (y, "s3", n)
      case (y, (n, _)) => (y, "pg", n)
    }).sorted
    val q3Ok = q3Err.isEmpty && grid == wantGrid
    val op = newOp("q3", "federation", cycle, q0)
    op ++= Seq("latency_s" -> q3Lat, "build_s" -> q3Built, "rows" -> grid.size.toLong,
      "ok" -> q3Ok, "window_ms" -> Seq(drainEndMs, q3EndMs))
    if (conf.trace) op ++= q3.queryExecution.tracker.phases.toSeq.map { case (k, v) =>
      s"${k}_s" -> v.durationMs / 1e3 }
    if (!q3Ok) op += "error" -> q3Err.getOrElse(s"grid $grid, expected $wantGrid")
    ok &= q3Ok
    if (cycle >= 0) passes += Map("pass" -> cycle, "wall_s" -> wall, "drain_s" -> drain,
      "ok" -> ok, "rows_cooled" -> cooled.map(_._3).sum, "window_ms" -> Seq(c0Ms, drainEndMs))
  }

  def cool(): Map[String, Any] = {
    val months = 12 * (lastYear - startYear) + 1
    val startIso = f"$startYear%04d-01-01"
    spark = GraftSession.prepare(GraftSession.local("perfbench"))
    PaymentsGenerator.writeHotStore(spark, coolDir("pristine"), startIso, months)
    val setup = now
    val expected = yearDigest(spark.read.parquet(coolDir("pristine")), year(col("payment_date")))
    tracer.foreach(_.attach(spark))
    coolCycle(-1, expected) // warm-up, checked but untimed
    val m0 = now
    var cycle = 0
    while (cycle < conf.minPasses || now - m0 < conf.seconds) { coolCycle(cycle, expected); cycle += 1 }
    val measured = now - m0
    finish(Map("setup_s" -> setup, "measured_s" -> measured, "start_year" -> startYear, "months" -> months,
      "expected" -> expected.toSeq.sorted.map { case (y, (n, h)) => Map("year" -> y, "rows" -> n, "digest" -> h) }))
  }

  // ---------------------------------------------------------------- result

  private def finish(extra: Map[String, Any]): Map[String, Any] = {
    val m = meta
    spark.stop() // drains the listener bus before the trace is read
    tracer.foreach(attachLayers)
    Map("workload" -> conf.workload, "meta" -> m,
      "ops" -> ops.map(_.toMap).toSeq, "passes" -> passes.toSeq, "releases" -> releases.toSeq,
      "peak_storage_bytes" -> peakStorageBytes, "errors" -> errors.toSeq,
      "total_s" -> now) ++ extra ++ tracer.map(t => "trace" -> traceSummary(t)).toMap
  }

  /** Per operation: the counters of its jobs (those its build launched
    * included, and also counted apart as `build_jobs`), and the time its
    * execution window had no running stage. */
  private def attachLayers(t: Tracer): Unit = ops.foreach { op =>
    val idx = op("idx")
    val exec = op("kind") match {
      case "query" => t.byTag.get(s"op$idx")
      case "check" => t.byTag.get(s"check.${op("name")}")
      case "q3" => t.byTag.get(s"c${op("pass")}.q3")
      case _ => None
    }
    val build = if (op("kind") == "query") t.byTag.get(s"op$idx.build") else None
    if (exec.isDefined || build.isDefined)
      op ++= (exec.toSeq ++ build).reduce(_ + _).fields
    if (op("kind") == "query") op += "build_jobs" -> build.map(_.jobs).getOrElse(0L)
    for (a <- exec; w <- op.get("exec_window_ms").orElse(op.get("window_ms"))) {
      val Seq(from: Long, to: Long) = w.asInstanceOf[Seq[Long]]
      op += "sched_gap_s" -> a.schedGapMs(from, to) / 1e3
    }
  }

  /** Cooling steps. The pipeline's actions reach the trace twice: as
    * `QueryExecutionListener` events (the action name: a write command is
    * the export, `head` the reconcile gate, `count` the re-count after the
    * watermark advance) and as SQL executions whose jobs carry the drain's
    * tag. The two id spaces differ, so they are paired by order; when the
    * counts disagree the steps keep their durations only. */
  private def traceSummary(t: Tracer): Map[String, Any] = {
    val stepOf = Map("command" -> "export", "save" -> "export", "insertInto" -> "export",
      "head" -> "reconcile", "count" -> "post_count")
    val events = t.qeEvents.filter(e => stepOf.contains(e.funcName))
    val execs = t.execTags.toSeq.filter(_._2.endsWith(".drain")).sortBy(_._1)
    val warm = execs.count(_._2 == "c-1.drain")
    val paired = events.size == execs.size
    val steps = if (execs.isEmpty) Seq.empty else events.zipWithIndex.drop(warm).map { case (e, i) =>
      val base = Map("func" -> e.funcName, "step" -> stepOf(e.funcName),
        "duration_s" -> e.durationNs / 1e9, "output_files" -> e.outputFiles, "ok" -> e.ok)
      if (!paired) base
      else base ++ Map("exec_id" -> execs(i)._1, "tag" -> execs(i)._2) ++ t.byExec(execs(i)._1).fields
    }
    val drains = passes.filter(_.contains("drain_s")).map { p =>
      val c = p("pass")
      val agg = t.byTag.getOrElse(s"c$c.drain", new LayerAgg)
      val Seq(from: Long, to: Long) = p("window_ms").asInstanceOf[Seq[Long]]
      val batches = t.batchesIn(from, to)
      Map("pass" -> c, "drain_s" -> p("drain_s"),
        "add_batch_s" -> batches.map(_._1).sum / 1e3,
        "trigger_s" -> batches.map(_._2).sum / 1e3,
        "sched_gap_s" -> agg.schedGapMs(from, to) / 1e3) ++ agg.fields
    }
    Map("drains" -> drains.toSeq, "steps" -> steps.toSeq, "steps_paired" -> paired,
      "untagged" -> t.byTag.get("untagged").map(_.fields.toMap))
  }
}
