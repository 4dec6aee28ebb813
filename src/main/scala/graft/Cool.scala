package graft

import java.time.LocalDate

import graft.pipeline.{CoolingPipeline, Watermark}
import graft.sources.{ColdStore, ParquetPaymentsSource}

/** Companion generator CLI: seed a hot store for [[Cool]] runs.
  * Usage: `graft.Gen <hotDir> [startDate] [months]` — mirrors the
  * reference's db_init.sql data generator (1 row/minute, seeded).
  */
object Gen {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: graft.Gen <hotDir> [startDate] [months]"); sys.exit(2) }
    val spark = GraftSession.prepare(GraftSession.local("graft-gen"))
    graft.pipeline.PaymentsGenerator.writeHotStore(
      spark, args(0), args.lift(1).getOrElse("2020-01-01"), args.lift(2).map(_.toInt).getOrElse(13))
    println(s"""{"hot_dir":"${args(0)}","rows":${spark.read.parquet(args(0)).count()}}""")
    spark.stop()
  }
}

/** CLI for the cooling pipeline — the operational surface of the
  * reference's DAG (`airflow trigger YQ_DEMO` → `java … graft.Cool`).
  *
  * Usage: `graft.Cool <hotDir> <coldDir> <watermarkFile> [initDate=YYYY-01-01] [maxRuns]`
  *
  * Each run moves one calendar year hot→cold, reconciles, advances the
  * watermark, and drops the source partitions; `maxRuns` > 1 replays the
  * hourly cadence until the hot store is drained (the reference's
  * `@hourly` single-flight loop, compressed).
  */
object Cool {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.Cool <hotDir> <coldDir> <watermarkFile> [initDate=YYYY-01-01] [maxRuns]")
      sys.exit(2)
    }
    val Array(hotDir, coldDir, wmFile) = args.take(3)
    val initDate = args.lift(3).getOrElse("2020-01-01")
    val maxRuns = args.lift(4).map(_.toInt).getOrElse(1)

    val spark = GraftSession.prepare(GraftSession.local("graft-cool"))
    val wm = new Watermark(wmFile)
    wm.initIfAbsent(LocalDate.parse(initDate))
    val pipeline = new CoolingPipeline(new ParquetPaymentsSource(hotDir), new ColdStore(coldDir), wm)

    val results = pipeline.runAll(spark, maxRuns)
    results.foreach { case (year, rows, diff) =>
      println(s"""{"year":$year,"rows_exported":$rows,"reconcile_diff":$diff}""")
    }
    println(s"""{"runs":${results.size},"watermark":"${LocalDate.of(wm.year, 1, 1)}"}""")
    spark.stop()
  }
}
