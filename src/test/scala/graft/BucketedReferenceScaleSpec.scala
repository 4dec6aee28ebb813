package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExclusionJoin
import graft.pipeline.{CoolingPipeline, PaymentsGenerator, Watermark}
import graft.sources.{BucketedColdStore, BucketedHotStore}

/** The bucketed reconcile at REFERENCE scale — the measurement companion
  * to [[BucketedPipelineSpec]] (which pins the zero-Exchange plan shape on
  * a 24-month fixture). Here the full 61-month, 2,675,520-row corpus of
  * /root/reference/img/YQ_Federation_Query.png cools through the
  * year-co-bucketed store pair, and the Q2 gate is timed BOTH ways on the
  * same cooled year: the exchange-free bucketed plan vs the default
  * shuffle plan (same tables, bucketing disabled in a derived session).
  * The two wall-times land in SCALE.md §Reconcile so the write-time-vs-
  * read-time shuffle trade is a recorded number, not an argument.
  */
class BucketedReferenceScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // bucket count sizes the gate's parallelism (a bucketed scan runs one
  // task per bucket — no Exchange means no repartitioning to more tasks),
  // so it must match the executor-core budget, exactly as on a real
  // cluster. 8 buckets on this 32-thread host capped the gate at 8 tasks
  // and LOST to the shuffle plan (1.51 s vs 1.03 s); at the core count it
  // wins. SCALE.md §Reconcile records both runs.
  private val Buckets = 32

  test("61-month corpus cools through co-bucketed stores; gate timed bucketed vs shuffle") {
    val root = Files.createTempDirectory("graft-brefscale").toString
    val hot = new BucketedHotStore("rshot", Buckets)
    val all = PaymentsGenerator.payments(spark, "2020-01-01", months = 61)
    (2020 to 2025).foreach { y =>
      hot.loadYear(all.where(year(col("payment_date")) === y), y)
    }
    val wm = new Watermark(s"$root/wm.json")
    wm.initIfAbsent(LocalDate.parse("2020-01-01"))
    val cold = new BucketedColdStore("rscold", Buckets)
    val p = new CoolingPipeline(hot, cold, wm)

    assert(p.source.scan(spark).count() == 2675520L) // golden corpus total

    // stage 2020 on the cold side so the gate has a real pair to reconcile
    val s = LocalDate.parse("2020-01-01"); val e = s.plusYears(1)
    cold.exportYear(p.exportFrame(spark, s, e))
    val Some((hotT, coldT)) = p.bucketedPair(spark, s, e)

    // the measured contenders: identical tables, identical 527,040-row
    // year, identical 6-column key — only the plan differs. min-of-3
    // (noisy host); both must agree the copy is faithful.
    def minOf3(f: () => Long): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        assert(f() == 0L)
        (System.nanoTime() - t0) / 1e9
      }.min

    val bucketedSecs = minOf3(() =>
      ExclusionJoin.countBucketed(spark, hotT, coldT, p.reconcileKeys))

    val plain = spark.newSession() // same data through the shuffle plan
    plain.conf.set("spark.sql.sources.bucketing.enabled", "false")
    val shuffleSecs = minOf3(() =>
      ExclusionJoin.count(plain.table(hotT), plain.table(coldT), p.reconcileKeys))

    // sanity that the two timings measured the plans they claim
    val gate = spark.newSession()
    gate.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val bucketedPlan = ExclusionJoin.countFrame(
      gate.table(hotT), gate.table(coldT), p.reconcileKeys)
      .queryExecution.executedPlan.toString
    assert(!bucketedPlan.contains("Exchange hashpartitioning"))
    val shufflePlan = ExclusionJoin.diffCountFrame(
      plain.table(hotT), plain.table(coldT), p.reconcileKeys)
      .queryExecution.executedPlan.toString
    assert(shufflePlan.contains("Exchange hashpartitioning"))

    info(f"Q2 gate over the 527,040-row cooled year: bucketed $bucketedSecs%.2f s, " +
      f"shuffle $shuffleSecs%.2f s (x${shuffleSecs / bucketedSecs}%.1f)")

    // full cooling cycle: all six years (2025 is the 1-month partial year)
    val t0 = System.nanoTime()
    val runs = p.runAll(spark)
    val coolSecs = (System.nanoTime() - t0) / 1e9
    assert(runs.map(r => (r._1, r._2, r._3)) == Seq(
      (2020, 527040L, 0L), (2021, 525600L, 0L), (2022, 525600L, 0L),
      (2023, 525600L, 0L), (2024, 527040L, 0L), (2025, 44640L, 0L)))
    assert(new Watermark(s"$root/wm.json").value == LocalDate.parse("2026-01-01"))
    info(f"cooled all 6 years (2.68M rows) through the bucketed layout in $coolSecs%.1f s")

    // the golden federation grid, now entirely from the cold store
    val fed = p.federationAnalytics(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(fed == Seq(
      (2020, "s3", 527040L), (2021, "s3", 525600L), (2022, "s3", 525600L),
      (2023, "s3", 525600L), (2024, "s3", 527040L), (2025, "s3", 44640L)))

    (2020 to 2025).foreach(y => spark.sql(s"DROP TABLE IF EXISTS rscold_payments_y$y"))
  }
}
