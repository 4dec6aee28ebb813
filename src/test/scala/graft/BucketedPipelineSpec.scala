package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExclusionJoin
import graft.pipeline.{CoolingPipeline, PaymentsGenerator, Watermark}
import graft.sources.{BucketedColdStore, BucketedHotStore}

/** End-to-end cooling cycle over the year-co-bucketed store layout — the
  * lake-to-lake 100 TB deployment where the reconcile gate's shuffle was
  * paid at write time. Asserts the pipeline DETECTS the layout (its
  * [[CoolingPipeline.keySides]] read the year tables), that the gate it
  * runs — [[ExclusionJoin.count]], in the caller's session with no conf
  * set — moves zero data through an Exchange, and that the full
  * cool→reconcile→advance→drop cycle reaches the same end state as the
  * path-based pipeline.
  */
class BucketedPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val root = Files.createTempDirectory("graft-bpipe").toString
  private val wmPath = s"$root/watermark.json"
  private val Buckets = 4

  private lazy val fixture: CoolingPipeline = {
    val hot = new BucketedHotStore("bhot", Buckets)
    val all = PaymentsGenerator.payments(spark, "2020-01-01", months = 24)
    Seq(2020, 2021).foreach { y =>
      hot.loadYear(all.where(year(col("payment_date")) === y), y)
    }
    val wm = new Watermark(wmPath)
    wm.initIfAbsent(LocalDate.parse("2020-01-01"))
    new CoolingPipeline(hot, new BucketedColdStore("bcold", Buckets), wm)
  }

  test("layout detection: whole-year window over co-bucketed stores takes the bucketed gate") {
    val p = fixture
    // cold side not exported yet — no pair, the shuffle plan is the default
    assert(p.bucketedPair(spark, 2020).isEmpty)
    p.cold.exportYear(p.exportFrame(spark, 2020))
    assert(p.bucketedPair(spark, 2020)
      .contains(("bhot_payments_y2020", "bcold_payments_y2020")))
  }

  test("the gate's plan: bucketed scans, zero data Exchange") {
    val p = fixture
    assert(p.bucketedPair(spark, 2020).isDefined)
    // the frame the gate runs, in the caller's session as it is
    val (hot, coldSide) = p.keySides(spark, 2020)
    val frame = ExclusionJoin.diffCountFrame(hot, coldSide, p.reconcileKeys)
    assert(frame.collect().head.getLong(0) == 0L) // collect() finalizes frame's own adaptive plan
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed gate must not shuffle data:\n$plan")
    val nodes = new AdaptiveSparkPlanHelper {}.collect(frame.queryExecution.executedPlan) { case n => n }
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), plan)
    assert(plan.contains("Bucketed: true"), s"gate must scan bucketed:\n$plan")
  }

  test("corruption is still caught through the bucketed gate") {
    val p = fixture
    // a dropped row on the cold side (the export re-derives from hot, so
    // the corrupted copy is built from the hot side too)
    p.cold.exportYear(p.exportFrame(spark, 2020).where(col("id") =!= 42L))
    assert(p.reconcile(spark, 2020) == 1L)
    // restore the faithful copy (writeBucketed re-derives from the hot side)
    p.cold.exportYear(p.exportFrame(spark, 2020))
    assert(p.reconcile(spark, 2020) == 0L)
  }

  test("full cycle: both years cooled, hot year tables dropped, watermark advanced") {
    val p = fixture
    val runs = p.runAll(spark)
    assert(runs.map(_._1) == Seq(2020, 2021))
    assert(runs.map(_._3) == Seq(0L, 0L))
    assert(runs.head._2 == 527040L) // leap-year golden count (img/YQ_Federation_Query.png)
    assert(runs(1)._2 == 525600L)
    assert(!spark.catalog.tableExists("bhot_payments_y2020"))
    assert(!spark.catalog.tableExists("bhot_payments_y2021"))
    assert(p.cold.years(spark) == Seq(2020, 2021))
    assert(new Watermark(wmPath).year == 2022)
    // the federation query still unions both stores (hot side now empty)
    val fed = p.federationAnalytics(spark).collect()
    assert(fed.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((2020, "s3", 527040L), (2021, "s3", 525600L)))
  }
}
