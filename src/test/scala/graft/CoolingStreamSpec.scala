package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CoolingPipeline, CoolingStream, PaymentsGenerator, Watermark}
import graft.sources.{ColdStore, ParquetPaymentsSource}

/** The Trigger.AvailableNow cooling runner must (a) cool every targeted
  * year through the streaming trigger, (b) survive a crash between years
  * — a relaunch, also one with a later stop year, resumes from the
  * checkpointed watermark, not from scratch — and (c) land the exact
  * golden federation grid of /root/reference/img/YQ_Federation_Query.png
  * that ReferenceScaleSpec produces with the plain driver loop.
  */
class CoolingStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("AvailableNow cooling: crash after first year, restart resumes, golden grid") {
    val root = Files.createTempDirectory("graft-coolstream").toString
    PaymentsGenerator.writeHotStore(spark, s"$root/hot", "2020-01-01", months = 61)
    val start = LocalDate.parse("2020-01-01")

    // First launch: injected crash after 2020 cools — mid-batch failure,
    // so the streaming batch never commits but 2020's side effects
    // (export, drop, watermark advance) are already durable.
    val boom = intercept[StreamingQueryException] {
      CoolingStream.runAvailableNow(spark, s"$root/hot", s"$root/cold",
        s"$root/ckpt", start, stopBeforeYear = 2023,
        onYearCooled = r => if (r._1 == 2020) throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage.contains("injected crash"))

    // Durable state after the crash: 2020 is cooled and dropped, the
    // checkpointed watermark points at 2021.
    val src = new ParquetPaymentsSource(s"$root/hot")
    assert(src.listPartitions(spark, "payments_y2020").isEmpty, "2020 should be dropped")
    assert(src.listPartitions(spark, "payments_y2021").nonEmpty, "2021 must survive the crash")
    assert(new Watermark(s"$root/ckpt/watermark.json").year == 2021)

    // Restart on the same checkpoint: the run resumes at the watermark,
    // 2021 — cooling exactly the remaining two years.
    val resumed = CoolingStream.runAvailableNow(spark, s"$root/hot", s"$root/cold",
      s"$root/ckpt", start, stopBeforeYear = 2023)
    assert(resumed.map(r => (r._1, r._2, r._3)) ==
      Seq((2021, 525600L, 0L), (2022, 525600L, 0L)), s"resumed: $resumed")

    // A further drain finds nothing below the stop year: idempotent no-op.
    assert(CoolingStream.runAvailableNow(spark, s"$root/hot", s"$root/cold",
      s"$root/ckpt", start, stopBeforeYear = 2023).isEmpty)

    // Golden federation grid — byte-identical to ReferenceScaleSpec's.
    val p = new CoolingPipeline(src, new ColdStore(s"$root/cold"),
      new Watermark(s"$root/ckpt/watermark.json"))
    val fed = p.federationAnalytics(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(fed == Seq(
      (2020, "s3", 527040L), (2021, "s3", 525600L), (2022, "s3", 525600L),
      (2023, "pg", 525600L), (2024, "pg", 527040L), (2025, "pg", 44640L)))
  }

  test("a relaunch with a later stop year cools the years an earlier launch left hot") {
    val root = Files.createTempDirectory("graft-coolstream-relaunch").toString
    PaymentsGenerator.writeHotStore(spark, s"$root/hot", "2020-01-01", months = 37)
    val start = LocalDate.parse("2020-01-01")
    def launch(stop: Int) = CoolingStream.runAvailableNow(spark, s"$root/hot", s"$root/cold",
      s"$root/ckpt", start, stopBeforeYear = stop)

    assert(launch(2021) == Seq((2020, 527040L, 0L)))
    // every hot file was already seen by the first launch: the second must
    // still fire a batch, or 2021 and 2022 stay hot behind the watermark
    assert(launch(2023) == Seq((2021, 525600L, 0L), (2022, 525600L, 0L)))
    assert(new Watermark(s"$root/ckpt/watermark.json").year == 2023)
    val src = new ParquetPaymentsSource(s"$root/hot")
    assert(src.listPartitions(spark, "payments_y2021").isEmpty, "2021 should be dropped")
    // a year with any hot partition cools, not only a fully landed one
    assert(launch(Int.MaxValue) == Seq((2023, 44640L, 0L)))
  }
}
