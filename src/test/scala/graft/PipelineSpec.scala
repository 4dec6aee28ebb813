package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExclusionJoin
import graft.pipeline.{CoolingPipeline, PaymentsGenerator, Watermark}
import graft.sources.{ColdStore, FsUtil, ParquetPaymentsSource, PaymentsSource}

/** End-to-end test of the cooling pipeline at mini scale (SURVEY.md §5.2):
  * 13 generated months (2020 full leap year + 2021-01), cooled year by
  * year, with the reference's golden per-year cardinalities
  * (img/YQ_Federation_Query.png: 527,040 rows for a leap year, 44,640 for
  * one 31-day month) and the negative tests of FIXTURES.md §A5.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val root = Files.createTempDirectory("graft-pipeline").toString
  private val hotBase = s"$root/hot"
  private val coldBase = s"$root/cold"
  private val wmPath = s"$root/watermark.json"

  private lazy val fixture: CoolingPipeline = {
    PaymentsGenerator.writeHotStore(spark, hotBase, "2020-01-01", months = 13)
    val wm = new Watermark(wmPath)
    wm.initIfAbsent(LocalDate.parse("2020-01-01"))
    new CoolingPipeline(new ParquetPaymentsSource(hotBase), new ColdStore(coldBase), wm)
  }

  test("hot store generates the reference's partition layout and cardinality") {
    val p = fixture
    val src = new ParquetPaymentsSource(hotBase)
    val parts = src.listPartitions(spark, "payments_y")
    assert(parts.size == 13 && parts.head == "payments_y2020m01" && parts.last == "payments_y2021m01")
    assert(src.scan(spark).count() == 527040L + 44640L) // leap 2020 + Jan 2021
  }

  test("run 1 cools the leap year: golden count, reconcile 0, source dropped, watermark advanced") {
    val p = fixture
    val (year, exported, diff) = p.runOnce(spark)
    assert(year == 2020 && diff == 0L)
    assert(exported == 527040L) // img/YQ_Federation_Query.png leap-year row
    assert(FsUtil.listDir(spark, hotBase).forall(!_.startsWith("pmonth=y2020")))
    assert(new Watermark(wmPath).value == LocalDate.parse("2021-01-01"))
    // export is second-truncated and partition-pruned on disk
    assert(FsUtil.exists(spark, s"$coldBase/payment_year=2020"))
  }

  test("idempotent re-export: overwriting the same year keeps reconcile at 0 and no duplicates") {
    val p = fixture
    // simulate crash after export, before drop: re-run the export of 2021
    val s = LocalDate.parse("2021-01-01"); val e = LocalDate.parse("2022-01-01")
    p.cold.exportYear(p.exportFrame(spark, s, e))
    p.cold.exportYear(p.exportFrame(spark, s, e)) // second time — dynamic overwrite
    assert(p.reconcile(spark, s, e) == 0L)
    assert(p.cold.scan(spark).where(col("payment_year") === 2021).count() == 44640L)
  }

  test("negative: corrupted copies are caught by reconciliation (drop/dup/amount-bit)") {
    val p = fixture
    val s = LocalDate.parse("2021-01-01"); val e = LocalDate.parse("2022-01-01")
    val good = p.exportFrame(spark, s, e)

    // each corrupted copy goes through a whole run: the gate refuses it,
    // names the victim id, and nothing destructive happens
    def reconcileWith(corrupt: DataFrame => DataFrame, victims: String*): Long = {
      val corrupting = new ColdStore(coldBase) {
        override def exportYear(df: DataFrame): Unit = super.exportYear(corrupt(df))
      }
      val refused = intercept[IllegalStateException](
        new CoolingPipeline(p.source, corrupting, p.watermark).runOnce(spark))
      assert(refused.getMessage.contains("Data are not equal!"), refused.getMessage)
      victims.foreach(v => assert(refused.getMessage.contains(v), refused.getMessage))
      assert(p.watermark.value == s)
      assert(p.source.listPartitions(spark, "payments_y2021") == Seq("payments_y2021m01"))
      p.reconcile(spark, s, e)
    }
    // drop one row
    assert(reconcileWith(_.where(col("id") =!= 527041L), "id 527041 +1") == 1L)
    // duplicate one row
    assert(reconcileWith(df => df.unionAll(df.where(col("id") === 527041L)), "id 527041 -1") == 1L)
    // flip one amount's low bits — DOUBLE is part of the join key
    val flip = (df: DataFrame) => df.withColumn("amount",
      when(col("id") === 527042L, col("amount") + lit(1e-9)).otherwise(col("amount")))
    assert(reconcileWith(flip, "id 527042 +1", "id 527042 -1") == 2L) // unmatched on both sides
    // restore the faithful copy for subsequent tests
    p.cold.exportYear(good)
    assert(p.reconcile(spark, s, e) == 0L)
  }

  test("the shuffle gate's plan: one Exchange hashpartitioning, no sort-merge join") {
    val p = fixture
    val (hot, coldSide) = p.keySides(spark, LocalDate.parse("2021-01-01"), LocalDate.parse("2022-01-01"))
    val gate = ExclusionJoin.diffCountFrame(hot, coldSide, p.reconcileKeys)
    assert(gate.collect().head.getLong(0) == 0L) // collect() finalizes gate's own adaptive plan
    val nodes = new AdaptiveSparkPlanHelper {}.collect(gate.queryExecution.executedPlan) { case n => n }
    val hashExchanges = nodes.collect {
      case x: ShuffleExchangeExec if x.outputPartitioning.isInstanceOf[HashPartitioning] => x
    }
    assert(hashExchanges.size == 1, gate.queryExecution.executedPlan.toString)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), gate.queryExecution.executedPlan.toString)
  }

  test("run 2 cools the partial month; federation analytics reproduces the golden distribution") {
    val p = fixture
    val (year, exported, diff) = p.runOnce(spark)
    assert(year == 2021 && exported == 44640L && diff == 0L)
    val fed = p.federationAnalytics(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(fed == Seq((2020, "s3", 527040L), (2021, "s3", 44640L)))
    assert(new Watermark(wmPath).value == LocalDate.parse("2022-01-01"))
    // runAll on the exhausted store is a no-op
    assert(p.runAll(spark).isEmpty)
  }

  test("exported parquet carries second-truncated timestamps and non-nullable id") {
    val p = fixture
    val cold = p.cold.scan(spark)
    val withSubSecond =
      cold.where(col("payment_date") =!= date_trunc("second", col("payment_date"))).count()
    assert(withSubSecond == 0L)
    assert(p.cold.schema("id").nullable == false)
  }

  test("two drivers, one watermark: the later advance is refused, 2021's hot partitions survive") {
    // the other driver cools the same 2020 window and advances while this
    // run sits between its drop and its advance
    val dir = Files.createTempDirectory("graft-pipeline-race").toString
    PaymentsGenerator.writeHotStore(spark, s"$dir/hot", "2020-12-01", months = 2)
    val wmFile = s"$dir/watermark.json"
    val start = LocalDate.parse("2020-01-01")
    new Watermark(wmFile).initIfAbsent(start)
    val hot = new ParquetPaymentsSource(s"$dir/hot")
    val racing = new PaymentsSource {
      def scan(spark: SparkSession): DataFrame = hot.scan(spark)
      def listPartitions(spark: SparkSession, prefix: String): Seq[String] =
        hot.listPartitions(spark, prefix)
      def dropPartitions(spark: SparkSession, names: Seq[String]): Unit = {
        hot.dropPartitions(spark, names)
        new Watermark(wmFile).advance(start)
        ()
      }
    }
    val p = new CoolingPipeline(racing, new ColdStore(s"$dir/cold"), new Watermark(wmFile))
    val refused = intercept[IllegalStateException](p.runOnce(spark))
    assert(refused.getMessage.contains("another driver"), refused.getMessage)
    assert(new Watermark(wmFile).value == LocalDate.parse("2021-01-01"))
    assert(hot.listPartitions(spark, "payments_y2021") == Seq("payments_y2021m01"))
    assert(hot.scan(spark).where(year(col("payment_date")) === 2021).count() == 44640L)
  }

  test("a stale advance leaves the watermark file unchanged") {
    val path = Files.createTempDirectory("graft-watermark").resolve("watermark.json")
    val wm = new Watermark(path.toString)
    wm.initIfAbsent(LocalDate.parse("2021-01-01"))
    val before = Files.readAllBytes(path).toSeq
    intercept[IllegalStateException](wm.advance(LocalDate.parse("2020-01-01")))
    assert(Files.readAllBytes(path).toSeq == before)
    assert(wm.advance(LocalDate.parse("2021-01-01")) == LocalDate.parse("2022-01-01"))
    assert(wm.value == LocalDate.parse("2022-01-01"))
  }
}
