package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.util.Try

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
    assert(new Watermark(wmPath).year == 2021)
    // export is second-truncated and partition-pruned on disk
    assert(FsUtil.exists(spark, s"$coldBase/payment_year=2020"))
  }

  test("idempotent re-export: overwriting the same year keeps reconcile at 0 and no duplicates") {
    val p = fixture
    // simulate crash after export, before drop: re-run the export of 2021
    p.cold.exportYear(p.exportFrame(spark, 2021))
    p.cold.exportYear(p.exportFrame(spark, 2021)) // second time — dynamic overwrite
    assert(p.reconcile(spark, 2021) == 0L)
    assert(p.cold.scan(spark).where(col("payment_year") === 2021).count() == 44640L)
  }

  test("negative: corrupted copies are caught by reconciliation (drop/dup/amount-bit)") {
    val p = fixture
    val good = p.exportFrame(spark, 2021)

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
      assert(p.watermark.year == 2021)
      assert(p.source.listPartitions(spark, "payments_y2021") == Seq("payments_y2021m01"))
      p.reconcile(spark, 2021)
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
    assert(p.reconcile(spark, 2021) == 0L)
  }

  test("the shuffle gate's plan: one Exchange hashpartitioning, no sort-merge join") {
    val p = fixture
    val (hot, coldSide) = p.keySides(spark, 2021)
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
    assert(new Watermark(wmPath).year == 2022)
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
    new Watermark(wmFile).initIfAbsent(LocalDate.parse("2020-01-01"))
    val hot = new ParquetPaymentsSource(s"$dir/hot")
    val racing = new PaymentsSource {
      def scan(spark: SparkSession): DataFrame = hot.scan(spark)
      def listPartitions(spark: SparkSession, prefix: String): Seq[String] =
        hot.listPartitions(spark, prefix)
      def dropPartitions(spark: SparkSession, names: Seq[String]): Unit = {
        hot.dropPartitions(spark, names)
        new Watermark(wmFile).advance(2020)
        ()
      }
    }
    val p = new CoolingPipeline(racing, new ColdStore(s"$dir/cold"), new Watermark(wmFile))
    val refused = intercept[IllegalStateException](p.runOnce(spark))
    assert(refused.getMessage.contains("another driver"), refused.getMessage)
    assert(new Watermark(wmFile).year == 2021)
    assert(hot.listPartitions(spark, "payments_y2021") == Seq("payments_y2021m01"))
    assert(hot.scan(spark).where(year(col("payment_date")) === 2021).count() == 44640L)
  }

  test("a stale advance leaves the watermark file unchanged") {
    val path = Files.createTempDirectory("graft-watermark").resolve("watermark.json")
    val wm = new Watermark(path.toString)
    wm.initIfAbsent(LocalDate.parse("2021-01-01"))
    val before = Files.readAllBytes(path).toSeq
    intercept[IllegalStateException](wm.advance(2020))
    assert(Files.readAllBytes(path).toSeq == before)
    assert(wm.advance(2021) == 2022)
    assert(wm.year == 2022)
  }

  /** A 13-month hot store (2020 + 2021-01) and its pipeline parts, for
    * the crash points; `crashDrop(n)` is a view of the hot store whose
    * drop removes the first `n` partitions it is given, then dies;
    * `crashExport(written)` is a cold store that exports `written(year)`,
    * then dies.
    */
  private final class CrashFixture(tag: String) {
    val dir = Files.createTempDirectory(s"graft-pipeline-$tag").toString
    PaymentsGenerator.writeHotStore(spark, s"$dir/hot", "2020-01-01", months = 13)
    val hot = new ParquetPaymentsSource(s"$dir/hot")
    val cold = new ColdStore(s"$dir/cold")
    val wmFile = s"$dir/watermark.json"
    val wm = new Watermark(wmFile)
    wm.initIfAbsent(LocalDate.parse("2020-01-01"))

    def crashDrop(n: Int, w: Watermark = wm): CoolingPipeline = new CoolingPipeline(new PaymentsSource {
      def scan(spark: SparkSession): DataFrame = hot.scan(spark)
      def listPartitions(spark: SparkSession, prefix: String): Seq[String] =
        hot.listPartitions(spark, prefix)
      def dropPartitions(spark: SparkSession, names: Seq[String]): Unit = {
        hot.dropPartitions(spark, names.take(n))
        throw new RuntimeException("injected crash")
      }
    }, cold, w)

    def crashExport(written: DataFrame => DataFrame): CoolingPipeline =
      new CoolingPipeline(hot, new ColdStore(cold.base) {
        override def exportYear(df: DataFrame): Unit = {
          super.exportYear(written(df))
          throw new RuntimeException("injected crash")
        }
      }, wm)

    def restarted: CoolingPipeline = new CoolingPipeline(hot, cold, wm)

    /** Row count and content digest of one year's reconcile keys. */
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(CoolingPipeline.reconcileKeys.map(col): _*))).head
      (r.getLong(0), r.getLong(1))
    }
    def hot2020: (Long, Long) = digest(hot.scan(spark).where(year(col("payment_date")) === 2020))
    def cold2020: (Long, Long) = digest(cold.scan(spark).where(col("payment_year") === 2020))

    /** From a crash before 2020's advance, the restart cools 2020 and then
      * 2021, and 2020's cold copy ends whole: `want`'s rows and digest.
      */
    def restartConverges(want: (Long, Long)): Unit = {
      assert(restarted.runAll(spark) == Seq((2020, 527040L, 0L), (2021, 44640L, 0L)))
      assert(hot.listPartitions(spark, "payments_y").isEmpty)
      assert(cold2020 == want)
      assert(wm.year == 2022)
    }
  }

  test("crash after 6 of 12 drops: the restart finishes the drop, 2020's copy stays whole, 2021 cools") {
    val f = new CrashFixture("crash-mid-drop")
    val want = f.digest(f.hot.scan(spark).where(year(col("payment_date")) === 2020))
    assert(want._1 == 527040L)
    val crash = intercept[RuntimeException](f.crashDrop(6).runOnce(spark))
    assert(crash.getMessage == "injected crash")
    assert(f.hot.listPartitions(spark, "payments_y2020").size == 6)

    // the restart must not re-cool the 6 surviving months over the full copy
    assert(f.restarted.runAll(spark) == Seq((2021, 44640L, 0L)))
    assert(f.hot.listPartitions(spark, "payments_y").isEmpty)
    assert(f.digest(f.cold.scan(spark).where(col("payment_year") === 2020)) == want)
    assert(f.wm.year == 2022)
  }

  test("crash after advance, before drop: the restart removes 2020's leftover hot partitions and cools 2021") {
    val f = new CrashFixture("crash-before-drop")
    intercept[RuntimeException](f.crashDrop(0).runOnce(spark))
    // the advance committed 2020 and recorded its drop as pending
    assert(f.wm.year == 2021)
    assert(f.wm.pendingDrop.contains("payments_y2020"))
    assert(f.hot.listPartitions(spark, "payments_y2020").size == 12)

    // a pending drop is finished even by a run that opens no window
    assert(f.restarted.runAll(spark, maxRuns = 0).isEmpty)
    assert(f.hot.listPartitions(spark, "payments_y2020").isEmpty)
    assert(f.restarted.runAll(spark) == Seq((2021, 44640L, 0L)))
    assert(f.hot.listPartitions(spark, "payments_y").isEmpty)
    assert(f.cold.scan(spark).where(col("payment_year") === 2020).count() == 527040L)
    assert(f.wm.year == 2022)
  }

  test("crash after export: the restart re-exports 2020 over its copy and cools 2021") {
    val f = new CrashFixture("crash-after-export")
    val want = f.hot2020
    assert(intercept[RuntimeException](f.crashExport(identity).runOnce(spark)).getMessage == "injected crash")
    assert(f.cold2020 == want && f.wm.year == 2020)
    f.restartConverges(want)
  }

  test("crash after a passing gate, before the advance: nothing is committed, the restart converges") {
    val f = new CrashFixture("crash-after-gate")
    val want = f.hot2020
    // a directory where the advance writes its temp file: the gate passes,
    // then the advance's write fails before the watermark file is replaced
    val tmp = Files.createDirectory(Paths.get(s"${f.wmFile}.tmp"))
    val before = Files.readAllBytes(Paths.get(f.wmFile)).toSeq
    intercept[java.io.IOException](f.restarted.runOnce(spark))
    Files.delete(tmp)
    assert(Files.readAllBytes(Paths.get(f.wmFile)).toSeq == before)
    assert(f.cold2020 == want && f.hot.listPartitions(spark, "payments_y2020").size == 12)
    f.restartConverges(want)
  }

  test("torn export: half of 2020 written, then a crash; the restart overwrites it whole and cools 2021") {
    val f = new CrashFixture("torn-export")
    val want = f.hot2020
    intercept[RuntimeException](f.crashExport(_.where(month(col("payment_date")) <= 6)).runOnce(spark))
    assert(f.cold2020._1 == 262080L && f.wm.year == 2020) // Jan-Jun of a leap year
    f.restartConverges(want)
  }

  test("a second driver started inside a run is refused before it reads the watermark and writes nothing") {
    val f = new CrashFixture("lease")
    val want = f.hot2020
    // the second driver, on its own handle of the same watermark file, would
    // cool 2020 and die after dropping 6 of its 12 months
    val second = f.crashDrop(6, new Watermark(f.wmFile))
    var refused: Try[Seq[(Int, Long, Long)]] = null
    var wroteNothing = false
    // the first driver has read 2020; the second runs before it lists the hot store
    val first = new CoolingPipeline(new PaymentsSource {
      def scan(spark: SparkSession): DataFrame = {
        if (refused == null) {
          val wmBefore = Files.readAllBytes(Paths.get(f.wmFile)).toSeq
          refused = Try(second.runAll(spark))
          wroteNothing = Files.readAllBytes(Paths.get(f.wmFile)).toSeq == wmBefore &&
            f.cold.years(spark).isEmpty && f.hot.listPartitions(spark, "payments_y2020").size == 12
        }
        f.hot.scan(spark)
      }
      def listPartitions(spark: SparkSession, prefix: String): Seq[String] = f.hot.listPartitions(spark, prefix)
      def dropPartitions(spark: SparkSession, names: Seq[String]): Unit = f.hot.dropPartitions(spark, names)
    }, f.cold, f.wm)
    assert(first.runOnce(spark) == ((2020, 527040L, 0L)))
    assert(refused.failed.get.getMessage.contains(s"${f.wmFile}.lock"), refused)
    assert(wroteNothing)
    assert(f.cold2020 == want)
    assert(f.wm.year == 2021 && f.hot.listPartitions(spark, "payments_y2020").isEmpty)
    // the lease is released with the run
    assert(f.restarted.runAll(spark) == Seq((2021, 44640L, 0L)))
  }

  test("a session at static partition-overwrite mode: cooling 2021 keeps cold 2020") {
    val f = new CrashFixture("static-overwrite")
    val want = f.hot2020
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try assert(f.restarted.runAll(spark) == Seq((2020, 527040L, 0L), (2021, 44640L, 0L)))
    finally spark.conf.set(key, saved)
    assert(f.cold2020 == want)
    assert(f.cold.scan(spark).where(col("payment_year") === 2021).count() == 44640L)
  }

  test("a mid-year watermark is refused: init writes nothing, and a run on such a file touches nothing") {
    val f = new CrashFixture("mid-year")
    val fresh = s"${f.dir}/fresh.json"
    val badInit = intercept[IllegalArgumentException](new Watermark(fresh).initIfAbsent(LocalDate.parse("2020-06-01")))
    assert(badInit.getMessage.contains(fresh) && badInit.getMessage.contains("2020-06-01"), badInit.getMessage)
    assert(!Files.exists(Paths.get(fresh)))

    // a file an older build wrote with a mid-year date
    Files.write(Paths.get(f.wmFile), """{"EXP_DATE": "2020-06-01"}""".getBytes("UTF-8"))
    val before = Files.readAllBytes(Paths.get(f.wmFile)).toSeq
    Seq[CoolingPipeline => Any](_.runOnce(spark), _.runAll(spark)).foreach { run =>
      val bad = intercept[IllegalArgumentException](run(f.restarted))
      assert(bad.getMessage.contains(f.wmFile) && bad.getMessage.contains("2020-06-01"), bad.getMessage)
    }
    assert(Files.readAllBytes(Paths.get(f.wmFile)).toSeq == before)
    assert(f.hot.listPartitions(spark, "payments_y").size == 13 && f.cold.years(spark).isEmpty)
  }
}
