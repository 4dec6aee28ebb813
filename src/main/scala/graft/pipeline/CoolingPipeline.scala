package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Yql
import graft.operators.ExclusionJoin
import graft.sources.{ColdStore, PaymentsSource, YearBucketedStore}

/** The reference's whole DAG as one Spark driver program (SURVEY.md §2.9,
  * §3.1): per run, move one year of `payments` from the hot store to
  * Hive-partitioned parquet, verify the copy with the exclusion-join
  * reconciliation, and only then drop the source partitions and advance the
  * watermark.
  *
  *   delete target partition (K2, folded into dynamic overwrite)
  *   → export window (Q1: yq_dag.py:65-74)
  *   → reconcile (Q2: yq_dag.py:82-95) == 0        (C2 branch)
  *   → drop source partitions (K3: yq_dag.py:106-122)
  *   → advance watermark (C4: yq_dag.py:124-128)
  *
  * Crash-safety = the reference's own story, kept deliberately: export is
  * idempotent (partition overwrite), reconcile is read-only, and the
  * watermark moves last — a crash anywhere re-runs the same window to the
  * same end state. A failed reconciliation throws (C3) *before* anything
  * destructive, exactly like `raise ValueError('Data are not equal!')`
  * (yq_dag.py:28-29).
  */
final class CoolingPipeline(
    val source: PaymentsSource,
    val cold: ColdStore,
    val watermark: Watermark) {

  /** The 6-column reconciliation key (yq_dag.py:93-94): NOT NULL columns
    * only — nullable `descr` and the truncated `payment_date` are
    * deliberately excluded; `amount` is a DOUBLE compared bit-exactly.
    */
  val reconcileKeys: Seq[String] = CoolingPipeline.reconcileKeys

  private def windowFilter(df: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    df.filter(col("payment_date") >= lit(java.sql.Date.valueOf(start)) &&
      col("payment_date") < lit(java.sql.Date.valueOf(end)))

  /** Q1 "load" projection (yq_dag.py:65-74): unwrap the required id,
    * second-truncate the timestamp (YQL Datetime cast), derive the
    * partition year. Filter + projection reach the source scan.
    */
  def exportFrame(spark: SparkSession, start: LocalDate, end: LocalDate): DataFrame =
    windowFilter(source.scan(spark), start, end)
      .select( // every column re-aliased: JDBC sources may surface
        Yql.unwrap(col("id")).as("id"), // dialect-uppercased names (Derby)
        col("doc_num").as("doc_num"),
        col("accdt").as("accdt"),
        col("acckt").as("acckt"),
        col("descr").as("descr"),
        col("amount").as("amount"),
        col("state").as("state"),
        Yql.toDatetime(col("payment_date")).as("payment_date"))
      .withColumn("payment_year", Yql.unwrap(Yql.paymentYear(col("payment_date"))))

  /** Q2 "check" (yq_dag.py:82-95): exclusion-join cardinality across the
    * two stores over the same window; 0 ⇔ the copy is faithful.
    *
    * Store-layout detection: when BOTH stores are year-co-bucketed
    * catalog tables ([[graft.sources.YearBucketedStore]], the lake-to-lake
    * 100 TB deployment) and the window is one whole year, the gate takes
    * [[ExclusionJoin.countBucketed]] — zero data Exchange; the shuffle was
    * paid once, at write time. Any other layout (the reference's live-PG
    * hot store can't be bucket-aligned) takes the shuffle plan, which is
    * the correct default there.
    */
  def reconcile(spark: SparkSession, start: LocalDate, end: LocalDate): Long =
    bucketedPair(spark, start, end) match {
      case Some((hotTable, coldTable)) =>
        ExclusionJoin.countBucketed(spark, hotTable, coldTable, reconcileKeys)
      case None =>
        val (hot, coldSide) = keySides(spark, start, end)
        ExclusionJoin.count(hot, coldSide, reconcileKeys)
    }

  /** The window's reconcile-key projections of the hot and the cold store. */
  private[graft] def keySides(spark: SparkSession, start: LocalDate, end: LocalDate): (DataFrame, DataFrame) = {
    def keys(df: DataFrame) = windowFilter(df, start, end).select(reconcileKeys.map(col): _*)
    (keys(source.scan(spark)), keys(cold.scan(spark)))
  }

  /** Up to `n` key tuples that fail the window's reconcile, rendered as
    * `id <id> <signed multiplicity>` (`+` only in the hot store, `-` only
    * in the cold store). Runs only after the gate has failed.
    */
  private def offenders(spark: SparkSession, start: LocalDate, end: LocalDate, n: Int): Seq[String] = {
    val (hot, coldSide) = keySides(spark, start, end)
    ExclusionJoin.diffFrame(hot, coldSide, reconcileKeys).limit(n).collect().toSeq.map { r =>
      val d = r.getAs[Long]("diff")
      s"id ${r.getAs[Any]("id")} ${if (d > 0) "+" else ""}$d"
    }
  }

  /** The co-bucketed table pair for this window, when the layout supports
    * the exchange-free gate: both stores year-bucketed with the SAME
    * bucket count, a whole-year window, both year tables present. Exposed
    * so specs can assert the plan the gate executes.
    */
  def bucketedPair(spark: SparkSession, start: LocalDate,
                   end: LocalDate): Option[(String, String)] = (source, cold) match {
    case (h: YearBucketedStore, c: YearBucketedStore)
        if h.buckets == c.buckets &&
          start.getDayOfYear == 1 && end == start.plusYears(1) &&
          spark.catalog.tableExists(h.yearTable(start.getYear)) &&
          spark.catalog.tableExists(c.yearTable(start.getYear)) =>
      Some((h.yearTable(start.getYear), c.yearTable(start.getYear)))
    case _ => None
  }

  /** One DAG run. Returns (year, rowsExported, diffCount), where
    * rowsExported is the number of rows the export wrote, observed in-band
    * on the export itself. For a whole-year window that is the cooled
    * year's row count; for a mid-year start it counts the window.
    */
  def runOnce(spark: SparkSession): (Int, Long, Long) = {
    val start = watermark.value
    val end = watermark.windowEnd
    val year = start.getYear

    // Q1 export — dynamic partition overwrite subsumes the delete step.
    val exported = Observation()
    cold.exportYear(exportFrame(spark, start, end).observe(exported, count(lit(1)).as("rows")))

    // Q2 reconcile, C2 branch, C3 fail.
    val diff = reconcile(spark, start, end)
    if (diff != 0L)
      throw new IllegalStateException(
        s"Data are not equal! exclusion-join count for $year = $diff; source partitions retained; " +
          "offending keys (up to 10; + only in the hot store, - only in the cold store): " +
          offenders(spark, start, end, 10).mkString(", "))

    // K3 destructive drop, then C4 watermark advance — in that order.
    val parts = source.listPartitions(spark, s"payments_y$year")
    source.dropPartitions(spark, parts)
    watermark.advance(start)

    (year, exported.get("rows").asInstanceOf[Long], diff)
  }

  /** C5: drive runs until the hot store is exhausted — the driver-loop
    * form of the reference's hourly single-flight schedule
    * (yq_dag.py:45-52). [[CoolingStream]] wraps this in the genuine
    * Trigger.AvailableNow streaming runner. `onRun` fires after each
    * completed year (observability hook; also how CoolingStreamSpec
    * injects a mid-run crash).
    */
  def runAll(spark: SparkSession, maxRuns: Int = 100,
      onRun: ((Int, Long, Long)) => Unit = _ => ()): Seq[(Int, Long, Long)] = {
    val out = Seq.newBuilder[(Int, Long, Long)]
    var more = true
    var n = 0
    while (more && n < maxRuns) {
      val year = watermark.value.getYear
      if (source.listPartitions(spark, s"payments_y$year").isEmpty) more = false
      else { val r = runOnce(spark); out += r; onRun(r); n += 1 }
    }
    out.result()
  }

  /** Q3 "federation analytics" (README_en.md:239-246): union the hot scan
    * and the cold scan with source tags, count per (year, src), order.
    */
  def federationAnalytics(spark: SparkSession): DataFrame = {
    val hot = source.scan(spark)
      .select(col("id"), col("payment_date").as("pdate"), lit("pg").as("src"))
    val coldSide = cold.scan(spark)
      .select(col("id"), col("payment_date").as("pdate"), lit("s3").as("src"))
    hot.unionAll(coldSide)
      .groupBy(year(col("pdate")).as("dyear"), col("src"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("dyear", "src")
  }
}

object CoolingPipeline {
  /** The 6-column reconciliation key (yq_dag.py:93-94) — shared by the
    * per-run reconcile and the bucketed variant
    * ([[graft.operators.ExclusionJoin.countBucketed]]): stores co-bucketed
    * on `id` (the PK member) reconcile with zero Exchange.
    */
  val reconcileKeys: Seq[String] = Seq("id", "doc_num", "accdt", "acckt", "amount", "state")
}
