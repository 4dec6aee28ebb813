package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Yql
import graft.operators.ExclusionJoin
import graft.sources.{ColdStore, PaymentsSource, YearBucketedStore}

/** The reference's whole DAG as one Spark driver program (SURVEY.md §2.9,
  * §3.1): per run, move the calendar year the [[Watermark]] names from the
  * hot store to Hive-partitioned parquet, verify the copy with the
  * exclusion-join reconciliation, and only then advance the watermark and
  * drop the source partitions.
  *
  *   delete target partition (K2, folded into dynamic overwrite)
  *   → export year (Q1: yq_dag.py:65-74)
  *   → reconcile (Q2: yq_dag.py:82-95) == 0        (C2 branch)
  *   → advance watermark (C4: yq_dag.py:124-128)   — the commit point
  *   → drop source partitions (K3: yq_dag.py:106-122)
  *
  * Crash-safety: the watermark advance is the one durable commit, and the
  * same atomic write records the committed year's hot partitions as
  * pending drop. Before it, export is idempotent (partition overwrite)
  * and reconcile is read-only; after it, the drop is idempotent and every
  * run first finishes a pending drop — so a crash anywhere converges, and
  * a half-dropped year is never re-exported over its full copy. A run
  * holds the [[Watermark.lease]] throughout, so no second driver joins it.
  * A failed reconciliation throws (C3) *before* anything destructive,
  * exactly like `raise ValueError('Data are not equal!')`
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

  /** The one place a year becomes the `[Jan 1, next Jan 1)` predicate. */
  private def windowFilter(df: DataFrame, year: Int): DataFrame =
    df.filter(col("payment_date") >= lit(java.sql.Date.valueOf(LocalDate.of(year, 1, 1))) &&
      col("payment_date") < lit(java.sql.Date.valueOf(LocalDate.of(year + 1, 1, 1))))

  /** Q1 "load" projection (yq_dag.py:65-74): unwrap the required id,
    * second-truncate the timestamp (YQL Datetime cast), derive the
    * partition year. Filter + projection reach the source scan.
    */
  def exportFrame(spark: SparkSession, year: Int): DataFrame =
    windowFilter(source.scan(spark), year)
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
    * two stores over the same year; 0 ⇔ the copy is faithful. One plan
    * for every layout: [[ExclusionJoin.count]] over [[keySides]], run in
    * the caller's session with no conf set.
    */
  def reconcile(spark: SparkSession, year: Int): Long = {
    val (hot, coldSide) = keySides(spark, year)
    ExclusionJoin.count(hot, coldSide, reconcileKeys)
  }

  /** The year's reconcile-key projections of the hot and the cold store
    * — the one place that knows the store layout. Co-bucketed year tables
    * ([[bucketedPair]], the lake-to-lake 100 TB deployment) keep their
    * bucketing on `id` through the signed union, so the gate runs with
    * zero data Exchange; any other layout (the reference's live-PG hot
    * store can't be bucket-aligned) reads the two scans and shuffles once.
    */
  private[graft] def keySides(spark: SparkSession, year: Int): (DataFrame, DataFrame) = {
    def keys(df: DataFrame) = windowFilter(df, year).select(reconcileKeys.map(col): _*)
    val (hot, coldSide) = bucketedPair(spark, year) match {
      case Some((hotTable, coldTable)) => (spark.table(hotTable), spark.table(coldTable))
      case None => (source.scan(spark), cold.scan(spark))
    }
    (keys(hot), keys(coldSide))
  }

  /** Up to `n` key tuples that fail the year's reconcile, rendered as
    * `id <id> <signed multiplicity>` (`+` only in the hot store, `-` only
    * in the cold store). Runs only after the gate has failed.
    */
  private def offenders(spark: SparkSession, year: Int, n: Int): Seq[String] = {
    val (hot, coldSide) = keySides(spark, year)
    ExclusionJoin.diffFrame(hot, coldSide, reconcileKeys).limit(n).collect().toSeq.map { r =>
      val d = r.getAs[Long]("diff")
      s"id ${r.getAs[Any]("id")} ${if (d > 0) "+" else ""}$d"
    }
  }

  /** The co-bucketed table pair for this year, when the layout supports
    * the exchange-free gate: both stores year-bucketed with the SAME
    * bucket count, both year tables present.
    */
  def bucketedPair(spark: SparkSession, year: Int): Option[(String, String)] = (source, cold) match {
    case (h: YearBucketedStore, c: YearBucketedStore)
        if h.buckets == c.buckets &&
          spark.catalog.tableExists(h.yearTable(year)) && spark.catalog.tableExists(c.yearTable(year)) =>
      Some((h.yearTable(year), c.yearTable(year)))
    case _ => None
  }

  /** One DAG run under the watermark's lease: finish the drop a crashed
    * run left pending, then export, reconcile, advance (the commit) and
    * drop. Returns (year, rowsExported, diffCount), where rowsExported is
    * the cooled year's row count, observed in-band on the export itself.
    */
  def runOnce(spark: SparkSession): (Int, Long, Long) = watermark.lease(coolYear(spark))

  private def coolYear(spark: SparkSession): (Int, Long, Long) = {
    dropPending(spark)
    val year = watermark.year

    // Q1 export — dynamic partition overwrite subsumes the delete step.
    val exported = Observation()
    cold.exportYear(exportFrame(spark, year).observe(exported, count(lit(1)).as("rows")))

    // Q2 reconcile, C2 branch, C3 fail.
    val diff = reconcile(spark, year)
    if (diff != 0L)
      throw new IllegalStateException(
        s"Data are not equal! exclusion-join count for $year = $diff; source partitions retained; " +
          "offending keys (up to 10; + only in the hot store, - only in the cold store): " +
          offenders(spark, year, 10).mkString(", "))

    // C4 watermark advance (the commit, recording the pending drop), then
    // the K3 destructive drop — in that order.
    watermark.advance(year)
    dropPending(spark)

    (year, exported.get("rows").asInstanceOf[Long], diff)
  }

  /** K3 (yq_dag.py:106-122): drops the hot partitions the last committed
    * advance recorded as pending. Idempotent — listing an already dropped
    * prefix returns nothing — so a drop a crash cut short is finished by
    * the next run, and a watermark with nothing pending drops nothing.
    */
  private def dropPending(spark: SparkSession): Unit =
    watermark.pendingDrop.foreach(prefix =>
      source.dropPartitions(spark, source.listPartitions(spark, prefix)))

  /** C5: drive runs until the hot store is exhausted — the driver-loop
    * form of the reference's hourly single-flight schedule
    * (yq_dag.py:45-52), under one lease for the whole drain. Both drivers,
    * [[graft.Cool]] and the Trigger.AvailableNow [[CoolingStream]], run
    * through it. A pending drop is finished first, even when no year is
    * left to cool. `onRun` fires after each completed year (observability
    * hook; also how CoolingStreamSpec injects a mid-run crash).
    */
  def runAll(spark: SparkSession, maxRuns: Int = 100,
      onRun: ((Int, Long, Long)) => Unit = _ => ()): Seq[(Int, Long, Long)] = watermark.lease {
    dropPending(spark)
    val out = Seq.newBuilder[(Int, Long, Long)]
    var more = true
    var n = 0
    while (more && n < maxRuns) {
      if (source.listPartitions(spark, s"payments_y${watermark.year}").isEmpty) more = false
      else { val r = coolYear(spark); out += r; onRun(r); n += 1 }
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
  /** The 6-column reconciliation key (yq_dag.py:93-94): stores
    * co-bucketed on `id` (the PK member) reconcile with zero Exchange.
    */
  val reconcileKeys: Seq[String] = Seq("id", "doc_num", "accdt", "acckt", "amount", "state")
}
