package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.ScaleJoins

/** Year-co-bucketed store layout — the 100 TB deployment of the cooling
  * pipeline's reconcile gate (SURVEY.md §2.4 J1; SCALE.md §Reconcile).
  *
  * The reference reconciles hot (PG) against cold (Object Storage) with an
  * exclusion join whose two sides both shuffle on the 6-column key every
  * run (/root/reference/src/py/yq_dag.py:82-95). When BOTH stores are
  * Spark-managed tables — the lake-to-lake cooling deployment — that
  * shuffle can be paid once, at write time: each yearly unit is a catalog
  * table bucketed (and sorted) on the PK `id` with a shared bucket count.
  * [[graft.pipeline.CoolingPipeline.reconcile]] reads the year pair and
  * runs the same signed-union gate as for any other layout; the union
  * keeps the scans' bucketing, so the plan has ZERO data Exchange, in
  * the caller's session with no conf set (`BucketedReconcileSpec` pins
  * the plan shape; `BucketedPipelineSpec` runs the whole cycle).
  *
  * Granularity is the YEAR — the pipeline's cooling window — so the
  * reconcile unit is a single bucketed table on each side (a union of
  * monthly bucketed tables would not preserve the bucketing for the
  * planner). Partition drop = DROP TABLE, as destructive as the
  * reference's PL/pgSQL loop.
  */
trait YearBucketedStore {
  /** Catalog table holding exactly one cooled year. */
  def yearTable(year: Int): String
  def buckets: Int
}

/** Hot store as per-year bucketed catalog tables `<ns>_payments_yYYYY`.
  * Logical partition names stay in the reference's `payments_yYYYY`
  * convention (db_init.sql:57-59) so the pipeline's listing/drop contract
  * is unchanged; only the physical unit is the year, not the month.
  */
final class BucketedHotStore(val namespace: String, val buckets: Int)
    extends PaymentsSource with YearBucketedStore {

  override def yearTable(year: Int): String = s"${namespace}_payments_y$year"

  private def tables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .filter(t => !t.isTemporary && t.name.startsWith(s"${namespace}_payments_y"))
      .map(_.name).sorted

  override def scan(spark: SparkSession): DataFrame = {
    val ts = tables(spark)
    if (ts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new ParquetPaymentsSource("/nonexistent").schema)
    else ts.map(spark.table).reduce(_ unionByName _)
  }

  /** Writes one year of raw payments as the bucketed year table. */
  def loadYear(df: DataFrame, year: Int): Unit =
    ScaleJoins.writeBucketed(df, yearTable(year), "id", buckets)

  override def listPartitions(spark: SparkSession, prefix: String): Seq[String] =
    tables(spark).map(_.stripPrefix(s"${namespace}_")).filter(_.startsWith(prefix))

  override def dropPartitions(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS ${namespace}_$n"))
}

/** Cold store as per-year bucketed catalog tables, matching the hot
  * side's bucket count. `exportYear` keeps the delete-then-insert
  * idempotency of the path-based [[ColdStore]]: the year table is
  * replaced whole, so a crashed export re-runs to the same end state.
  * The one-row-per-year `collect` is bounded by construction (the export
  * is a single year).
  */
final class BucketedColdStore(val namespace: String, val buckets: Int)
    extends ColdStore(s"catalog:$namespace") with YearBucketedStore {

  override def yearTable(year: Int): String = s"${namespace}_payments_y$year"

  private def tables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .filter(t => !t.isTemporary && t.name.startsWith(s"${namespace}_payments_y"))
      .map(_.name).sorted

  override def scan(spark: SparkSession): DataFrame = {
    val ts = tables(spark)
    if (ts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else ts.map(spark.table).reduce(_ unionByName _)
  }

  override def exportYear(df: DataFrame): Unit = {
    val spark = df.sparkSession
    val years = df.select("payment_year").distinct().collect().map(_.getInt(0))
    years.foreach { y =>
      ScaleJoins.writeBucketed(df.where(col("payment_year") === y), yearTable(y), "id", buckets)
    }
  }

  override def years(spark: SparkSession): Seq[Int] =
    tables(spark).map(_.stripPrefix(s"${namespace}_payments_y").toInt).sorted
}
