package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** The cold side: Hive-partitioned parquet under `payment_year=<y>/` —
  * the Spark mapping of the reference's Object Storage binding
  * (`img/YQLink1.png`–`img/YQLink4.png`; SURVEY.md §1.2 item 2).
  *
  * The binding declares its schema explicitly (no inference) with only `id`
  * required; we do the same so reads don't depend on footer sampling and the
  * nullability contract matches YQL's `Optional<T>` columns.
  */
class ColdStore(val base: String) {

  /** Declared read schema of the binding (img/YQLink3.png). `payment_year`
    * is recovered by partition discovery, declared INT (Spark has no
    * unsigned; years fit — SURVEY.md §1.2).
    */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("doc_num", StringType),
    StructField("accdt", LongType),
    StructField("acckt", LongType),
    StructField("descr", StringType),
    StructField("amount", DoubleType),
    StructField("state", StringType),
    StructField("payment_date", TimestampType),
    StructField("payment_year", IntegerType, nullable = false)))

  /** S2: partitioned scan with the declared schema. */
  def scan(spark: SparkSession): DataFrame =
    spark.read.schema(schema).option("basePath", base).parquet(base)

  /** K1+K2 folded into one atomic-per-partition operation: dynamic
    * partition overwrite replaces exactly the `payment_year` values present
    * in `df` (the reference separately deletes the prefix then inserts —
    * yq_dag.py:16-19 + 71-73; SURVEY.md §1.4 maps both onto this).
    * The writer sets the dynamic mode itself: under the session's
    * default `static` mode the overwrite would delete every other year.
    */
  def exportYear(df: DataFrame): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("payment_year")
      .parquet(base)

  def years(spark: SparkSession): Seq[Int] =
    FsUtil.listDir(spark, base)
      .filter(_.startsWith("payment_year="))
      .map(_.stripPrefix("payment_year=").toInt)
      .sorted
}
