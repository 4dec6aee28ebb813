package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The hot-store side of the cooling pipeline (SURVEY.md §1.3): the
  * reference reads `payments` from a range-partitioned PostgreSQL table via
  * a federated connection (/root/reference/src/py/yq_dag.py:67), enumerates
  * monthly child tables from the catalog (S4, yq_dag.py:112) and drops the
  * exported ones (K3, yq_dag.py:108-117).
  *
  * Partition names follow the reference's `payments_yYYYYmMM` convention
  * (/root/reference/src/sql/db_init.sql:57-59) for both implementations.
  */
trait PaymentsSource {

  /** Full `payments` relation. Window predicates pushed by Catalyst. */
  def scan(spark: SparkSession): DataFrame

  /** S4: partition names with the given prefix (e.g. `payments_y2020`). */
  def listPartitions(spark: SparkSession, prefix: String): Seq[String]

  /** K3: destructively drop the named partitions. */
  def dropPartitions(spark: SparkSession, names: Seq[String]): Unit
}

/** Production implementation over JDBC — the Spark mapping of the
  * reference's `pg-finance` connection. Reads are split into `fetchPar`
  * parallel range queries on `id` so a 1000-executor cluster scans the
  * table concurrently instead of through one connection; Spark's JDBC
  * relation pushes filters and prunes columns server-side.
  *
  * (No PostgreSQL exists in the test container, so this class is exercised
  * only by compilation; the parquet stand-in below carries the test load —
  * same contract, same partition naming.)
  */
final class JdbcPaymentsSource(
    url: String,
    table: String = "payments",
    user: String = "",
    password: String = "",
    fetchPar: Int = 8,
    idBounds: (Long, Long) = (0L, 1L << 40),
    /** Catalog enumeration SQL for a partition-name prefix — PostgreSQL
      * dialect by default (the reference's `pg_tables` scan,
      * yq_dag.py:112); Derby/H2 tests inject their own dialect.
      */
    catalogQuery: String => String = JdbcPaymentsSource.pgCatalogQuery) extends PaymentsSource {

  private[sources] def props: java.util.Properties = {
    val p = new java.util.Properties()
    if (user.nonEmpty) p.setProperty("user", user)
    if (password.nonEmpty) p.setProperty("password", password)
    p
  }

  override def scan(spark: SparkSession): DataFrame =
    spark.read
      .option("partitionColumn", "id")
      .option("lowerBound", idBounds._1.toString)
      .option("upperBound", idBounds._2.toString)
      .option("numPartitions", fetchPar.toString)
      .jdbc(url, table, props)

  override def listPartitions(spark: SparkSession, prefix: String): Seq[String] = {
    // The reference's catalog scan: select tablename from pg_tables where
    // tablename like 'payments_y…%' (yq_dag.py:112).
    val q = s"(${catalogQuery(prefix)}) t"
    spark.read.jdbc(url, q, props).collect().map(_.getString(0)).toSeq.sorted
  }

  override def dropPartitions(spark: SparkSession, names: Seq[String]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      // Mirrors the PL/pgSQL loop `execute 'drop table ' || part_name`
      // (yq_dag.py:113-116); names come from the catalog scan (S4), so
      // plain DROP TABLE like the reference (no IF EXISTS — Derby lacks it).
      names.foreach(n => st.execute(JdbcPaymentsSource.dropDdl(n)))
    } finally conn.close()
  }

  /** Register the hot store as a DSv2 JDBC catalog (`<name>.<table>`) —
    * the read path with AGGREGATE pushdown: COUNT/SUM/MIN/MAX/AVG +
    * GROUP BY (and LIMIT) compile into the remote SQL, so q4-shaped
    * scalar counts and grouped rollups fetch aggregated rows instead of
    * scanning the table through the wire. The q2 reconcile's join itself
    * can never push (its other side lives in object storage) but each
    * side's filter/pruning/count does — `JdbcSourceSpec` asserts the
    * executed plans. The plain `scan` (v1 path) keeps the range-split
    * parallel read; use the catalog for aggregate-shaped queries.
    */
  def registerCatalog(spark: SparkSession, name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.url", url)
    spark.conf.set(s"spark.sql.catalog.$name.pushDownAggregate", "true")
    spark.conf.set(s"spark.sql.catalog.$name.pushDownLimit", "true")
    if (user.nonEmpty) spark.conf.set(s"spark.sql.catalog.$name.user", user)
    if (password.nonEmpty) spark.conf.set(s"spark.sql.catalog.$name.password", password)
  }
}

/** The exact wire strings the PG-bound pipeline emits — factored out so
  * `PgDialectSpec` can pin them against the reference without a live
  * server (no PostgreSQL exists in the test container; Derby carries the
  * live-JDBC load with an injected dialect).
  */
object JdbcPaymentsSource {
  /** The reference's PG catalog enumeration (yq_dag.py:112). */
  def pgCatalogQuery(prefix: String): String =
    s"select tablename from pg_tables where tablename like '$prefix%'"

  /** DDL emitted per partition drop (yq_dag.py:113-116). */
  def dropDdl(name: String): String = s"drop table $name"
}

/** JDBC implementation for *physically partitioned* hot stores: each
  * monthly partition is its own table (`payments_yYYYYmMM`) — how the
  * reference's PG table is actually laid out (db_init.sql:57-59). The scan
  * unions the child tables enumerated from the catalog (one JDBC read per
  * partition → executors fetch partitions concurrently, like PG's
  * partition-wise scans); dropping a partition drops real data, so the
  * federated pipeline semantics are exact.
  */
final class JdbcPartitionedPaymentsSource(
    url: String,
    catalogQuery: String => String,
    user: String = "",
    password: String = "") extends PaymentsSource {

  private val flat = new JdbcPaymentsSource(url, "payments", user, password,
    catalogQuery = catalogQuery)

  override def scan(spark: SparkSession): DataFrame = {
    val parts = listPartitions(spark, "payments_y")
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        // child tables carry the payments schema; reuse the parquet twin's
        new ParquetPaymentsSource("/nonexistent").schema)
    else
      parts.map(t => spark.read.jdbc(url, t, flat.props)).reduce(_ unionByName _)
  }

  override def listPartitions(spark: SparkSession, prefix: String): Seq[String] =
    flat.listPartitions(spark, prefix)

  override def dropPartitions(spark: SparkSession, names: Seq[String]): Unit =
    flat.dropPartitions(spark, names)
}

/** Test/bench implementation: the hot store is a directory of monthly
  * parquet partitions `payments_yYYYYmMM/` — the same physical layout the
  * PG table has logically. Partition drop = recursive directory delete
  * through the Hadoop FileSystem API (works for file:// here and s3a:// on
  * a cluster).
  */
final class ParquetPaymentsSource(base: String) extends PaymentsSource {

  /** Declared `payments` schema (src/sql/db_init.sql:19-28; FIXTURES.md §A1)
    * so scans are schema-stable and an empty (fully cooled) hot store scans
    * as an empty relation — like the still-existing empty PG parent table.
    */
  val schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("doc_num", StringType, nullable = false),
      StructField("accdt", LongType, nullable = false),
      StructField("acckt", LongType, nullable = false),
      StructField("amount", DoubleType, nullable = false),
      StructField("payment_date", TimestampType, nullable = false),
      StructField("descr", StringType),
      StructField("state", StringType, nullable = false)))
  }

  /** Reads the listed `pmonth=` directories by name rather than through the
    * glob `pmonth=*`: Spark probes a single path for a streaming sink's
    * metadata log, and on a glob that probe fails and logs a WARN stack
    * trace on every scan. */
  override def scan(spark: SparkSession): DataFrame = {
    val months = FsUtil.listDir(spark, base).filter(_.startsWith("pmonth="))
    if (months.nonEmpty)
      spark.read
        .schema(schema.add("pmonth", org.apache.spark.sql.types.StringType))
        .option("basePath", base)
        .parquet(months.map(m => s"$base/$m"): _*)
        .drop("pmonth")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  override def listPartitions(spark: SparkSession, prefix: String): Seq[String] =
    FsUtil.listDir(spark, base)
      .map(_.stripPrefix("pmonth="))
      .filter(_.startsWith(prefix))
      .sorted

  override def dropPartitions(spark: SparkSession, names: Seq[String]): Unit =
    names.foreach(n => FsUtil.delete(spark, s"$base/pmonth=$n"))
}

/** Hadoop-FS helpers: the Spark mapping of the reference's S3 key listing
  * and object deletion (S5/K2, yq_dag.py:16-19).
  */
object FsUtil {
  def listDir(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq.filterNot(_.startsWith("_"))
  }

  def delete(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
