package graft

import java.nio.file.Files
import java.sql.DriverManager
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{CoolingPipeline, Watermark}
import graft.sources.{ColdStore, JdbcPartitionedPaymentsSource}

/** The FULL federated pipeline against a real JDBC database: monthly Derby
  * tables play the reference's range-partitioned PG table; one cooling run
  * moves 2020 into partitioned parquet, verifies by exclusion join, drops
  * the real partition tables (data and all), advances the watermark —
  * then federation analytics unions the live JDBC scan with the parquet
  * scan. End-to-end, this is the reference scenario with both boundaries
  * real.
  */
class JdbcPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val url = "jdbc:derby:memory:graftpipe;create=true"
  private val RowsPerMonth = 48

  private lazy val setup: Unit = {
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE payments (id BIGINT NOT NULL)") // parent marker (catalog root)
    var id = 0L
    for (ym <- Seq(("2020", 1 to 12), ("2021", 1 to 1)); m <- ym._2) {
      val t = f"payments_y${ym._1}m$m%02d"
      st.execute(s"""CREATE TABLE $t (
        id BIGINT NOT NULL, doc_num VARCHAR(10) NOT NULL,
        accdt BIGINT NOT NULL, acckt BIGINT NOT NULL,
        amount DOUBLE NOT NULL, payment_date TIMESTAMP NOT NULL,
        descr VARCHAR(64), state VARCHAR(10) NOT NULL)""")
      val ins = conn.prepareStatement(s"INSERT INTO $t VALUES (?,?,?,?,?,?,?,?)")
      (1 to RowsPerMonth).foreach { i =>
        id += 1
        ins.setLong(1, id); ins.setString(2, id.toString)
        ins.setLong(3, id % 100); ins.setLong(4, 100 - id % 100)
        ins.setDouble(5, id * 0.75)
        ins.setTimestamp(6, java.sql.Timestamp.valueOf(
          f"${ym._1}-$m%02d-${i % 27 + 1}%02d 0${i % 9}:30:00"))
        ins.setString(7, s"payment $id"); ins.setString(8, "done")
        ins.addBatch()
      }
      ins.executeBatch()
    }
    conn.close()
  }

  private lazy val pipeline: CoolingPipeline = {
    setup
    val root = Files.createTempDirectory("graft-jdbc-pipe").toString
    val wm = new Watermark(s"$root/wm.json")
    wm.initIfAbsent(LocalDate.parse("2020-01-01"))
    val source = new JdbcPartitionedPaymentsSource(url,
      prefix => s"SELECT tablename FROM SYS.SYSTABLES WHERE tablename LIKE '${prefix.toUpperCase}%'")
    new CoolingPipeline(source, new ColdStore(s"$root/cold"), wm)
  }

  test("cooling run against live JDBC: export, reconcile 0, drop real tables, advance") {
    val p = pipeline
    assert(p.source.scan(spark).count() == 13L * RowsPerMonth)
    val (year, exported, diff) = p.runOnce(spark)
    assert((year, exported, diff) == (2020, 12L * RowsPerMonth, 0L))
    // the monthly tables are GONE from the database (real destructive drop)
    assert(p.source.listPartitions(spark, "payments_y2020").isEmpty)
    assert(p.source.scan(spark).count() == RowsPerMonth) // only 2021-01 left
    assert(p.watermark.year == 2021)
  }

  test("federation analytics over live JDBC + parquet tiers") {
    val p = pipeline
    val fed = p.federationAnalytics(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(fed == Seq((2020, "s3", 12L * RowsPerMonth), (2021, "pg", RowsPerMonth.toLong)))
  }

  test("one SQL text spans the live JDBC and parquet tiers (the reference's Q3 interface)") {
    val p = pipeline
    // the reference addresses `pg-finance`.payments and the S3 binding in
    // ONE query text (README_en.md:239-246); Spark's analog: temp views
    // over the JDBC relation and the partitioned parquet relation
    p.source.scan(spark).createOrReplaceTempView("hot_payments")
    p.cold.scan(spark).createOrReplaceTempView("cold_payments")
    val got = spark.sql(
      """SELECT year(pdate) AS dyear, src, count(1) AS cnt FROM (
        |  SELECT payment_date AS pdate, 'pg' AS src FROM hot_payments
        |  UNION ALL
        |  SELECT payment_date, 's3' FROM cold_payments)
        |GROUP BY year(pdate), src
        |ORDER BY dyear""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((2020, "s3", 12L * RowsPerMonth), (2021, "pg", RowsPerMonth.toLong)))
  }
}
