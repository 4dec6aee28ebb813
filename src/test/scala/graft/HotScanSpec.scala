package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ExclusionJoin
import graft.pipeline.PaymentsGenerator
import graft.sources.ParquetPaymentsSource

/** `ParquetPaymentsSource.scan` names the listed `pmonth=` directories
  * instead of reading the glob `pmonth=*`, whose single-path metadata
  * probe logged a stack trace per scan; the relation it reads is the same.
  */
class HotScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the listed-directory scan reads the glob's rows and files; an empty store scans empty") {
    val root = Files.createTempDirectory("graft-hotscan").toString
    val base = s"$root/hot"
    PaymentsGenerator.writeHotStore(spark, base, "2020-01-01", months = 13)
    val src = new ParquetPaymentsSource(base)
    val listed = src.scan(spark)
    val glob = spark.read
      .schema(src.schema.add("pmonth", org.apache.spark.sql.types.StringType))
      .option("basePath", base)
      .parquet(s"$base/pmonth=*")
      .drop("pmonth")
    assert(listed.schema == glob.schema)
    assert(listed.inputFiles.sorted.toSeq == glob.inputFiles.sorted.toSeq)
    assert(listed.count() == 527040L + 44640L)
    assert(ExclusionJoin.count(listed, glob, listed.columns.toSeq) == 0L)

    val empty = new ParquetPaymentsSource(s"$root/absent").scan(spark)
    assert(empty.schema == src.schema && empty.isEmpty)
  }
}
