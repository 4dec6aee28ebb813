package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Yql
import graft.operators.ExclusionJoin

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.prepare(GraftSession.local("graft-test", cores = 4))
}

class CoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("unwrap passes non-null values through and flips nullability") {
    val df = Seq(1L, 2L).toDF("x").select(Yql.unwrap($"x").as("x"))
    assert(df.collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))
    assert(!df.schema("x").nullable)
  }

  test("unwrap throws on NULL at runtime (YQL Optional unwrap semantics)") {
    val df = Seq(Some(1L), None).toDF("x").select(Yql.unwrap($"x").as("x"))
    val e = intercept[Exception] { df.collect() }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("unwrap() failed")))
  }

  test("toDatetime truncates to second precision (YQL Datetime cast)") {
    val t = Timestamp.valueOf("2020-06-01 12:34:56.789123")
    val got = Seq(t).toDF("ts").select(Yql.toDatetime($"ts").as("ts")).head.getTimestamp(0)
    assert(got == Timestamp.valueOf("2020-06-01 12:34:56"))
  }

  test("exclusion join = symmetric difference; NULL keys never match") {
    val l = Seq((1L, "a"), (2L, "b"), (4L, null.asInstanceOf[String])).toDF("k", "v")
    val r = Seq((1L, "a"), (3L, "c"), (4L, null.asInstanceOf[String])).toDF("k", "v")
    val out = ExclusionJoin(l, r, Seq("k", "v")).collect().map(x => (x.getLong(0), x.getString(1))).toSet
    // (1,a) matches; NULL v rows never match each other (YQL/SQL equi-join semantics)
    assert(out == Set((2L, "b"), (3L, "c"), (4L, null), (4L, null)).map(identity))
    assert(ExclusionJoin(l, r, Seq("k", "v")).count() == 4)
  }

  test("exclusion join count: equal relations reconcile to 0; duplicates are caught") {
    val l = Seq((1L, 10.5), (2L, 20.25)).toDF("id", "amount")
    assert(ExclusionJoin.count(l, l, Seq("id", "amount")) == 0L)
    val dup = l.unionAll(Seq((1L, 10.5)).toDF("id", "amount"))
    assert(ExclusionJoin.count(l, dup, Seq("id", "amount")) == 1L)
    // bit-level double sensitivity: flipping the amount must be caught
    val mut = Seq((1L, 10.5), (2L, 20.250000001)).toDF("id", "amount")
    assert(ExclusionJoin.count(l, mut, Seq("id", "amount")) == 2L)
  }

  test("exclusion join count: NULL-key tuples never reconcile, in both count forms") {
    val l = Seq((1L, "a"), (2L, "b"), (4L, null), (4L, null)).toDF("k", "v")
    val r = Seq((1L, "a"), (3L, "c"), (4L, null), (5L, null)).toDF("k", "v")
    // (2,b) and (3,c) unmatched, plus all four NULL-key rows
    assert(ExclusionJoin.count(l, r, Seq("k", "v")) == 6L)
    assert(ExclusionJoin.countFrame(l, r, Seq("k", "v")).head.getLong(0) == 6L)
    assert(ExclusionJoin(l, r, Seq("k", "v")).count() == 6L)
  }

  test("exclusion join count: empty inputs reconcile to 0") {
    val l = Seq((1L, "x")).toDF("id", "v")
    assert(ExclusionJoin.count(l.filter(lit(false)), l.filter(lit(false)), Seq("id", "v")) == 0L)
  }
}
