package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ExclusionJoin, ScaleJoins}
import graft.pipeline.{CoolingPipeline, PaymentsGenerator}

/** The 100 TB shape of the pipeline's Q2 gate: hot and cold stores written
  * co-bucketed on the PK, reconciled by [[ExclusionJoin.count]] with ZERO
  * data Exchange in the plan — the full-corpus shuffle of the unbucketed
  * reconcile is paid once, at write time. Bucketing on `id` (a subset of
  * the 6 reconcile keys) is enough: equal key tuples imply equal ids, and
  * the signed union keeps both scans' common bucketing, which satisfies
  * the aggregation on the keys — in the caller's session, with no conf
  * set. The join form ([[ExclusionJoin.countFrame]]) is the reference.
  */
class BucketedReconcileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val keys = CoolingPipeline.reconcileKeys

  test("co-bucketed reconcile: zero Exchange, same answer as the unbucketed path") {
    val payments = PaymentsGenerator.payments(spark, "2020-01-01", months = 6)
      .select(keys.map(col): _*)
    ScaleJoins.writeBucketed(payments, "hot_bucketed", "id", 4)
    // cold copy: one row missing + one row duplicated = 2 mismatches
    val corrupted = payments.where(col("id") =!= 11L)
      .unionAll(payments.where(col("id") === 17L))
    ScaleJoins.writeBucketed(corrupted, "cold_bucketed", "id", 4)

    val n = ExclusionJoin.count(spark.table("hot_bucketed"), spark.table("cold_bucketed"), keys)
    assert(n == 2L)
    assert(n == ExclusionJoin.count(payments, corrupted, keys)) // ≡ unbucketed
    assert(n == ExclusionJoin.countFrame( // ≡ the join-form reference
      spark.table("hot_bucketed"), spark.table("cold_bucketed"), keys).head.getLong(0))

    // no data shuffle: the only allowed Exchange is the 1-row rollup
    // (SinglePartition over 4 partial sums — scale-independent)
    val frame = ExclusionJoin.diffCountFrame(
      spark.table("hot_bucketed"), spark.table("cold_bucketed"), keys)
    assert(frame.collect().head.getLong(0) == 2L) // finalizes frame's own adaptive plan
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed reconcile must not shuffle data:\n$plan")
    assert(plan.contains("Bucketed: true"), s"scan must use bucketing:\n$plan")

    // faithful copy reconciles to 0 through the same exchange-free plan
    ScaleJoins.writeBucketed(payments, "cold_bucketed_ok", "id", 4)
    assert(ExclusionJoin.count(spark.table("hot_bucketed"), spark.table("cold_bucketed_ok"), keys) == 0L)
  }

  test("bucket-count mismatch still reconciles correctly (plan falls back to shuffle)") {
    val payments = PaymentsGenerator.payments(spark, "2021-01-01", months = 3)
      .select(keys.map(col): _*)
    ScaleJoins.writeBucketed(payments, "hot_b8", "id", 8)
    ScaleJoins.writeBucketed(payments, "cold_b4", "id", 4)
    assert(ExclusionJoin.count(spark.table("hot_b8"), spark.table("cold_b4"), keys) == 0L)
  }

  test("the gate sets no session conf") {
    val flag = "spark.sql.requireAllClusterKeysForCoPartition"
    assert(spark.conf.get(flag) == "true", "precondition: Spark default in caller session")
    val before = spark.conf.getAll
    // a whole bucketed gate, in the caller's session
    assert(ExclusionJoin.count(spark.table("hot_bucketed"), spark.table("cold_bucketed_ok"), keys) == 0L)
    assert(spark.conf.get(flag) == "true")
    assert(spark.conf.getAll == before)
  }
}
