package graft

import org.scalatest.funsuite.AnyFunSuite

/** A compiled class outlives the query that first needed it: the session
  * keys generated classes by their code, not by the stage id AQE assigned,
  * and sizes Spark's codegen cache above the corpus working set (d21 alone
  * compiles about 100 classes at sf0.001, a driver and an executor copy of
  * each stage, more than the 100-entry default holds). So a query re-run
  * after a family release, or back to back, compiles next to nothing,
  * where a thrashing cache recompiles every class: 46 to 111 per query.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  /** Classes a re-run may still compile. AQE re-plans as query stages
    * finish, so a run can pick a join an earlier run did not (a broadcast
    * hash join where the earlier run kept its sort-merge join); that stage
    * is new code, 2 to 4 classes, and is compiled once. */
  private val NewPlanClasses = 8

  private def rep(q: String): Rep = Rep.time(spark)(SparkEntry.queries(q)(spark, sfDir))

  test("a second corpus round after a release compiles no more than a re-planned stage") {
    val corpus = Seq("d19_setsim_join", "d21_quality_canonical", "s7_incremental_ivf")
    def round() = try corpus.map(q => q -> rep(q)) finally Intermediates.releaseAll()
    round()
    round().foreach { case (q, r) =>
      assert(r.compiles <= NewPlanClasses, s"$q recompiled: $r")
    }
  }

  test("d21 run three times back to back compiles no more than a re-planned stage after its first rep") {
    val reps = try Seq.fill(3)(rep("d21_quality_canonical")) finally Intermediates.releaseAll()
    assert(reps.tail.forall(_.compiles <= NewPlanClasses), reps)
  }
}
