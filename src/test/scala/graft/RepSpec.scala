package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftCacheBridge
import org.scalatest.funsuite.AnyFunSuite

/** A timed rep records its layers in-band: the listener must attribute
  * build-time jobs (d21's eager checkpoint) apart from the execution's,
  * see the shuffle a federation union-aggregate writes, count the jobs a
  * query hands to another thread, and every record must be internally
  * consistent and render as one parseable JSON line.
  */
class RepSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val reps: Map[String, Rep] = {
    val out = Seq("d21_quality_canonical", "q3_federation")
      .map(q => q -> Rep.time(spark)(SparkEntry.queries(q)(spark, sfDir))).toMap
    Intermediates.releaseAll()
    out
  }

  test("d21's eager checkpoint runs jobs during the build") {
    assert(reps("d21_quality_canonical").buildJobs >= 1, reps("d21_quality_canonical"))
  }

  test("q3's aggregate writes shuffle bytes") {
    assert(reps("q3_federation").shuffleWriteBytes > 0, reps("q3_federation"))
  }

  test("every record counts jobs, stages and tasks and spans its build") {
    reps.foreach { case (q, r) =>
      assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= r.stages, s"$q: $r")
      assert(r.jobs >= r.buildJobs, s"$q: $r")
      assert(r.wallS >= r.buildS && r.rows >= 0, s"$q: $r")
    }
  }

  test("jobs run on IvfIndex's write pool count toward the rep that launched them") {
    val seen = new java.util.concurrent.atomic.AtomicLong
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      // the second rep's overlapped writes run on pool threads an earlier
      // rep (or suite) created
      val counts = (1 to 2).map { _ =>
        GraftCacheBridge.drainListenerBus(spark, 60000L)
        val before = seen.get
        val r = Rep.time(spark)(SparkEntry.queries("s9_ivfpq")(spark, sfDir))
        (r.jobs, seen.get - before)
      }
      counts.foreach { case (counted, all) => assert(counted == all, counts) }
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      Intermediates.releaseAll()
    }
  }

  test("the JSON line parses with every field present") {
    val names = Seq("query", "start_s") ++ reps.values.head.fields.map(_._1)
    reps.foreach { case (q, r) =>
      val line = r.json("query" -> q, "start_s" -> 1.5)
      assert(!line.contains("\n"))
      val node = new ObjectMapper().readTree(line)
      assert(node.fieldNames.asScala.toSeq == names, line)
      assert(node.get("query").asText == q)
      assert(node.get("jobs").asLong == r.jobs)
      assert(node.get("wall_s").isNumber)
    }
  }
}
