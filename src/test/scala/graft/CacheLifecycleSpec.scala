package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupQueries, SimilarityQueries, StatQueries}

/** The engine materializes intermediates (shingle index, SimHash
  * signature, near-dup pair set, label checkpoints) so a family's queries
  * execute them once per (session, dir). That sharing needs an explicit
  * lifecycle: Bench runs the full battery repeatedly in ONE session, so
  * without a release hook the entries accumulate executor memory for the
  * session's life. [[Intermediates.releaseAll]] (and its forwarder
  * `DedupQueries.unpersistShared()`) must drop every registered cache AND
  * checkpoint, and the queries must transparently re-materialize on next
  * use.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  import CacheLifecycleSpec.srcMainHits
  lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  /** Drop whatever earlier suites left behind, cached or checkpointed. */
  private def isolate(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("unpersistShared drops every d-family cache entry") {
    isolate()
    DedupQueries.d3MinhashLsh(spark, sfDir).count()
    DedupQueries.d5SimhashPairs(spark, sfDir).count()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "expected cached intermediates after d3/d5")
    DedupQueries.unpersistShared()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cached intermediates leaked after unpersistShared()")
  }

  test("queries re-persist and stay correct after a release") {
    val before = DedupQueries.d5SimhashPairs(spark, sfDir).count()
    DedupQueries.unpersistShared()
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(DedupQueries.d5SimhashPairs(spark, sfDir).count() == before)
    DedupQueries.unpersistShared()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("releaseAll frees checkpoints too: no persistent RDD survives d20, d21, x18 and s7") {
    isolate()
    val counts = Seq(
      DedupQueries.d20IncrementalCc _, DedupQueries.d21QualityCanonical _,
      StatQueries.x18MadOutliers _, SimilarityQueries.s7IncrementalIvf _)
      .map(q => q(spark, sfDir).count())
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected cached or checkpointed intermediates after the four queries")
    Intermediates.releaseAll()
    assert(spark.sharedState.cacheManager.isEmpty)
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty, s"persistent RDDs leaked after releaseAll(): ${left.values.mkString(", ")}")
    // a rebuilt query re-materializes what was released
    assert(DedupQueries.d21QualityCanonical(spark, sfDir).count() == counts(1))
    Intermediates.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("releaseAll deletes s7's and s9's rehearsal index directories") {
    val appId = spark.sparkContext.applicationId
    def left = new java.io.File(sys.props("java.io.tmpdir")).listFiles().toSeq
      .map(_.getName)
      .filter(n => (n.startsWith("graft_s7_") || n.startsWith("graft_s9_")) && n.endsWith(s"_$appId"))
    SimilarityQueries.s7IncrementalIvf(spark, sfDir).count()
    SimilarityQueries.s9IvfPq(spark, sfDir).count()
    assert(left.size == 2, s"expected s7's and s9's index directories, found ${left.mkString(", ")}")
    Intermediates.releaseAll()
    assert(left.isEmpty, s"index directories left after releaseAll(): ${left.mkString(", ")}")
  }

  test("no bare materialization outside the owner: src/main has no cache/persist/localCheckpoint calls") {
    val allowed = Set("Intermediates.scala", "Expectations.scala")
    val hits = srcMainHits(allowed, """localCheckpoint\(|\.cache\(\)|\.persist\(""".r)
    assert(hits.isEmpty,
      "materialize through graft.Intermediates (cache/checkpoint), not directly:\n" +
        hits.mkString("\n"))
  }

  test("no timing loop outside the rep: src/main reads no clock outside the allowlist") {
    val allowed = Map(
      "Rep.scala" -> "the rep: every timing goes through graft.Rep.time",
      "Bench.scala" -> "the pass start offset the rep's start_s is measured from",
      "VersionedStore.scala" -> "a wait deadline, not a timing")
    val hits = srcMainHits(allowed.contains, """System\.nanoTime|System\.currentTimeMillis""".r)
    assert(hits.isEmpty, "time a query through graft.Rep.time, not a clock of its own:\n" + hits.mkString("\n"))
  }
}

object CacheLifecycleSpec {
  /** Every `src/main/scala` line matching `pattern`, as `path:line: text`,
    * in files whose name `allowed` does not hold.
    */
  def srcMainHits(allowed: String => Boolean, pattern: scala.util.matching.Regex): List[String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
  }
}
