package graft

/** Single-JVM interleaved A/B timer for dynamic SQL confs — the only
  * reliable comparison method on this 2-3x-noisy host: both arms run
  * alternately in one session, so co-tenant drift hits them equally.
  *
  * Run: `java -cp ... graft.ABTime <query> <cycles> <conf=valueA|valueB> [more confs...]`
  * Each cycle: for each arm, set the confs, clear every cache, run the
  * query once to rebuild caches (untimed), then time 2 runs and keep the
  * min. Prints per-cycle numbers and the per-arm min across cycles.
  */
object ABTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val cycles = args(1).toInt
    val confs = args.drop(2).map { s =>
      val Array(k, vs) = s.split("=", 2)
      val Array(a, b) = vs.split("\\|", 2)
      (k, a, b)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.prepare(GraftSession.local("graft-ab"))
    val fn = SparkEntry.queries(name)
    def runOnce(): Rep = Rep.time(spark)(fn(spark, sfDir))
    runOnce() // JIT + codegen warm
    val best = Array(Double.MaxValue, Double.MaxValue)
    (1 to cycles).foreach { c =>
      Seq(0, 1).foreach { arm =>
        confs.foreach { case (k, a, b) => spark.conf.set(k, if (arm == 0) a else b) }
        spark.sharedState.cacheManager.clearCache()
        runOnce() // rebuild caches under this arm's conf (untimed)
        val t = (1 to 2).map(_ => runOnce().wallS).min
        best(arm) = math.min(best(arm), t)
        println(f"cycle $c arm $arm: $t%.3f s")
      }
    }
    println(f"$name armA=${best(0)}%.3f s armB=${best(1)}%.3f s ratio=${best(1) / best(0)}%.3f")
    spark.stop()
  }
}
