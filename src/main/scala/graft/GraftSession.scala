package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the test harness (local[N], small SF) but every setting is the
  * one we'd ship on a 1000-executor cluster too:
  *  - AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  *  - dynamic partition overwrite (idempotent partitioned re-export; replaces
  *    the reference's delete-then-insert, /root/reference/src/py/yq_dag.py:16-19 + 71-73),
  *  - UTC session time zone (oracle parity + reference uses naive timestamps).
  *
  * `spark.sql.shuffle.partitions` defaults to the local core count; on a real
  * cluster AQE's coalescing makes the initial number mostly a ceiling.
  */
object GraftSession {

  /** Local session for tests/benchmarks: `local[cores]`, or, with `cores`
    * unset, `SPARK_GRAFT_CPUS` (default: every available processor). */
  def local(appName: String = "graft", cores: Int = 0): SparkSession = {
    val n = if (cores > 0) cores.toString
      else sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
    val s = SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$n]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-plan INSIDE cached relations: off (the default), a
      // cached relation materializes with the raw spark.sql.shuffle.partitions
      // fan-out, and every downstream consumer — including each broadcast
      // subquery, which is its own job — pays a partition-count-sized task
      // wave to scan a cache whose bytes fit in a handful of partitions.
      // With it on, cache partitioning is byte-adaptive (AQE coalescing),
      // the same §2.2 fewer-larger-partitions rule the rest of the session
      // already applies; at cluster scale big caches stay wide because
      // coalescing targets bytes, not a constant. Measured on the r17
      // single-JVM interleaved A/B at 32 cpus: x18 0.49x, v13 0.46x,
      // d12 0.78x, d21 0.82x, v10 0.94x, s7 0.93x, s8/s9 1.0x, d2 1.13x
      // (the one mild loser; battery-level net is strongly positive).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Compile each generated class once per JVM. Spark caches compiled
      // classes in one LRU keyed by the source text, and by default the
      // source names every class after the stage id AQE assigned, so the
      // same stage code re-planned by a later run misses the cache. Without
      // the id, identical code shares one class. The LRU's default 100
      // entries hold less than one corpus pass (d19 69, d21 about 120, s7
      // 58 classes), so every pass recompiled all of them. The bound is
      // sized from two passes over all 191 queries at sf0.01 and local[4],
      // releasing at family boundaries: the first pass compiles 2,672
      // distinct classes and the second 200 more (152 in the v family),
      // 2,872 in all, with 235 MB of metaspace at the end. The defaults
      // compile 4,688 and 4,552 classes in those passes and end at 211 MB.
      // 4096 holds the battery's set, so nothing the engine re-runs is
      // evicted before its next use. CodeGenerator reads the bound once, on its
      // first use, and every entry point builds its session here first.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Create file:// files without a process per file: without libhadoop,
      // the stock local filesystem forks `chmod` for the mode of every file
      // and directory it creates (s7's 16-cell index writes fork 117 per
      // run) and `readlink` on every checkpoint rename; the graft classes
      // apply the same modes through java.nio (graft.sources.LocalFileSystems).
      // Fixed, not an option: Hadoop caches one FileSystem per scheme and
      // user, not per conf, so the first file:// caller in a JVM decides the
      // class every later caller gets, and every entry point builds its
      // session here first.
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.GraftLocalFs].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse") // keep catalog tables out of the repo
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Idempotent per-session setup of graft SQL functions (unwrap, graft_dot, …).
    * Guarded on the first function so repeated prepare() calls (every query
    * entry point calls it defensively) don't spam replace-warnings.
    */
  def prepare(spark: SparkSession): SparkSession = {
    val registered = spark.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("unwrap"))
    if (!registered) {
      graft.functions.Yql.register(spark)
      graft.functions.VectorExpressions.register(spark)
      graft.functions.TextExpressions.register(spark)
      graft.functions.BloomExpressions.register(spark)
    }
    spark
  }
}
