package graft

import java.nio.file.{Files, LinkOption, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scale probe: nothing in this repo had ever executed above sf0.1, so
  * a scale cliff (super-linear candidate growth in an LSH join, a window
  * that stops fitting a partition) would first be seen on a real cluster.
  * This main synthesizes a `factor`× corpus from an existing SF directory
  * in one of two shapes, times every query of the selected families at
  * both scales, and reports per-query wall-clock ratios so anything scaling
  * worse than the data growth is flagged before it ships.
  *
  * {{{
  *   graft.ScaleProbe [baseDir] [factor] [outDir] [cohort]
  * }}}
  *
  * Uniform shape (the default; documents, embeddings, events, orders and
  * lineitem are scaled, the remaining tables are symlinked from the base SF
  * so every `SparkEntry` query still resolves):
  *  - ids are re-keyed `old * factor + r`, keeping them distinct and dense
  *    and keeping the bounded query blocks (`vec_id < 50`) bounded;
  *  - replica r=0 is the base corpus byte-for-byte; replicas r>0 get a
  *    deterministic per-(doc,r) suffix so they are NEAR-duplicates, except
  *    ~10% (hash-picked) which stay exact clones — a re-crawl-shaped dup
  *    rate rather than a degenerate every-doc-×10 clone corpus that would
  *    inflate every candidate join quadratically by construction;
  *  - embeddings get ±1% deterministic element noise for r>0 (same
  *    rationale: near-dup structure, not collapsed identical vectors).
  *
  * Cohort shape (trailing `cohort`): the adversarial collapsed-cohort
  * corpus. A passing ×N ratio on re-crawl-shaped synthesis certifies the
  * measured cohort structure, not the asymptotic shape (the m7 lesson), so
  * this shape builds the degenerate structure directly: base documents ×
  * factor rows, 80% of them collapsed onto 150 keys — duplicate storms,
  * template farms, re-registrations — in documents, embeddings (one per
  * five documents) and customer (one per document); the remaining tables
  * are symlinked. Expected outcomes (SCALE.md): d2/d3 drop collapsed
  * shingles past the DF cap (flat wall), d5/d6 refuse through the
  * pair-budget guard (status `refused`), d17's linkage blocks take the
  * hash-collapse path, and the fixed-query-block serves (s2/s3/s7),
  * d19b's postings cap and m4/m6/m8 stay linear. d19 is excluded by its
  * documented quadratic contract.
  *
  * Every probed query records a status: `ok`, `refused`,
  * `failed_at_construction` or `timeout_or_failed`. The probe is
  * diagnostic, not an oracle gate: scaled data never feeds DuckDB.
  * Results land in `target/bench_sf1.json` (uniform) or
  * `target/bench_cohort.json`; SCALE.md records the conclusions.
  */
object ScaleProbe {

  /** Query-name prefixes probed: the document/embedding families by
    * default (dedup / similarity / corpus-prep); override with e.g.
    * `SPARK_GRAFT_PROBE_FAMILIES=dsvt` to include text analysis.
    */
  private val Families: Set[Char] =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_FAMILIES", "dsv").toSet

  /** Comma-separated query names to exclude (`SPARK_GRAFT_PROBE_SKIP`) —
    * for densities where a query's OUTPUT contract (e.g. the quadratic
    * pair materializations d5/d6) would exceed the probe host's disk, not
    * its runtime. Skips are a per-run measurement choice, never a default.
    */
  private val Skip: Set[String] =
    sys.env.get("SPARK_GRAFT_PROBE_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Cohort shape: the share of rows collapsed onto [[CohortKeys]] keys,
    * as in every committed cohort artifact.
    */
  private[graft] val CohortSharePct = 80
  private[graft] val CohortKeys = 150

  /** d19's exhaustive all-pairs output is quadratic in clique size by
    * contract (SCALE.md), and the cohort shape is one clique per key.
    */
  private val CohortExcluded = Set("d19_setsim_join")

  def synthesize(spark: SparkSession, baseDir: String, outDir: String, factor: Int,
                 cohort: Boolean = false): Unit = {
    val out = Paths.get(outDir)
    val marker = out.resolve("_PROBE_OK")
    // the stamp fingerprints the SOURCE tables (mtime+size) so a probe dir
    // synthesized from a previous corpus generation is rebuilt, not reused —
    // the driver regenerates /root/testdata between rounds
    val srcStamp = Seq("documents", "embeddings", "events", "orders", "lineitem")
      .map { t =>
        val p = Paths.get(baseDir, s"$t.parquet")
        s"$t:${Files.getLastModifiedTime(p).toMillis}:${Files.size(p)}"
      }.mkString(",")
    val shape = if (cohort) "cohort v1" else "v5"
    val stamp = s"$shape factor=$factor base=$baseDir src=$srcStamp"
    if (Files.exists(marker) && new String(Files.readAllBytes(marker)) == stamp) return
    Files.createDirectories(out)

    val scaled =
      if (cohort) Set("documents", "embeddings", "customer")
      else Set("documents", "embeddings", "events", "orders", "lineitem")
    // an overwrite through a symlinked table would land in the base SF
    // (the other shape, or an older layout, linked it)
    scaled.map(t => out.resolve(s"$t.parquet")).filter(Files.isSymbolicLink(_)).foreach(Files.delete)
    if (cohort) writeCohort(spark, baseDir, outDir, factor)
    else writeUniform(spark, baseDir, outDir, factor)

    Tables.names.filterNot(scaled).foreach { n =>
      val link = out.resolve(s"$n.parquet")
      val target = Paths.get(baseDir, s"$n.parquet").toAbsolutePath
      if (!(Files.isSymbolicLink(link) && Files.readSymbolicLink(link) == target)) {
        removeTree(link)
        Files.createSymbolicLink(link, target)
      }
    }
    Files.write(marker, stamp.getBytes("UTF-8"))
  }

  /** Deletes a table written by the other shape; a symlink loses only the
    * link (the walk does not follow links).
    */
  private def removeTree(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  private def writeUniform(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    val reps = broadcast(spark.range(factor.toLong).select(col("id").cast("int").as("r")))

    // The base SF tables are single parquet files → one scan task; without a
    // spread the ×factor explode AND its shuffle write run on one core (the
    // 100× lineitem synth took 12 min serial vs ~1 min spread). Content is
    // per-row deterministic, so partitioning never changes the corpus.
    val spread = spark.sparkContext.defaultParallelism
    def spreadOut(df: DataFrame) = df.repartition(spread)

    val docs = spreadOut(Tables.documents(spark, baseDir))
    docs.crossJoin(reps)
      .withColumn("doc_id", col("doc_id") * factor + col("r"))
      .withColumn("text",
        when(col("r") === 0 || pmod(hash(col("doc_id"), col("r")), lit(10)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zq"),
            substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("r").cast("string"))), 1, 6))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(math.max(8, factor))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    spreadOut(Tables.embeddings(spark, baseDir)).crossJoin(reps)
      .withColumn("vec_id", col("vec_id") * factor + col("r"))
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> x + CAST(pmod(hash(vec_id, i), 1000) - 500 AS FLOAT)" +
          " / 50000.0F * CAST(IF(r = 0, 0, 1) AS FLOAT))"))
      .select("vec_id", "embedding", "label")
      .repartition(math.max(8, factor))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events ×factor: replicated USERS (new user_id/event_id keyspace,
    // same per-user activity shape) — horizontal growth, which is how an
    // event stream actually scales. `ts` passes through untouched in
    // whatever physical type this corpus generation used (nanos-as-long
    // under the legacy flag, or plain micros) — the scaled copy's reader
    // path is then identical to the driver corpus's.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spreadOut(spark.read.parquet(s"$baseDir/events.parquet")).crossJoin(reps)
      .withColumn("event_id", col("event_id") * factor + col("r"))
      .withColumn("user_id", col("user_id") * factor + col("r"))
      .drop("r")
      .repartition(math.max(8, factor))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // facts ×factor, FK-consistent: orders get a rekeyed o_orderkey per
    // replica and their lineitems follow with the same rekey; customers/
    // parts/suppliers stay the base dims (facts grow faster than
    // dimensions — the realistic shape, and it keeps dim joins
    // broadcast-sized at any factor). Same customer base ⇒ factor× orders
    // per customer. VALUE columns get a deterministic ±0.50 cent jitter on
    // replicas r>0 — rekeying only the id copies every price verbatim, so
    // distinct-VALUE cardinality would stay flat at any factor and a probe
    // could never see an operator whose cost grows with the value domain
    // (x16's per-distinct-cents relation was exactly that blind spot).
    val valueJitter = Map(
      "orders" -> Seq("o_totalprice"),
      "lineitem" -> Seq("l_extendedprice"))
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach { case (t, key) =>
      val rekeyed = spreadOut(Tables.load(spark, baseDir, t)).crossJoin(reps)
        .withColumn(key, col(key) * factor + col("r"))
      valueJitter(t).foldLeft(rekeyed) { (df, c) =>
        df.withColumn(c, when(col("r") === 0, col(c)).otherwise(
          round(col(c) +
            (pmod(hash(col(key), col("r"), lit(c)), lit(101)) - lit(50)).cast("double") / 100.0,
            2)))
      }
        .drop("r")
        .repartition(math.max(8, factor))
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  private def writeCohort(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    val n = Tables.rowCountFromFooters(spark, baseDir, "documents") * factor
    // CohortSharePct/20 ids in every 5 collapse: the share holds exactly per
    // block of five, so it never falls below CohortSharePct at any row count
    // and a bounded query block (`vec_id < 50`) sees the same mix; the key
    // is hash-picked
    def collapsed(id: Column) = pmod(id, lit(5L)) < CohortSharePct / 20
    def key(id: Column) = pmod(hash(id, lit(7)), lit(CohortKeys)).cast("long")
    def md5Words(c: Column, salt: String, k: Int) =
      concat_ws(" ", (0 until k).map(i => md5(concat(lit(s"$salt$i:"), c.cast("string")))): _*)
    def write(df: DataFrame, t: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    write(spark.range(n).toDF("doc_id")
      .withColumn("text",
        when(collapsed(col("doc_id")), md5Words(key(col("doc_id")), "c", 20))
          .otherwise(md5Words(col("doc_id"), "u", 20)))
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("cohort").as("source"), length(col("text")).cast("long").as("n_chars")), "documents")

    write(spark.range(n / 5).toDF("vec_id")
      .withColumn("seed",
        when(collapsed(col("vec_id")), key(col("vec_id"))).otherwise(col("vec_id") + lit(1000000000L)))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), i -> CAST(pmod(hash(seed, i), 1000) AS FLOAT) / 500.0F - 1.0F)"))
      .select(col("vec_id"), col("embedding"), lit(0).as("label")), "embeddings")

    // collapsed identity strings WITH a shared nation (the composited
    // trusted attribute must not rescue the linkage block): 80% of rows
    // are re-registrations of 150 entities
    write(spark.range(n).toDF("c_custkey")
      .withColumn("ident",
        when(collapsed(col("c_custkey")), key(col("c_custkey")))
          .otherwise(col("c_custkey") + lit(2000000000L)))
      .select(col("c_custkey"),
        concat(lit("Customer#"),
          lpad(pmod(col("ident") * 2654435761L, lit(1000000000L)).cast("string"), 9, "0")).as("c_name"),
        pmod(hash(col("ident")), lit(25)).as("c_nationkey")), "customer")
  }

  /** Per-query budget: a probe exists to FIND blow-ups, so a query that
    * exceeds this at the scaled SF is itself the finding — cancel its jobs
    * (job-group cancel, the supported way to abort a running action) and
    * record the timeout instead of wedging the whole battery behind it.
    */
  private val QueryTimeoutSec: Int =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_TIMEOUT_SEC", "300").toInt

  /** Per-query budget multipliers for operators whose HONEST full-width
    * ×100 time is documented above the default budget — not a blow-up, a
    * measured envelope (SCALE.md ledger). d14's output-driven cohort
    * verify has measured 265–379 s across r8/r14/r17 at byte-identical
    * 5.02M-pair output; under the 300 s default every d-family rotation
    * would re-pay a false timeout plus a manual solo re-run (it did in
    * r14 and r17). The multiplier scales with any env override, so a
    * throttled run that raises the base budget raises these with it.
    */
  private[graft] val BudgetMultiplier: Map[String, Int] =
    Map("d14_incremental_lsh" -> 3)
  private def budgetFor(name: String): Int =
    QueryTimeoutSec * BudgetMultiplier.getOrElse(name, 1)

  /** One (query, dir) cell: `ok` with wall seconds and result rows, or
    * the status that explains their absence (-1 marks a missing value).
    */
  private final case class Cell(status: String, sec: Double = -1.0, rows: Long = -1L,
                                detail: String = "")

  /** A construction outcome ([[classifyConstruction]]) thrown out of a rep. */
  private final case class Unbuilt(outcome: (String, String))
    extends Exception with scala.util.control.NoStackTrace

  /** Min-of-`reps` [[Rep]] wall-clock of building the query (construction
    * is classified by [[classifyConstruction]]) and materializing the FULL
    * result, plus the result cardinality. Rows disambiguate the ratio
    * analysis: a candidate-driven operator (near-dup pairs) legitimately
    * costs Θ(output), so runtime ratio ≈ row ratio is linear-in-work even
    * when it exceeds the data growth factor.
    */
  private def time(spark: SparkSession, dir: String, name: String,
                   fn: (SparkSession, String) => DataFrame, reps: Int): Cell = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    var best: Option[Cell] = None
    var last = Cell("timeout_or_failed")
    var rep = 0
    var settled = false
    // a timeout or a construction refusal ends the battery entry for this
    // query: the finding IS the outcome, and rep 2 would only repeat it
    while (rep < reps && !settled) {
      rep += 1
      // drop d-family shared caches BETWEEN reps too: min-of-reps must
      // measure the cold query, not rep2 reading rep1's persisted
      // intermediates (which understated d4/d5 by >10x in the first run)
      Intermediates.releaseAll()
      val attempt = Future {
        spark.sparkContext.setJobGroup(s"probe-$name", name, interruptOnCancel = true)
        try Right(Rep.time(spark)(
          classifyConstruction(fn(spark, dir)).fold(c => throw Unbuilt(c), identity)))
        catch { case Unbuilt(c) => Left(c) }
        finally spark.sparkContext.clearJobGroup()
      }
      try Await.result(attempt, budgetFor(name).seconds) match {
        case Right(r) =>
          val c = Cell("ok", r.wallS, r.rows)
          if (best.forall(_.sec > c.sec)) best = Some(c)
        case Left((status, detail)) =>
          System.err.println(s"[probe] ${status.toUpperCase}: $name: $detail")
          last = Cell(status, detail = detail)
          settled = true
      }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(s"probe-$name")
          System.err.println(s"[probe] TIMEOUT after ${budgetFor(name)}s: $name")
          settled = true
        case t: Throwable =>
          System.err.println(s"[probe] FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
    }
    best.getOrElse(last)
  }

  /** Classify one query's CONSTRUCTION (pre-flight) outcome for a probe
    * cell. Refusals are matched by TYPE ([[ContractRefusedException]]),
    * not message substring, so a reworded guard can't escape; any OTHER
    * construction-time failure becomes that query's own
    * `failed_at_construction` cell instead of aborting the whole probe
    * run (r16 advice: the old `getMessage.contains("refused")` match let
    * one unrelated exception kill every remaining cell).
    */
  private[graft] def classifyConstruction[T](build: => T): Either[(String, String), T] =
    try Right(build)
    catch {
      case e: ContractRefusedException =>
        Left(("refused", e.getMessage.takeWhile(_ != '(').trim))
      case scala.util.control.NonFatal(e) =>
        Left(("failed_at_construction",
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    }

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "'").replaceAll("\\s+", " ") + "\""

  def main(argv: Array[String]): Unit = {
    val cohort = argv.lastOption.contains("cohort")
    val args = if (cohort) argv.init else argv
    require(args.length <= 3, "usage: graft.ScaleProbe [baseDir] [factor] [outDir] [cohort]")
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val outDir = if (args.length > 2) args(2)
      else if (cohort) s"target/sfprobe/cohort-x$factor" else s"target/sfprobe/x$factor"
    val spark = GraftSession.prepare(GraftSession.local("graft-scale-probe"))

    synthesize(spark, baseDir, outDir, factor, cohort)

    val probed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        Families.contains(name.head) && !Skip(name) && !(cohort && CohortExcluded(name)) }

    // JIT/codegen warmup at the smallest SF so base timings are steady-state
    probed.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count() catch { case _: Throwable => () }
    }
    Intermediates.releaseAll()

    val rows = probed.map { case (name, fn) =>
      val base = time(spark, baseDir, name, fn, reps = 2)
      Intermediates.releaseAll()
      val scaled = time(spark, outDir, name, fn, reps = 2)
      Intermediates.releaseAll()
      val ratio = if (base.status == "ok" && scaled.status == "ok") scaled.sec / base.sec else -1.0
      println(f"[probe] $name%-22s base=${base.sec}%7.2fs x$factor=${scaled.sec}%7.2fs " +
        f"ratio=$ratio%6.2f rows=${base.rows}->${scaled.rows} ${scaled.status}")
      (name, base, scaled, ratio)
    }

    // a query's status is its first non-ok cell, the scaled one first
    def verdict(b: Cell, s: Cell): Cell = Seq(s, b).find(_.status != "ok").getOrElse(s)
    val qjson = rows.map { case (name, b, s, ratio) =>
      val v = verdict(b, s)
      val detail = if (v.detail.isEmpty) "" else s""","detail":${jsonString(v.detail)}"""
      s""""$name":{"status":"${v.status}","base":${b.sec},"scaled":${s.sec},""" +
        s""""ratio":$ratio,"rows_base":${b.rows},"rows_scaled":${s.rows}$detail}"""
    }.mkString("{", ",", "}")
    val failed = rows.collect { case (n, b, s, _) if verdict(b, s).status != "ok" => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    // flag anything growing faster than BOTH the data factor and its own
    // output growth (2x headroom for the noisy host; sub-second baselines
    // make small ratios meaningless)
    val superlinear = rows.collect {
      case (n, b, s, ratio)
          if ratio > factor * 2.0 && s.sec > 2.0 &&
             ratio > 2.0 * (s.rows.toDouble / math.max(1L, b.rows)) => "\"" + n + "\""
    }.mkString("[", ",", "]")
    val total = rows.map(_._3).filter(_.status == "ok").map(_.sec).sum
    val shape =
      if (cohort) s""""shape":"cohort","cohort_share_pct":$CohortSharePct,"distinct_keys":$CohortKeys,""" +
        CohortExcluded.map(q => s""""$q"""").mkString(""""excluded_by_contract":[""", ",", "],")
      else """"shape":"uniform","""
    val line = s"""{"metric":"sf_probe_total","value":$total,"unit":"sec","factor":$factor,$shape""" +
      s""""base":"$baseDir","scaled":"$outDir","queries":$qjson,"failed":$failed,""" +
      s""""superlinear":$superlinear}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    val record = if (cohort) "target/bench_cohort.json" else "target/bench_sf1.json"
    Files.write(Paths.get(record), line.getBytes("UTF-8"))
    spark.stop()
  }
}
