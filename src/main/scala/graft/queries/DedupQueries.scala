package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Intermediates
import graft.functions.{Text, Vectors}
import graft.sources.Tables

/** Deduplication operators over the `documents` / `embeddings` corpus — the
  * exact / MinHash-LSH / SimHash / n-gram-Jaccard / embedding-cosine family
  * a 100 TB pretraining pipeline runs (builder brief; SURVEY.md §7.1 step 7).
  *
  * Scale design: no operator materializes the document cross product.
  * Candidate pairs come from equi-joins on *bucket keys* (shared shingle,
  * MinHash band signature, SimHash band) so the shuffle keys are
  * hash-partitionable and skew is bounded by a document-frequency cap —
  * the standard way these run on thousands of executors. Hashes are
  * md5-derived so the DuckDB oracle reproduces them bit-for-bit.
  */
object DedupQueries {

  private[queries] val MinhashFns = 12   // hash family size
  private[queries] val BandRows = 2      // MinHash rows per band → 6 bands
  private[queries] val ShingleDfCap = 100 // drop shingles shared by > cap docs (skew guard)
  /** 64-bit SimHash with 4×16-bit bands (pigeonhole-complete for
    * Hamming ≤ 3, same as the previous 4×8 over 32 bits). The width is a
    * 100 TB requirement, not a tuning knob: a 32-bit sketch has 2³²
    * values, so at ~10¹¹ documents EVERY value is occupied (~25 docs
    * each) and even the distinct-fingerprint collapse is a dense 2³²-node
    * graph with 8-bit band buckets of 2²⁴ values; at 64 bits the value
    * space (1.8e19) stays sparse at any realistic corpus and the 16-bit
    * band buckets stay ~n/65536. Bit 63's place value is Long.MinValue
    * (two's complement) on BOTH engines — the oracle sums place values in
    * hugeint and lands exactly on the signed 64-bit value.
    */
  private val SimhashBits = 64
  private val SimhashBands = 4  // 16 bits per band
  private val SimhashBandBits = SimhashBits / SimhashBands
  private val SimhashBandMask = (1L << SimhashBandBits) - 1

  /** Universal-hash family h_j(x) = (a_j·h32(x) + b_j) mod p over ONE md5
    * base hash — 12 multiplications instead of 12 md5 digests per shingle
    * (the md5 calls dominated the MinHash profile). p = 2⁶¹−1 (Mersenne
    * prime); a_j < 2²⁹ keeps a_j·h32 < 2⁶² — no 64-bit overflow in either
    * engine, so the oracle reproduces every value exactly.
    */
  /** Pin a COMPUTE-DENSE relation's partitioning to the configured shuffle
    * width on the given key columns. AQE's byte-based partition coalescing
    * sizes stages by bytes, so a stage whose per-row work is heavy but
    * whose rows are narrow — the levenshtein / array_intersect verify
    * stages of the blocked-join family — collapses to one or two tasks
    * and runs serially (the r17 d17 profile: one 3.3 s task on 32 idle
    * cores over a 0.4 MB candidate relation). A user-numbered repartition
    * is exempt from AQE coalescing, and because it is KEYED on exactly
    * the distribution the downstream window/join requires, it replaces
    * that exchange instead of adding one. N rides
    * `spark.sql.shuffle.partitions` — cores locally, the documented
    * 2-3x-executor-count ceiling on a cluster — never a constant.
    */
  private[queries] def computeWide(df: DataFrame, cols: Column*): DataFrame =
    // typed, default-aware conf read (r17 advice): string conf.get + toInt
    // threw NumberFormatException at PLAN-BUILD time on a bad conf value
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  /** Release every materialized intermediate: a forwarder to
    * [[graft.Intermediates.releaseAll]], kept for callers outside the engine.
    */
  def unpersistShared(): Unit = graft.Intermediates.releaseAll()

  /** Budgets for the contractually-quadratic FULL-pair forms (d5, d6) —
    * two bounds, because candidates and output diverge by orders of
    * magnitude (the ×100 probe corpus generates a 3.6e9 banded candidate
    * estimate but only 24M verified pairs, and the engine runs it in
    * 27 s):
    *
    *  - [[PairOutputBudget]] is the documented OUTPUT ceiling (SCALE.md
    *    "d5/d6 excluded at their documented ≥2 B-pair output ceiling") —
    *    enforced against a PROVABLE lower bound on output (pairs of
    *    identical keys, which verify trivially), so it only refuses when
    *    the result itself is certainly past the contract.
    *  - The candidate budget is the JOIN-WORK bound, and it is
    *    PER-OPERATOR because it must equalize work, not rows — the
    *    per-candidate verify costs differ ~30×. d5 verifies with one
    *    XOR+popcount: its largest measured-good volume is ×100's 3.6e9
    *    (27 s) and the m7-class collapses sit ≥ 2e10 and time out, so
    *    [[CandidateBudget]] = 1e10 splits the decided cases. d6 verifies
    *    with a 64-dim cosine: ~1e8 cosine candidates measure at 6 s and
    *    8.5e9 TIMED OUT the ×1000 cohort battery straight past the d5
    *    budget (the r16 catch), so [[CosineCandidateBudget]] = 2e9
    *    (~2 min of fused-dot work at 32 cores) bounds it.
    *
    * [[guardPairBudget]] enforces both as a loud pre-flight (the
    * `DsirScoreCap` precedent: a documented boundary a user can hit gets
    * a check with the routing answer, not silence).
    */
  private[graft] val PairOutputBudget = 2_000_000_000L
  private[graft] val CandidateBudget = 10_000_000_000L
  private[graft] val CosineCandidateBudget = 2_000_000_000L

  /** Per-JVM pre-flight memo keyed on dir + manifest fingerprint (the
    * `Tables.fitKey` precedent): d5's guard is consumed by five queries
    * per battery (d5/d5b/d7/d8/t5) and its estimate aggregations cost
    * ~0.6 s per call at sf0.1 — the corpus hasn't changed between them,
    * so neither has the verdict. The key carries the OPERATOR identity,
    * not just the table: d5 (documents) and d6 (embeddings) happen not to
    * collide today, but two guards over the same table with different
    * budgets must never share a pass verdict (r16 advice). A REFUSAL is
    * never cached (the exception propagates before the memo write), so an
    * over-budget corpus re-checks and re-refuses on every call; an
    * in-place corpus rewrite changes the fingerprint and re-runs the check
    * (`ContractGuardSpec` "rewrite re-arms"). Staleness window: `fitKey`
    * fingerprints at mtime granularity (seconds on some filesystems), so
    * a same-second in-place rewrite can reuse the prior verdict until the
    * clock ticks — acceptable for a per-JVM cache whose misses are only
    * ever conservative re-checks, but specs that rewrite a corpus must
    * sleep past the tick to re-arm (`ContractGuardSpec` does).
    */
  private val pairGuardMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def memoizedGuard(spark: SparkSession, dir: String, op: String,
      table: String)(check: => Unit): Unit = {
    pairGuardMemo.computeIfAbsent(s"$op|$table|${Tables.fitKey(spark, dir, table)}",
      _ => { check; java.lang.Boolean.TRUE })
    ()
  }

  /** Loud pre-flight for the two pair budgets. `cohorts` must carry one
    * row per band bucket with member count `c` (DOUBLE — C(c,2) on a
    * 10¹¹-doc cohort overflows a long); Σ c(c−1)/2 over it is the exact
    * banded candidate count BEFORE verification. `outputLowerBound` is a
    * provable lower bound on the VERIFIED pair output (identical-key
    * pairs — hamming 0 / cosine 1 — always pass verification). Both are
    * computed from slim collapsed relations (for d5, one pass over the
    * cached signature), never the quadratic join itself.
    */
  private[queries] def guardPairBudget(cohorts: DataFrame, outputLowerBound: Double,
      candidateBudget: Long, op: String, route: String): Unit = {
    if (outputLowerBound > PairOutputBudget.toDouble)
      throw new graft.ContractRefusedException(
        f"$op refused: identical-key pairs alone guarantee ${outputLowerBound}%.3g output " +
          f"rows, past the documented pair-output budget $PairOutputBudget (SCALE.md d5/d6 " +
          s"pair ceiling). Full pair materialization is quadratic in duplicate-cohort width " +
          s"by contract; at this density the pairwise relation is the wrong deliverable - " +
          s"route to $route.")
    val r = cohorts.agg(
      sum(expr("c * (c - 1.0) / 2.0")).as("pairs"), max(col("c")).as("widest")).head
    val pairs = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    if (pairs > candidateBudget.toDouble)
      throw new graft.ContractRefusedException(
        f"$op refused: banded candidate estimate ${pairs}%.3g pairs exceeds this operator's " +
          f"join-work candidate budget $candidateBudget (widest band cohort: " +
          f"${r.getDouble(1)}%.3g members; budgets are per verify cost - one XOR+popcount vs " +
          f"a 64-dim cosine differ ~30x per candidate). The bucket structure is m7-class " +
          s"collapsed (SCALE.md d5/d6 pair ceiling); route to $route.")
  }

  private[queries] val MersenneP = (1L << 61) - 1
  private[queries] def affineA(j: Int): Long =
    math.abs(("a:" + j).hashCode.toLong % ((1L << 29) - 1)) * 2 + 1 // odd, < 2^30
  private[queries] def affineB(j: Int): Long =
    math.abs(("b:" + j).hashCode.toLong) % MersenneP

  private def tokensDf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))

  // NOTE on sharing granularity: the shared persists sit at the DERIVED
  // relations (shingles, span windows, SimHash groups), never at the raw
  // token arrays — a cached array<string> column pays columnar
  // deserialization on every read, and measured slower than re-running
  // the codegen-fused scan+tokenize it would save (d2 0.71 s → 1.3 s when
  // routed through a tokens cache). Spark's cache manager dedupes
  // structurally-equal cached plans, so d2/d3 already share one shingle
  // relation and d10/d11 one window relation.

  /** (doc_id, sh64) — distinct word 3-grams, document-frequency capped.
    *
    * Shingles are hashed to 64-bit md5 longs AT THE EXPLODE, so the DF
    * groupBy, the cap join-back, and every downstream candidate join
    * shuffle 8-byte keys instead of ~25-byte strings (~3× less shuffle
    * volume at any scale; cheaper sorts). Set semantics are preserved
    * modulo md5Long collisions (~n²/2⁶⁵ — negligible, deterministic, and
    * the DuckDB oracle joins on the raw strings so a collision would fail
    * the gate loudly rather than pass silently). d3's MinHash family was
    * already md5Long-derived, so its per-shingle hashes are unchanged.
    */
  /** Uncapped distinct (doc_id, sh64) — the raw relation both the capped
    * [[shinglesDf]] (d2/d3) and d19's lossless prefix join derive from;
    * cached so the scan+tokenize+explode runs once per family.
    */
  private def rawShingles(spark: SparkSession, dir: String): DataFrame = {
    // NOT pinned wide (r18 reversal of the r17 computeWide pin): the r17
    // rationale — byte-based AQE cache coalescing serializes compute-dense
    // consumers — did not survive a same-JVM interleaved A/B. With the pin,
    // EVERY consumer is slower at gate scale (d3 1.72x, d19 1.42x, d2/d19b
    // 1.27x, d14 1.07x — warm-cache timed runs, build cost excluded), because
    // the few-MB cache fans every cache-read stage out to shuffle-width task
    // waves whose scheduling overhead exceeds the compute. At cluster scale
    // the unpinned cache stays wide anyway (AQE coalescing targets bytes —
    // the guide §2.2 rule), and the compute-dense VERIFY stages keep their
    // own keyed computeWide pins (d17/d19/d19b).
    Intermediates.cache(tokensDf(spark, dir)
      .select(col("doc_id"), explode(Text.shingles(col("tk"))).as("shingle"))
      .select(col("doc_id"), Text.md5Long(col("shingle")).as("sh64")))
  }

  private def shinglesDf(spark: SparkSession, dir: String): DataFrame = {
    val sh = rawShingles(spark, dir)
    val df = sh.groupBy("sh64").agg(count(lit(1)).as("df"))
      .where(col("df") <= ShingleDfCap)
    // the cap join-back preserves sh's hash(doc_id) partitioning (df is
    // the broadcast side), so the capped cache inherits the wide layout
    sh.join(df, "sh64").select("doc_id", "sh64")
  }

  private val shingleSqlBase: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents),
       |sh_all AS (
       |  SELECT doc_id, unnest(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS shingle
       |  FROM toks WHERE len(tk) >= 3),
       |sh AS (
       |  SELECT doc_id, shingle FROM sh_all
       |  WHERE shingle IN (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= $ShingleDfCap)),
       |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1)""".stripMargin

  /** Exact deduplication: hash-groupBy on the normalized-text fingerprint
    * over a corpus with synthetic duplicates (every 10th doc re-appears
    * under a shifted id — the re-crawl scenario). One shuffle on the
    * fingerprint; keeper = min id, the usual deterministic survivor rule.
    */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.unionByName(
      docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    corpus
      .groupBy(md5(Text.normText(col("text"))).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy("keep_id")
  }

  val d1Oracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
      |SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |       count(1) AS n_copies, min(doc_id) AS keep_id
      |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs: candidates share ≥1 shingle
    * (inverted-index self-join, DF-capped), then |A∩B| / |A∪B| ≥ 0.5.
    * At scale the shingle join is the one shuffle; the DF cap bounds the
    * worst key to cap² pairs.
    */
  def d2NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = Intermediates.cache(shinglesDf(spark, dir))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // computeWide on the pair join's own hash(sh64) exchange: the
    // candidate blow-up + pair partial-agg is the dense work
    val shJ = computeWide(sh, col("sh64"))
    val inter = shJ.as("a").join(shJ.as("b"), Seq("sh64"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= 0.5)
      .select("da", "db", "jaccard")
      .orderBy("da", "db")
  }

  val d2Oracle: String =
    s"""WITH $shingleSqlBase,
       |inter AS (
       |  SELECT a.doc_id da, b.doc_id db, count(*) i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, i * 1.0 / (sa.n + sb.n - i) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
       |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
       |ORDER BY da, db""".stripMargin

  /** MinHash + LSH near-dup: 12 md5-seeded min-hashes per doc, banded 2×6;
    * band-signature equality proposes candidates (equi-join on the band
    * key — the LSH trick that replaces the O(n²) scan), exact Jaccard ≥ 0.5
    * verifies. Probabilistic *recall* but fully deterministic given the
    * hash family, so the oracle reproduces it exactly.
    */
  def d3MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sh = Intermediates.cache(shinglesDf(spark, dir))
    val hashed = sh
      .withColumn("h32", col("sh64").bitwiseAND(lit(0xFFFFFFFFL)))
      .select(
        col("doc_id") +: (0 until MinhashFns).map(j =>
          ((col("h32") * affineA(j) + affineB(j)) % MersenneP).as(s"h$j")): _*)
    val sig = hashed.groupBy("doc_id")
      .agg(min(col("h0")).as("m0"),
        (1 until MinhashFns).map(j => min(col(s"h$j")).as(s"m$j")): _*)
    val nBands = MinhashFns / BandRows
    val bandArr = array((0 until nBands).map { k =>
      struct(lit(k).as("band"),
        concat_ws(",", (0 until BandRows).map(r => col(s"m${k * BandRows + r}")): _*).as("key"))
    }: _*)
    val bands = sig.select(col("doc_id"), explode(bandArr).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
    val cand = bands.as("a").join(bands.as("b"), Seq("band", "key"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("x"), col("x.doc_id") === col("da"))
      .join(sh.as("y"), col("y.doc_id") === col("db") && col("y.sh64") === col("x.sh64"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= 0.5)
      .select("da", "db", "jaccard")
      .orderBy("da", "db")
  }

  /** d3's verified near-dup pairs as a reusable CTE chain ending in
    * `mpairs(da, db, jaccard)` — shared by d3's gate form and d20's
    * batch-recompute oracle.
    */
  private val minhashPairsSqlBase: String =
    s"""$shingleSqlBase,
       |h AS (
       |  SELECT doc_id, shingle, j,
       |         ((('0x' || substr(md5(shingle), 1, 15))::BIGINT & 4294967295)
       |          * ([${(0 until MinhashFns).map(affineA).mkString(", ")}][j + 1])
       |          + ([${(0 until MinhashFns).map(affineB).mkString(", ")}][j + 1])) % ${MersenneP} hv
       |  FROM sh, unnest(range(0, $MinhashFns)) AS r(j)),
       |sig AS (SELECT doc_id, j, min(hv) m FROM h GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, j // $BandRows AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS key
       |  FROM sig GROUP BY doc_id, j // $BandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id da, b.doc_id db
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.da, c.db, count(*) i
       |  FROM cand c JOIN sh x ON x.doc_id = c.da JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
       |  GROUP BY 1, 2),
       |mpairs AS (
       |  SELECT da, db, i * 1.0 / (sa.n + sb.n - i) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
       |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5)""".stripMargin

  val d3Oracle: String =
    s"""WITH $minhashPairsSqlBase
       |SELECT da, db, jaccard FROM mpairs ORDER BY da, db""".stripMargin

  /** Term-frequency-weighted 64-bit SimHash per document. One aggregation
    * with 64 codegen'd sum expressions (one per bit) — no 64× row
    * explosion, no second shuffle; the per-bit sums then assemble into the
    * signature in a single projection. See the [[SimhashBits]] note for
    * why 64 bits is the 100 TB requirement.
    */
  def d4Simhash(spark: SparkSession, dir: String): DataFrame = {
    // two 60-bit md5-derived hashes cover the 64 bit positions: seed 99
    // serves bits 0–31 (as the 32-bit sketch did), seed 98 bits 32–63
    val tf = tokensDf(spark, dir)
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("hv", Text.md5LongSeeded(col("tok"), 99))
      .withColumn("hv2", Text.md5LongSeeded(col("tok"), 98))
    def bitSrc(b: Int): Column =
      if (b < 32) shiftright(col("hv"), b) else shiftright(col("hv2"), b - 32)
    val bitSums = tf.groupBy("doc_id").agg(
      sum(col("tf") * (bitSrc(0).bitwiseAND(lit(1L)) * 2 - 1)).as("s0"),
      (1 until SimhashBits).map(b =>
        sum(col("tf") * (bitSrc(b).bitwiseAND(lit(1L)) * 2 - 1)).as(s"s$b")): _*)
    // persisted: d5/d7/d8/t5 all build on the signature; Spark's cache
    // manager matches the identical logical plan across those calls, so
    // the corpus is hashed once per (session, dir), not once per query.
    Intermediates.cache(bitSums
      .select(col("doc_id") +: Seq(
        (0 until SimhashBits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash")): _*))
      .orderBy("doc_id")
  }

  /** DuckDB SQL for the 64-bit place value of bit `b` of the signature:
    * bit 63's place is Long.MinValue in two's complement.
    */
  private val simhashPlaceSql =
    "CASE WHEN b = 63 THEN -9223372036854775808 ELSE 1::BIGINT << b END"

  /** DuckDB SQL for the seeded bit source of bit `b` (seed 99 bits 0–31,
    * seed 98 bits 32–63 — mirrors [[d4Simhash]]'s bitSrc).
    */
  private val simhashBitSrcSql =
    "CASE WHEN b < 32 THEN ('0x' || substr(md5('99:' || tok), 1, 15))::BIGINT >> b" +
      " ELSE ('0x' || substr(md5('98:' || tok), 1, 15))::BIGINT >> (b - 32) END"

  val d4Oracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents),
       |tf AS (SELECT doc_id, unnest(tk) tok FROM toks),
       |tfc AS (SELECT doc_id, tok, count(*) tf FROM tf GROUP BY 1, 2),
       |bits AS (
       |  SELECT doc_id, b, sum(tf * ((($simhashBitSrcSql) & 1) * 2 - 1)) s
       |  FROM tfc, unnest(range(0, $SimhashBits)) AS r(b)
       |  GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN $simhashPlaceSql ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs: band-partitioned candidates (4×16-bit bands —
    * pigeonhole-complete for Hamming ≤ 3), verified by popcount of the XOR.
    * The arithmetic-vs-logical shift question is moot: every band's top
    * bit index is ≤ 63, so the masked low 16 bits are identical either way
    * on both engines.
    */
  def d5SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // pre-flight both pair budgets from the COLLAPSED fingerprint groups
    // (one row per distinct simhash, multiplicity m): identical-simhash
    // pairs Σ C(m,2) are hamming-0 — a provable OUTPUT lower bound — and
    // per band bucket the cohort is Σm, making the candidate estimate
    // exact for the join; both cost one pass over the cached signature,
    // never the join itself
    memoizedGuard(spark, dir, "d5_simhash_pairs", "documents") {
      val g5 = simhashGroups(spark, dir)
      val identPairs = {
        val r = g5.agg(sum(expr("CAST(m AS DOUBLE) * (m - 1) / 2")).cast("double")).head
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      guardPairBudget(
        g5.select(col("simhash"), col("m"),
            explode(sequence(lit(0), lit(SimhashBands - 1))).as("band"))
          .withColumn("bkey", expr(s"(simhash >> (band * $SimhashBandBits)) & $SimhashBandMask"))
          .groupBy("band", "bkey").agg(sum("m").cast("double").as("c")),
        identPairs,
        CandidateBudget,
        "d5_simhash_pairs",
        "d5b_top_pairs (budgeted top-k per doc) or d7/d20 component labels (linear output)")
    }
    val sim = d4Simhash(spark, dir)
    val bands = sim.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(SimhashBands - 1))).as("band"))
      .withColumn("bkey", expr(s"(simhash >> (band * $SimhashBandBits)) & $SimhashBandMask"))
    val cand = bands.as("a").join(bands.as("b"), Seq("band", "bkey"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    // persisted for the same reason as the signature: the pair set is the
    // edge input of d7 (clustering), d8 (triangles), and t5 (edit check)
    Intermediates.cache(cand
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .where(col("hamming") <= 3)
      .select("da", "db", "hamming"))
      .orderBy("da", "db")
  }

  /** CTE chain up to `pairs` (da, db, hamming) — shared by d5 and the d7
    * clustering oracle.
    */
  private[queries] val simhashPairsSqlBase: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents),
       |tfc AS (SELECT doc_id, tok, count(*) tf FROM (SELECT doc_id, unnest(tk) tok FROM toks) GROUP BY 1, 2),
       |bits AS (
       |  SELECT doc_id, b, sum(tf * ((($simhashBitSrcSql) & 1) * 2 - 1)) s
       |  FROM tfc, unnest(range(0, $SimhashBits)) AS r(b) GROUP BY 1, 2),
       |sim AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN $simhashPlaceSql ELSE 0 END) AS BIGINT) AS simhash FROM bits GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, simhash, band, (simhash >> (band * $SimhashBandBits)) & $SimhashBandMask AS bkey
       |  FROM sim, unnest(range(0, $SimhashBands)) AS r(band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id da, b.doc_id db, a.simhash sa, b.simhash sb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |  FROM cand WHERE bit_count(xor(sa, sb)) <= 3)""".stripMargin

  val d5Oracle: String =
    s"""WITH $simhashPairsSqlBase
       |SELECT da, db, hamming FROM pairs
       |ORDER BY da, db""".stripMargin

  private val TopPairsK = 3

  /** d5b: the BUDGETED serve form of d5 — each doc's [[TopPairsK]] closest
    * near-duplicates by (hamming asc, partner asc), via window-limit over
    * the banded candidate pairs. Full pair materialization (d5) is
    * contractually quadratic inside a duplicate cluster (208M pairs at the
    * 1000×-density probe); this form's OUTPUT is ≤ k rows per doc — linear
    * in corpus size whatever the cluster structure — and the window
    * shuffle keys on doc_id, so the rank-and-truncate runs as one
    * partitioned pass with no global sort. This is the operator a user
    * actually calls at 100 TB; d5 remains the exhaustive-audit form.
    */
  def d5bTopPairsPerDoc(spark: SparkSession, dir: String): DataFrame = {
    val pairs = d5SimhashPairs(spark, dir) // shared persisted pair set
    val sym = pairs.select(col("da").as("doc_id"), col("db").as("partner"), col("hamming"))
      .unionAll(pairs.select(col("db").as("doc_id"), col("da").as("partner"), col("hamming")))
    val w = Window.partitionBy("doc_id").orderBy(col("hamming"), col("partner"))
    sym.withColumn("rk", row_number().over(w))
      .where(col("rk") <= TopPairsK)
      .select("doc_id", "rk", "partner", "hamming")
      .orderBy("doc_id", "rk")
  }

  val d5bOracle: String =
    s"""WITH $simhashPairsSqlBase,
       |sym AS (
       |  SELECT da AS doc_id, db AS partner, hamming FROM pairs
       |  UNION ALL
       |  SELECT db AS doc_id, da AS partner, hamming FROM pairs),
       |ranked AS (
       |  SELECT doc_id, partner, hamming,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY hamming, partner) AS INTEGER) AS rk
       |  FROM sym)
       |SELECT doc_id, rk, partner, hamming FROM ranked WHERE rk <= $TopPairsK
       |ORDER BY doc_id, rk""".stripMargin

  private val EmbDim = 64
  private val EmbBands = 4      // 4 bands × (adaptive ≥ 4) hyperplanes
  private val EmbBandPlanesMin = 4
  private val EmbTargetBucket = 128 // hold E[band bucket] ≈ this as n grows;
  // 128 keeps the width at the 4-plane floor through sf0.1 (n=2000), so
  // the gate's hash-match holds at BOTH its SFs

  /** Hyperplanes per d6 band for an n-vector corpus: the sf1 probe showed
    * a FIXED band key space (4 planes → 16 buckets) makes expected bucket
    * size n/16 and the candidate join n²/16 — quadratic, 224× wall-clock
    * at 10× data. Holding E[bucket] constant needs key cardinality ∝ n,
    * i.e. planes ∝ log₂(n): buckets stay ~EmbTargetBucket and the
    * candidate join stays ~n·bucket = linear. Recall per band drops as
    * planes grow (standard LSH trade-off — compensate with more bands if
    * the corpus demands it); at the correctness gate's corpora (sf0.001/
    * sf0.01: 500 vectors, sf0.1: 2000) this floors at the historical 4
    * planes, so the DuckDB oracle contract is unchanged at every gate SF.
    */
  private[graft] def embPlanesFor(n: Long): Int =
    math.max(EmbBandPlanesMin,
      math.ceil(math.log(math.max(1L, n).toDouble / EmbTargetBucket) / math.log(2)).toInt)

  /** Hyperplane p as a double[] literal — same md5-derived family as the
    * ANN queries ([[SimilarityQueries.weightInt]]), extended past p=8.
    */
  private def embPlaneCol(p: Int): Column =
    array((0 until EmbDim).map(d =>
      lit(SimilarityQueries.weightInt(p, d)).cast("double") / lit(1000.0)): _*)

  /** `planes`-bit band key: bit i = [dot(v, w_{band·planes+i}) > 0]. */
  private def embBandKey(v: Column, band: Int, planes: Int): Column =
    (0 until planes).map { i =>
      when(Vectors.dotD(v, embPlaneCol(band * planes + i)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def embPlaneSql(p: Int): String =
    (0 until EmbDim).map(d =>
      s"${SimilarityQueries.weightInt(p, d)} / 1000.0").mkString("[", ", ", "]")

  private def embBandKeySql(vExpr: String, band: Int, planes: Int): String =
    (0 until planes).map { i =>
      val dot = s"list_reduce(list_prepend(0.0, list_transform(list_zip($vExpr, " +
        s"${embPlaneSql(band * planes + i)}), s -> s[1] * s[2])), (x, y) -> x + y)"
      s"CASE WHEN $dot > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Embedding-cosine near-dup pairs, LSH-banded: anchors (vec_id ≡ 0
    * mod 5) pair only with vectors sharing at least one of 4 random-
    * hyperplane band keys; candidates then cosine-verify at ≥ 0.35. The
    * band key is an equi-join key, so the candidate step is a
    * hash-partitioned shuffle over a slim (id, band, key) relation
    * — no nested-loop pass, vectors rejoin only for the verify — which
    * is the shape that survives 100 TB (cf. the exact brute-force pair
    * scan this replaced, which was anchors × corpus quadratic).
    * Band WIDTH is adaptive ([[embPlanesFor]]): the sf1 probe caught the
    * fixed 4-plane key space going quadratic (224× at 10× data), so the
    * key cardinality now tracks the corpus and the candidate join stays
    * ~n·EmbTargetBucket. Approximate recall (high for true near-dups by
    * the hyperplane-LSH collision bound), bit-deterministic given the
    * md5 hash family AND the corpus count, so the oracle reproduces it
    * exactly at the gate's scale.
    */
  def d6EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.prepare(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("n2", Vectors.norm2D(col("v"))) // widen + norm once per vector, not per pair
    // count() is metadata-only on parquet (no columns survive pruning)
    val planes = embPlanesFor(Tables.embeddings(spark, dir).count())
    // slim banded relation: band keys only — the 64-dim vectors stay out
    // of the candidate shuffle entirely
    val bands = e
      .select(col("vec_id") +:
        (0 until EmbBands).map(b => embBandKey(col("v"), b, planes).as(s"k$b")): _*)
      .select(col("vec_id"), explode(array((0 until EmbBands).map(b =>
        struct(lit(b).as("band"), col(s"k$b").as("bkey"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // pre-flight both pair budgets: identical-embedding groups give a
    // provable OUTPUT lower bound (cosine 1 always verifies; C(na,2) over
    // the probe-side members is sound under the %5 filter whatever the id
    // order), and the slim (vec_id, band, bkey) projection gives the
    // exact candidate count — vectors never ride along either pass
    memoizedGuard(spark, dir, "d6_embedding_near_dup", "embeddings") {
      val identPairs = {
        val r = Tables.embeddings(spark, dir)
          .groupBy("embedding")
          .agg(sum(when(col("vec_id") % 5 === 0, 1L).otherwise(0L)).cast("double").as("na"))
          .agg(sum(expr("na * (na - 1) / 2")).cast("double")).head
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      guardPairBudget(
        bands.groupBy("band", "bkey").agg(count(lit(1)).cast("double").as("c")),
        identPairs,
        CosineCandidateBudget,
        "d6_embedding_near_dup",
        "s1/s2 top-k ANN serve (IvfIndex cells) or a d5b-style per-vector cap")
    }
    val cand = bands.where(col("vec_id") % 5 === 0).as("a")
      .join(bands.as("b"), Seq("band", "bkey"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
    val av = e.select(col("vec_id").as("va"), col("v").as("ea"), col("n2").as("na2"))
    val bv = e.select(col("vec_id").as("vb"), col("v").as("eb"), col("n2").as("nb2"))
    cand.join(av, "va").join(bv, "vb")
      .withColumn("cos", Vectors.cosinePre(col("ea"), col("na2"), col("eb"), col("nb2")))
      .where(col("cos") >= 0.35)
      .select("va", "vb", "cos")
      .orderBy("va", "vb")
  }

  /** Largest corpus for which [[embPlanesFor]] still returns the floor —
    * the boundary of the static-oracle contract below. */
  private[graft] val EmbFloorMaxVectors: Long =
    (EmbTargetBucket.toLong << EmbBandPlanesMin) // n/128 ≤ 2^4 ⇔ n ≤ 2048

  val d6Oracle: String = {
    // CONTRACT: the oracle is a static SQL string, so it pins the
    // adaptive-floor banding (4 planes). That is only valid while every
    // gate corpus sits at the floor, i.e. has ≤ EmbFloorMaxVectors = 2048
    // vectors (sf0.001/sf0.01: 500; sf0.1: 2000). ScaleProbeSpec asserts
    // this against the real gate parquet so adding a larger gate SF fails
    // loudly here instead of surfacing as an unexplained hash mismatch.
    val planes = EmbBandPlanesMin
    assert(planes == embPlanesFor(500) && planes == embPlanesFor(EmbFloorMaxVectors))
    val bandSelects = (0 until EmbBands).map(b =>
      s"SELECT vec_id, $b AS band, ${embBandKeySql("v", b, planes)} AS bkey FROM e")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id va, b.vec_id vb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |   AND a.vec_id % 5 = 0 AND a.vec_id < b.vec_id),
       |p AS (
       |  SELECT va, vb,
       |         list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, b.v), s -> s[1] * s[2])), (x, y) -> x + y)
       |         / sqrt(list_reduce(list_prepend(0.0, list_transform(a.v, x -> x * x)), (x, y) -> x + y)
       |                * list_reduce(list_prepend(0.0, list_transform(b.v, x -> x * x)), (x, y) -> x + y)) AS cos
       |  FROM cand JOIN e a ON a.vec_id = va JOIN e b ON b.vec_id = vb)
       |SELECT va, vb, cos FROM p WHERE cos >= 0.35 ORDER BY va, vb""".stripMargin
  }

  /** Distinct-fingerprint collapse of the SimHash near-dup graph: one node
    * per simhash VALUE, with multiplicity m and the min doc_id carrying it.
    * Within a value every doc pair is a near-dup edge (hamming 0, bands
    * trivially collide); across two values, band collision and hamming
    * depend ONLY on the values — so the doc-level pair graph is exactly
    * the multiplicity blow-up of this collapsed graph, and d7/d8 computed
    * on the collapse are EXACT, not approximations. This is what survives
    * a dup-dense corpus: the sf1 probe measured a 3,000-doc identical
    * cluster making the doc-level pair set 8.76M edges and the d8 wedge
    * join 2.76e9 rows, while the collapsed graph stays near the distinct-
    * value count.
    */
  private def simhashGroups(spark: SparkSession, dir: String): DataFrame =
    d4Simhash(spark, dir).groupBy("simhash")
      .agg(count(lit(1)).as("m"), min("doc_id").as("min_id"))

  /** Collapsed near-dup edges between DISTINCT simhash values — same
    * band-collision + hamming≤3 rule as [[d5SimhashPairs]], on a relation
    * whose worst bucket is the number of distinct values per band key,
    * not the number of documents.
    */
  private def groupEdges(groups: DataFrame): DataFrame = {
    val bands = groups.select(col("simhash"),
        explode(sequence(lit(0), lit(SimhashBands - 1))).as("band"))
      .withColumn("bkey", expr(s"(simhash >> (band * $SimhashBandBits)) & $SimhashBandMask"))
    bands.as("a").join(bands.as("b"), Seq("band", "bkey"))
      .where(col("a.simhash") < col("b.simhash"))
      .where(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.simhash").as("su"), col("b.simhash").as("sv"))
      .distinct()
  }

  /** Duplicate *clusters* from the SimHash near-dup relation: connected
    * components turn pairwise near-dup hits into groups; component = min
    * doc_id is the survivor each group keeps. Runs on the distinct-
    * fingerprint collapse ([[simhashGroups]]): components over the
    * collapsed edge set (alternating large-star/small-star, O(log n)
    * rounds), multiplicity-m values with no cross edge kept as their own
    * component, labels mapped back to docs by one equi-join on the
    * signature. Output is identical to components over the doc-level
    * pair graph (the r5 form) — the collapse is exact — but the edge set
    * no longer grows with the square of duplicate-cluster sizes. The
    * oracle reproduces the clustering with a recursive CTE over the
    * doc-level pairs (transitive closure — affordable for the oracle's
    * small graph; the Spark side is the scalable path).
    */
  def d7DupClusters(spark: SparkSession, dir: String): DataFrame = {
    // the collapse is tiny by construction (≤ distinct signatures) and
    // g feeds three branches — cache it
    val g = Intermediates.cache(simhashGroups(spark, dir))
    // MEASURED AND REJECTED (r18): eager checkpoints of labels/byValue —
    // the d20-style fix for their 2×/2× consumers — read 1.04× slower
    // interleaved: both relations are collapse-sized and re-derive cheaply
    // off the cached g, so two extra jobs cost more than the recompute.
    // (d21's labeled checkpoint already de-duplicates this tail where the
    // recompute is NOT cheap — it includes the t3 quality pass there.)
    val labels = graft.operators.ConnectedComponents.alternatingStars(groupEdges(g))
    // values with ≥2 docs but no cross-value edge: internal clique only
    val lone = g.where(col("m") >= 2)
      .join(labels, g("simhash") === labels("id"), "left_anti")
      .select(col("simhash").as("id"), col("simhash").as("comp"))
    val byValue = labels.unionByName(lone)
      .join(g, col("id") === col("simhash"))
      .select(col("simhash"), col("comp"), col("m"), col("min_id"))
    val byComp = byValue.groupBy("comp")
      .agg(min("min_id").as("component"), sum("m").as("cluster_size"))
    d4Simhash(spark, dir)
      .join(byValue.select("simhash", "comp"), "simhash")
      .join(byComp, "comp")
      .select(col("doc_id"), col("component"), col("cluster_size"))
      .orderBy("doc_id")
  }

  val d7Oracle: String =
    s"""WITH RECURSIVE $simhashPairsSqlBase,
       |und AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
       |reach(id, m) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT r.id, u.b FROM reach r JOIN und u ON u.a = r.m),
       |comp AS (SELECT id AS doc_id, min(m) AS component FROM reach GROUP BY 1),
       |sizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1)
       |SELECT c.doc_id, CAST(c.component AS BIGINT) AS component, CAST(s.csize AS BIGINT) AS cluster_size
       |FROM comp c JOIN sizes s USING (component)
       |ORDER BY doc_id""".stripMargin

  /** d21: QUALITY-AWARE canonical selection — the survivor policy
    * production pipelines actually run, vs the min-id rule every other
    * dedup query uses: within each near-dup cluster (d7's components),
    * keep the member with the best quality signal, tie-broken by length
    * then id — a re-crawl of a page with cleaner text REPLACES the older
    * crawl instead of losing to its smaller doc_id. Quality is t3's
    * integer 0–4 score (deterministic cross-engine by construction);
    * output is the per-doc verdict table a curation pass consumes:
    * component, its canonical doc, and keep/drop.
    *
    * Scale shape: d7's collapsed component machinery (never pairwise in
    * cluster size) + one doc-keyed join against the quality relation +
    * ONE hash aggregation per component — the argmax is `max(struct(q,
    * n_tokens, -doc_id, doc_id))`, a partial-aggregable struct max, so a
    * boilerplate mega-cluster costs a merge of per-partition maxima, not
    * a cluster-sized sort window.
    */
  def d21QualityCanonical(spark: SparkSession, dir: String): DataFrame = {
    val clusters = d7DupClusters(spark, dir)
    val q = TextQueries.t3Quality(spark, dir)
      .select(col("doc_id"), col("quality_score").cast("long").as("q"), col("n_tokens"))
    // labeled feeds BOTH the per-component argmax and the final verdict
    // join; un-materialized, d7's component tail and the t3 quality
    // tokenize both re-executed per consumer (4 of the rep's ~0.65 s
    // compute stages). Doc-count-sized and 5 narrow columns — at cluster
    // scale prefer recompute (both passes are linear) or a reliable
    // checkpoint; the per-execution materialization models the curation
    // table this verdict feeds anyway.
    val labeled = Intermediates.checkpoint(clusters.join(q, "doc_id"))
    val canon = labeled.groupBy("component")
      .agg(max(struct(col("q"), col("n_tokens"),
        (-col("doc_id")).as("neg"), col("doc_id").as("d"))).as("best"))
      .select(col("component"), col("best.d").as("canonical_doc"))
    labeled.join(canon, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        col("canonical_doc"), (col("doc_id") === col("canonical_doc")).as("keep"))
      .orderBy("doc_id")
  }

  val d21Oracle: String = {
    val stop = graft.functions.Text.langMarkers.flatMap(_._2)
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE $simhashPairsSqlBase,
       |und AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
       |reach(id, m) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT r.id, u.b FROM reach r JOIN und u ON u.a = r.m),
       |comp AS (SELECT id AS doc_id, min(m) AS component FROM reach GROUP BY 1),
       |sizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1),
       |tqt AS (
       |  SELECT doc_id, text, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents),
       |tqm AS (
       |  SELECT doc_id, length(text) AS n_chars, len(tk) AS n_tokens,
       |         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
       |         len(list_filter(tk, x -> list_contains($stop, x))) AS n_stop
       |  FROM tqt),
       |tq AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |         CAST(CAST(n_chars BETWEEN 40 AND 20000 AS INTEGER) + CAST(n_tokens >= 8 AS INTEGER)
       |              + CAST((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) <= 0.2 AS INTEGER)
       |              + CAST((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) >= 0.01 AS INTEGER) AS BIGINT) AS q
       |  FROM tqm),
       |lab AS (
       |  SELECT c.doc_id, c.component, s.csize AS cluster_size, tq.q, tq.n_tokens
       |  FROM comp c JOIN sizes s USING (component) JOIN tq USING (doc_id)),
       |canon AS (
       |  SELECT component, doc_id AS canonical_doc FROM (
       |    SELECT component, doc_id,
       |           row_number() OVER (PARTITION BY component ORDER BY q DESC, n_tokens DESC, doc_id) AS rn
       |    FROM lab) WHERE rn = 1)
       |SELECT l.doc_id, CAST(l.component AS BIGINT) AS component,
       |       CAST(l.cluster_size AS BIGINT) AS cluster_size,
       |       c.canonical_doc, l.doc_id = c.canonical_doc AS keep
       |FROM lab l JOIN canon c USING (component)
       |ORDER BY l.doc_id""".stripMargin
  }

  /** d8: triangle count in the near-dup pair graph — the density signal
    * that distinguishes a genuine duplicate cluster (clique-like, many
    * triangles) from chained false positives (path-like, none).
    *
    * Multigraph formulation over the distinct-fingerprint collapse
    * ([[simhashGroups]]) — exact, because the doc-level graph is the
    * multiplicity blow-up of the collapsed graph. A doc-level triangle has
    * its 3 corners in 1, 2, or 3 distinct values, giving three closed
    * forms: Σ C(m,3) per value; Σ [C(mu,2)·mv + mu·C(mv,2)] per collapsed
    * edge; Σ mu·mv·mw per collapsed triangle (wedge join + edge
    * semi-join, the canonical oriented-triangle shape, but on the
    * distinct-value graph). The r5 doc-level wedge join was the probe's
    * worst cliff — 2.76e9 wedge rows at 10× data (cluster sizes ×10 →
    * wedges ×1000, cubic); the collapsed wedge join does the same
    * counting arithmetically per value-triple.
    */
  def d8Triangles(spark: SparkSession, dir: String): DataFrame = {
    // e is consumed FOUR times (t2, both wedge sides, the closure
    // semi-join): unpersisted, Spark recomputes the band join per use —
    // the 100x probe saw one rep time out while its twin ran 34 s on
    // exactly that recomputation variance. Both frames are small by
    // construction (collapse ≤ distinct signatures).
    val g = Intermediates.cache(simhashGroups(spark, dir))
    val e = Intermediates.cache(groupEdges(g))
    val gm = g.select(col("simhash"), col("m"))
    // The closed-form products run in DECIMAL(38,0): 64-bit m*(m-1)*(m-2)
    // overflows once a single fingerprint's multiplicity passes ~2.6M docs
    // (plausible boilerplate clusters at the 100 TB design point), and
    // under ANSI mode that's a runtime throw, not a wrong answer. Decimal
    // holds per-value multiplicities to ~10^10 (product < 10^32 after the
    // exact /6); only the final triangle total narrows back to BIGINT,
    // which a real corpus cannot exceed (9.2e18 triangles).
    val zero = lit(0L).cast("decimal(38,0)")
    val t1 = g.agg(coalesce(sum(expr(
      "CAST(CAST(m AS DECIMAL(38,0)) * (m - 1) * (m - 2) / 6 AS DECIMAL(38,0))")), zero).as("t"))
    val withM = e
      .join(gm.select(col("simhash").as("su"), col("m").as("mu")), "su")
      .join(gm.select(col("simhash").as("sv"), col("m").as("mv")), "sv")
    val t2 = withM.agg(coalesce(sum(expr(
      "CAST((CAST(mu AS DECIMAL(38,0)) * (mu - 1) / 2) * mv" +
        " + (CAST(mv AS DECIMAL(38,0)) * (mv - 1) / 2) * mu AS DECIMAL(38,0))")), zero).as("t"))
    val wedges = e.as("e1").join(e.as("e2"), col("e1.sv") === col("e2.su"))
      .select(col("e1.su").as("u"), col("e1.sv").as("v"), col("e2.sv").as("w"))
    val tri = wedges.join(e.as("e3"),
        col("u") === col("e3.su") && col("w") === col("e3.sv"), "left_semi")
    val t3 = tri
      .join(gm.select(col("simhash").as("u"), col("m").as("mu")), "u")
      .join(gm.select(col("simhash").as("v"), col("m").as("mv")), "v")
      .join(gm.select(col("simhash").as("w"), col("m").as("mw")), "w")
      .agg(coalesce(sum(expr(
        "CAST(CAST(mu AS DECIMAL(38,0)) * mv * mw AS DECIMAL(38,0))")), zero).as("t"))
    t1.unionByName(t2).unionByName(t3)
      .agg(sum("t").cast("long").as("n_triangles"))
  }

  val d8Oracle: String =
    s"""WITH $simhashPairsSqlBase,
       |e AS (SELECT da AS a, db AS b FROM pairs)
       |SELECT count(1) AS n_triangles
       |FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin

  /** d12: PageRank over the near-dup graph — the iterative-graph-compute
    * pattern beyond connected components (d7) and closed-form counting
    * (d8): which documents sit at the CENTER of duplication neighborhoods.
    * All arithmetic is 64-bit integer micro-units — rank starts at 10⁶,
    * each round distributes `r DIV deg` along the symmetric edges and
    * damps with `150000 + (85·Σ) DIV 100` (integer DIV floors identically
    * in Spark and DuckDB for non-negative operands) — so three unrolled
    * oracle CTE iterations reproduce the scores bit-exactly; no float
    * mass-conservation drift can leak into the hash.
    *
    * Scale shape: per iteration one equi-join (edges ⋈ ranks on src) and
    * one dst-keyed partial-agg shuffle — the canonical distributed
    * PageRank step, linear in edges. Runs on the near-dup pair graph,
    * whose size the banded-LSH candidate generation already bounds.
    */
  def d12DupPagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = d5SimhashPairs(spark, dir)
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .unionAll(pairs.select(col("db").as("src"), col("da").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // materialize the degree-annotated edge list ONCE: without the
    // checkpoint each iteration's lazy plan re-runs the whole banded
    // candidate pipeline (iteration 3 pays it three times — measured
    // 3.3 s at sf0.1, dominated by that re-execution, not the joins)
    val edgeDeg = Intermediates.checkpoint(edges.join(deg, "src"))
    var rank = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    (1 to 3).foreach { _ =>
      rank = edgeDeg.join(rank, edgeDeg("src") === rank("node"))
        .selectExpr("dst", "r DIV deg AS c")
        .groupBy("dst").agg(sum("c").as("s"))
        .selectExpr("dst AS node", "CAST(150000 + (85 * s) DIV 100 AS BIGINT) AS r")
        .transform(Intermediates.checkpoint) // truncate per-round lineage (d7 discipline)
    }
    rank.selectExpr("node AS doc_id", "r AS rank_micro")
      .orderBy(col("rank_micro").desc, col("doc_id"))
  }

  val d12Oracle: String = {
    def iter(n: Int): String =
      s"""r$n AS (
         |  SELECT e.dst AS node,
         |         CAST(150000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
         |  FROM edges e
         |  JOIN deg d ON d.src = e.src
         |  JOIN r${n - 1} r ON r.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH $simhashPairsSqlBase,
       |edges AS (SELECT da AS src, db AS dst FROM pairs
       |          UNION ALL SELECT db AS src, da AS dst FROM pairs),
       |deg AS (SELECT src, count(1) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT node AS doc_id, r AS rank_micro FROM r3
       |ORDER BY rank_micro DESC, doc_id""".stripMargin
  }

  /** d9: incremental dedup — the production shape nobody runs full-corpus
    * dedup in: a new crawl increment (re-crawls of every 10th doc plus
    * genuinely fresh docs) is checked against the EXISTING corpus's
    * fingerprint index, not against itself ∪ corpus from scratch. One
    * hash shuffle on the fingerprint; at 100 TB the corpus side is the
    * materialized fp index a real pipeline maintains, and the increment
    * (crawl-sized, ≪ corpus) arrives pre-hashed — the join is either
    * broadcast (small increment) or a plain equi-join, never a rescan of
    * the corpus text.
    */
  def d9IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(Text.normText(col("text"))).as("fp"))
    val incoming = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("in_id"), col("fp")) // re-crawl: same text, new id
      .unionByName(Tables.documents(spark, dir).where(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 2000000L).as("in_id"), // fresh: text not in the corpus
          md5(concat(Text.normText(col("text")), lit(" fresh "), col("doc_id"))).as("fp")))
    val corpusIdx = docs.select(col("fp"), col("doc_id").as("corp_id"))
    incoming.join(corpusIdx, Seq("fp"), "left")
      .groupBy("in_id")
      .agg(min("corp_id").as("dup_of"), count(col("corp_id")).as("n_matches"))
      .orderBy("in_id")
  }

  /** d14: incremental MinHash-LSH — the d9 Δ-vs-index pattern at NEAR-dup
    * granularity: the corpus's band index (band, key → doc) and shingle
    * set persist like d9's fingerprint index; a crawl increment (re-crawls
    * with a small textual edit — the realistic "page updated" case exact
    * fingerprints miss) computes ONLY its own signatures and equi-joins
    * its band keys against the index, then verifies exact Jaccard on the
    * candidate pairs. The corpus is never re-banded and never self-joined:
    * cost is O(Δ·bands + candidates), the serve path of a production
    * near-dup index. Shingle sets here are uncapped on both sides (one
    * consistent universe for the Jaccard verify); the production index
    * carries d2/d3's DF cap as its skew guard.
    */
  /** (id, sh64) hashed shingle rows of a (id, text) relation — the
    * persisted shingle side of the d14 index (shared with the streaming
    * twin's spec).
    */
  private[graft] def lshShingles(docs: DataFrame, idCol: String): DataFrame =
    docs.select(col(idCol), Text.tokens(col("text")).as("tk"))
      .select(col(idCol), explode(Text.shingles(col("tk"))).as("shingle"))
      .select(col(idCol), Text.md5Long(col("shingle")).as("sh64"))

  /** (id, band, key) MinHash band rows of a hashed-shingle relation — the
    * persisted band side of the d14 index.
    */
  private[graft] def lshBands(sh: DataFrame, idCol: String): DataFrame = {
    val hashed = sh.withColumn("h32", col("sh64").bitwiseAND(lit(0xFFFFFFFFL)))
      .select(col(idCol) +: (0 until MinhashFns).map(j =>
        ((col("h32") * affineA(j) + affineB(j)) % MersenneP).as(s"h$j")): _*)
    val sig = hashed.groupBy(idCol)
      .agg(min(col("h0")).as("m0"),
        (1 until MinhashFns).map(j => min(col(s"h$j")).as(s"m$j")): _*)
    val bandArr = array((0 until MinhashFns / BandRows).map { k =>
      struct(lit(k).as("band"),
        concat_ws(",", (0 until BandRows).map(r => col(s"m${k * BandRows + r}")): _*).as("key"))
    }: _*)
    sig.select(col(idCol), explode(bandArr).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.key").as("key"))
  }

  /** The SQL-expression (HOF) twin of [[lshBands]] for STREAMS: per-row
    * minhash over the shingle-hash ARRAY (array_min ∘ transform — no
    * aggregation, so it runs on an unbounded stream), band structs built
    * in one projection. `shArr` must hold the md5Long shingle hashes.
    */
  private[graft] def lshBandArrayExpr(shArr: String): Column = {
    val mins = (0 until MinhashFns).map { j =>
      s"array_min(transform($shArr, _h -> ((_h & 4294967295) * ${affineA(j)}L + ${affineB(j)}L) % ${MersenneP}L))"
    }
    val bands = (0 until MinhashFns / BandRows).map { k =>
      val key = (0 until BandRows).map(r => s"CAST(${mins(k * BandRows + r)} AS STRING)")
        .mkString("concat_ws(',', ", ", ", ")")
      s"struct($k AS band, $key AS key)"
    }
    expr(bands.mkString("array(", ", ", ")"))
  }

  def d14IncrementalLsh(spark: SparkSession, dir: String): DataFrame = {
    def hashedShingles(docs: DataFrame, idCol: String): DataFrame = lshShingles(docs, idCol)
    def bandsOf(sh: DataFrame, idCol: String): DataFrame = lshBands(sh, idCol)
    val incDocs = Tables.documents(spark, dir).where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("in_id"),
        concat(col("text"), lit(" updated revision two")).as("text"))
    // the resident index side IS the raw shingle relation (same
    // tokenize+shingle+md5 derivation) — read it from the family's
    // cache instead of re-running the corpus scan per execution
    // (persisted at scale either way)
    val corpusSh = rawShingles(spark, dir).withColumnRenamed("doc_id", "corp_id")
    val incSh = hashedShingles(incDocs, "in_id")
    val cand = bandsOf(incSh, "in_id")
      .join(bandsOf(corpusSh, "corp_id"), Seq("band", "key")) // Δ bands ⋈ the index
      .select(col("in_id").as("ca"), col("corp_id").as("cb")).distinct()
    val inter = cand
      .join(incSh.as("x"), col("x.in_id") === col("ca"))
      .join(corpusSh.as("y"), col("y.corp_id") === col("cb") && col("y.sh64") === col("x.sh64"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("i"))
    inter
      .join(incSh.groupBy("in_id").agg(count(lit(1)).as("na"))
        .withColumnRenamed("in_id", "ca"), "ca")
      .join(corpusSh.groupBy("corp_id").agg(count(lit(1)).as("nb"))
        .withColumnRenamed("corp_id", "cb"), "cb")
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= 0.5)
      .select(col("ca").as("in_id"), col("cb").as("corp_id"), col("jaccard"))
      .orderBy("in_id", "corp_id")
  }

  val d14Oracle: String = {
    val aArr = (0 until MinhashFns).map(affineA).mkString(", ")
    val bArr = (0 until MinhashFns).map(affineB).mkString(", ")
    def lshCtes(pfx: String, shRel: String, id: String): String =
      s"""${pfx}h AS (
         |  SELECT $id, shingle, j,
         |         ((('0x' || substr(md5(shingle), 1, 15))::BIGINT & 4294967295)
         |          * ([$aArr][j + 1]) + ([$bArr][j + 1])) % $MersenneP hv
         |  FROM $shRel, unnest(range(0, $MinhashFns)) AS r(j)),
         |${pfx}sig AS (SELECT $id, j, min(hv) m FROM ${pfx}h GROUP BY 1, 2),
         |${pfx}bands AS (
         |  SELECT $id, j // $BandRows AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS key
         |  FROM ${pfx}sig GROUP BY $id, j // $BandRows)""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents),
       |corpus_sh AS (
       |  SELECT doc_id AS corp_id,
       |         unnest(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS shingle
       |  FROM toks WHERE len(tk) >= 3),
       |inc_toks AS (
       |  SELECT doc_id + 1000000 AS in_id,
       |         list_filter(regexp_split_to_array(lower(trim(text || ' updated revision two')), '\\s+'), x -> x <> '') tk
       |  FROM documents WHERE doc_id % 10 = 0),
       |inc_sh AS (
       |  SELECT in_id,
       |         unnest(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS shingle
       |  FROM inc_toks WHERE len(tk) >= 3),
       |${lshCtes("c", "corpus_sh", "corp_id")},
       |${lshCtes("i", "inc_sh", "in_id")},
       |cand AS (
       |  SELECT DISTINCT in_id, corp_id
       |  FROM ibands i JOIN cbands c ON i.band = c.band AND i.key = c.key),
       |inter AS (
       |  SELECT cand.in_id, cand.corp_id, count(1) i
       |  FROM cand
       |  JOIN inc_sh x ON x.in_id = cand.in_id
       |  JOIN corpus_sh y ON y.corp_id = cand.corp_id AND y.shingle = x.shingle
       |  GROUP BY 1, 2),
       |na AS (SELECT in_id, count(*) n FROM inc_sh GROUP BY 1),
       |nb AS (SELECT corp_id, count(*) n FROM corpus_sh GROUP BY 1)
       |SELECT inter.in_id, inter.corp_id, i * 1.0 / (na.n + nb.n - i) AS jaccard
       |FROM inter JOIN na USING (in_id) JOIN nb USING (corp_id)
       |WHERE i * 1.0 / (na.n + nb.n - i) >= 0.5
       |ORDER BY in_id, corp_id""".stripMargin
  }

  /** d13: Bloom-prefiltered incremental dedup — d9's Δ-vs-index join with
    * the companion artifact a production pipeline keeps NEXT TO the
    * fingerprint index: a Bloom filter over the corpus fingerprints
    * (~1.2 GB per 10⁹ docs at 1 % fpp), broadcast and applied
    * executor-side BEFORE the join. Bloom filters have no false
    * negatives, so bloom-negative increment rows are definitively novel
    * and short-circuit to the output without touching the index; only the
    * bloom-positive sliver (true matches + ≤ fpp false positives) pays
    * the exact confirm join. On a mostly-novel crawl that removes most of
    * the join traffic while the final answer stays EXACT — the oracle is
    * the plain left join, bit-for-bit.
    *
    * The membership test is the codegen'd [[graft.functions.BloomMightContain]]
    * (one `mightContainLong` per row inside whole-stage codegen, no UDF);
    * fingerprints are 60-bit md5 longs (the d2/d3 hashed-key discipline).
    * Past ~10¹⁰ index keys a single broadcast bloom stops fitting; the
    * scale path shards it by fingerprint prefix co-located with the
    * bucketed index partitions (SCALE.md).
    */
  def d13BloomDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.prepare(spark)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.md5Long(Text.normText(col("text"))).as("fpl"))
    val incoming = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("in_id"), col("fpl")) // re-crawl: same text, new id
      .unionByName(Tables.documents(spark, dir).where(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 2000000L).as("in_id"), // fresh: text not in the corpus
          Text.md5Long(concat(Text.normText(col("text")), lit(" fresh "), col("doc_id"))).as("fpl")))
    val corpusIdx = docs.select(col("fpl"), col("doc_id").as("corp_id"))
    val bloom = corpusIdx.stat.bloomFilter("fpl", corpusIdx.count(), 0.01)
    val might = graft.functions.BloomExpressions.mightContain(bloom, col("fpl"))
    val novel = incoming.where(!might)
      .select(col("in_id"), lit(null).cast("long").as("dup_of"), lit(0L).as("n_matches"))
    incoming.where(might).join(corpusIdx, Seq("fpl"), "left")
      .groupBy("in_id")
      .agg(min("corp_id").as("dup_of"), count(col("corp_id")).as("n_matches"))
      .unionByName(novel)
      .orderBy("in_id")
  }

  val d13Oracle: String =
    """WITH fp AS (
      |  SELECT doc_id,
      |         ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15))::BIGINT AS fpl
      |  FROM documents),
      |incoming AS (
      |  SELECT doc_id + 1000000 AS in_id, fpl FROM fp WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |         ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || ' fresh ' || doc_id), 1, 15))::BIGINT
      |  FROM documents WHERE doc_id % 10 = 7)
      |SELECT in_id, min(c.doc_id) AS dup_of, count(c.doc_id) AS n_matches
      |FROM incoming i LEFT JOIN fp c USING (fpl)
      |GROUP BY in_id ORDER BY in_id""".stripMargin

  val d9Oracle: String =
    """WITH fp AS (
      |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |incoming AS (
      |  SELECT doc_id + 1000000 AS in_id, fp FROM fp WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || ' fresh ' || doc_id)
      |  FROM documents WHERE doc_id % 10 = 7)
      |SELECT in_id, min(c.doc_id) AS dup_of, count(c.doc_id) AS n_matches
      |FROM incoming i LEFT JOIN fp c USING (fp)
      |GROUP BY in_id ORDER BY in_id""".stripMargin

  /** d10: repeated-span (substring-level) dedup — the ExactSubstr method
    * of the public training-data-dedup literature (find every k-token
    * span that occurs ≥2 times anywhere in the corpus; mark the merged
    * per-doc intervals), re-expressed declaratively. Test corpus adds
    * re-crawled full copies (every 7th doc) and head+tail splices (every
    * 11th doc quotes doc n's head and doc n+1's tail around a unique
    * middle token), so affected docs carry one OR two merged spans and
    * the island merge is genuinely exercised.
    *
    * Scale shape: word-count, not pairing — positions explode once
    * (k-token windows, fingerprinted to 8-byte md5 longs like
    * [[shinglesDf]]), one partial-agg shuffle counts fingerprint
    * frequency, one equi-join keeps repeated positions, and the interval
    * merge is a per-doc sort (gaps-and-islands: a window position opens a
    * new island iff it clears the running max span end). Nothing is
    * quadratic in duplication density: a span repeated a billion times
    * contributes a billion *rows*, never pairs. At 100 TB the frequency
    * index persists like d9's fingerprint index and increments join
    * against it.
    */
  private val SpanK = 8 // ExactSubstr window length in tokens

  /** (doc_id, pos, fp) — every k-token window of every doc, md5Long-keyed
    * (same hashed-shuffle discipline as [[shinglesDf]]).
    */
  private[graft] def spanWindows(docs: DataFrame): DataFrame =
    spanWindowsFromTokens(
      docs.select(col("doc_id"), Text.tokens(col("text")).as("tk"))) // tokens before the HOF lambda

  private def spanWindowsFromTokens(toks: DataFrame): DataFrame = toks
    .where(size(col("tk")) >= SpanK)
    .select(col("doc_id"), posexplode(transform(
      sequence(lit(0), size(col("tk")) - SpanK),
      i => concat_ws(" ", slice(col("tk"), i + lit(1), lit(SpanK))))))
    .select(col("doc_id"), col("pos"), Text.md5Long(col("col")).as("fp"))

  /** The BASE corpus's span windows, persisted once per battery: d10's
    * corpus windows are (base ∪ id-shifted re-crawls ∪ splices) and
    * windows depend only on text, so the re-crawl windows are a
    * projection of the base relation — and d11's corpus index is a
    * groupBy over the SAME relation. Sharing it removes the double
    * tokenize+explode the bench battery used to pay across d10/d11.
    */
  private def baseSpanWindows(spark: SparkSession, dir: String): DataFrame =
    Intermediates.cache(spanWindows(Tables.documents(spark, dir).select("doc_id", "text")))

  /** Merge repeated window positions into maximal spans (gaps-and-islands:
    * a position opens a new island iff it clears the running max span
    * end), then per-doc (n_spans, dup_tokens). One doc_id exchange.
    */
  private[graft] def mergeSpans(rep: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    rep
      .withColumn("new_island",
        when(col("pos") > coalesce(max(col("pos") + SpanK).over(wPrev), lit(-1)), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(wOrd))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + SpanK).as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).cast("long").as("dup_tokens"))
      .orderBy("doc_id")
  }

  /** Head+unique-middle+tail splice docs: every `mod`-th doc quotes doc
    * n's first 20 tokens and doc n+1's last 20 around a unique md5 token,
    * re-keyed at `idOffset`. The two quoted halves become separate merged
    * spans in both the splice doc and its sources.
    */
  private def spliceDocs(docs: DataFrame, mod: Int, idOffset: Long): DataFrame = {
    val maxId = docs.agg(max(col("doc_id")).as("mx")) // 1-row broadcast (K4 pattern)
    docs.where(col("doc_id") % 11 === mod).crossJoin(maxId)
      .select(col("doc_id").as("a_id"), Text.tokens(col("text")).as("ta"),
        ((col("doc_id") + 1) % (col("mx") + 1)).as("b_id"))
      .join(docs.select(col("doc_id").as("b_id"), Text.tokens(col("text")).as("tb")), "b_id")
      .where(size(col("ta")) >= 20 && size(col("tb")) >= 20)
      .select((col("a_id") + idOffset).as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", slice(col("ta"), 1, 20)),
          md5(col("a_id").cast("string")),
          concat_ws(" ", slice(col("tb"), size(col("tb")) - 19, lit(20)))).as("text"))
  }

  def d10SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // corpus = base ∪ id-shifted re-crawls ∪ splices; windows depend only
    // on the text, so base and re-crawl windows both read the shared
    // persisted relation — only the (small) splice docs window fresh
    val baseWins = baseSpanWindows(spark, dir)
    val wins = baseWins
      .unionByName(baseWins.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("pos"), col("fp")))
      .unionByName(spanWindows(spliceDocs(docs, 0, 2000000L)))
    val repeated = wins.groupBy("fp").agg(count(lit(1)).as("c")).where(col("c") >= 2)
    mergeSpans(wins.join(repeated, "fp").select("doc_id", "pos"))
  }

  val d10Oracle: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |corpus AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT a.doc_id + 2000000,
      |         list_aggregate(list_slice(ta.tk, 1, 20), 'string_agg', ' ')
      |         || ' ' || md5(a.doc_id::VARCHAR) || ' ' ||
      |         list_aggregate(list_slice(tb.tk, len(tb.tk) - 19, len(tb.tk)), 'string_agg', ' ')
      |  FROM base a JOIN base b ON b.doc_id = (a.doc_id + 1) % (SELECT max(doc_id) + 1 FROM base),
      |  LATERAL (SELECT list_filter(regexp_split_to_array(lower(trim(a.text)), '\s+'), x -> x <> '') tk) ta,
      |  LATERAL (SELECT list_filter(regexp_split_to_array(lower(trim(b.text)), '\s+'), x -> x <> '') tk) tb
      |  WHERE a.doc_id % 11 = 0 AND len(ta.tk) >= 20 AND len(tb.tk) >= 20),
      |toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |  FROM corpus),
      |wins AS (
      |  SELECT doc_id, i - 1 AS pos, list_aggregate(list_slice(tk, i, i + 7), 'string_agg', ' ') AS w
      |  FROM toks, LATERAL unnest(range(1, len(tk) - 6)) AS r(i)
      |  WHERE len(tk) >= 8),
      |freq AS (SELECT w FROM wins GROUP BY w HAVING count(*) >= 2),
      |rep AS (SELECT doc_id, pos FROM wins WHERE w IN (SELECT w FROM freq)),
      |isl AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ni
      |  FROM rep),
      |grp AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
      |spans AS (SELECT doc_id, island, min(pos) s, max(pos) + 8 e FROM grp GROUP BY 1, 2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, CAST(sum(e - s) AS BIGINT) AS dup_tokens
      |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d11: incremental repeated-span dedup — the production form d10's
    * Scaladoc promises. The corpus contributes only its PERSISTED
    * span-frequency index (fp → count, the analog of d9's fingerprint
    * index); only the crawl increment is exploded into windows. A window
    * is repeated iff corpus count + within-increment count ≥ 2, i.e.
    * exactly ExactSubstr over corpus ∪ increment, computed in
    * O(increment + index-join) instead of re-scanning the corpus text.
    * Increment mix: re-crawls (whole-doc span), head+tail splices (two
    * spans), and genuinely novel md5-salad docs (no spans, absent from
    * the result).
    */
  def d11IncrementalSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // corpus index and re-crawl windows both read the shared persisted
    // base-window relation (windows depend only on text; re-crawls are an
    // id-shifted projection) — only splice/fresh docs window fresh
    val baseWins = baseSpanWindows(spark, dir)
    val index = baseWins.groupBy("fp").agg(count(lit(1)).as("corp_c"))
    val recrawlWins = baseWins.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("pos"), col("fp"))
    val fresh = docs.where(col("doc_id") % 10 === 7)
      .select(col("doc_id"), concat_ws(" ",
        (0 until 12).map(j =>
          substring(md5(concat_ws(":", col("doc_id").cast("string"), lit(j.toString))), 1, 8)): _*).as("text"))
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
    val iw = recrawlWins
      .unionByName(spanWindows(spliceDocs(docs, 3, 2000000L).unionByName(fresh)))
    val incFreq = iw.groupBy("fp").agg(count(lit(1)).as("inc_c"))
    val rep = iw.join(incFreq, "fp").join(index, Seq("fp"), "left")
      .where(coalesce(col("corp_c"), lit(0L)) + col("inc_c") >= 2)
      .select("doc_id", "pos")
    mergeSpans(rep)
  }

  val d11Oracle: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |cw AS (
      |  SELECT list_aggregate(list_slice(tk, i, i + 7), 'string_agg', ' ') AS w
      |  FROM (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |        FROM base) t, LATERAL unnest(range(1, len(tk) - 6)) AS r(i)
      |  WHERE len(tk) >= 8),
      |idx AS (SELECT w, count(*) corp_c FROM cw GROUP BY 1),
      |inc AS (
      |  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT a.doc_id + 2000000,
      |         list_aggregate(list_slice(ta.tk, 1, 20), 'string_agg', ' ')
      |         || ' ' || md5(a.doc_id::VARCHAR) || ' ' ||
      |         list_aggregate(list_slice(tb.tk, len(tb.tk) - 19, len(tb.tk)), 'string_agg', ' ')
      |  FROM base a JOIN base b ON b.doc_id = (a.doc_id + 1) % (SELECT max(doc_id) + 1 FROM base),
      |  LATERAL (SELECT list_filter(regexp_split_to_array(lower(trim(a.text)), '\s+'), x -> x <> '') tk) ta,
      |  LATERAL (SELECT list_filter(regexp_split_to_array(lower(trim(b.text)), '\s+'), x -> x <> '') tk) tb
      |  WHERE a.doc_id % 11 = 3 AND len(ta.tk) >= 20 AND len(tb.tk) >= 20
      |  UNION ALL
      |  SELECT doc_id + 3000000,
      |         list_aggregate([substr(md5(doc_id::VARCHAR || ':' || j), 1, 8) for j in range(0, 12)],
      |                        'string_agg', ' ')
      |  FROM base WHERE doc_id % 10 = 7),
      |iw AS (
      |  SELECT doc_id, i - 1 AS pos, list_aggregate(list_slice(tk, i, i + 7), 'string_agg', ' ') AS w
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |        FROM inc) t, LATERAL unnest(range(1, len(tk) - 6)) AS r(i)
      |  WHERE len(tk) >= 8),
      |incf AS (SELECT w, count(*) inc_c FROM iw GROUP BY 1),
      |rep AS (
      |  SELECT iw.doc_id, iw.pos
      |  FROM iw JOIN incf USING (w) LEFT JOIN idx USING (w)
      |  WHERE coalesce(corp_c, 0) + inc_c >= 2),
      |isl AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ni
      |  FROM rep),
      |grp AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
      |spans AS (SELECT doc_id, island, min(pos) s, max(pos) + 8 e FROM grp GROUP BY 1, 2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, CAST(sum(e - s) AS BIGINT) AS dup_tokens
      |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d15: segment-level exact dedup with document REWRITE (the CCNet /
    * RefinedWeb paragraph-dedup shape — reference-era crawl pipelines
    * drop repeated boilerplate paragraphs corpus-wide, keeping one copy).
    * The corpus text has no paragraph marks, so the unit is a fixed
    * 10-token segment: hash every segment, keep only its FIRST occurrence
    * corpus-wide (earliest doc_id, then position), and re-assemble each
    * document from its surviving segments. Unlike d10 (which MARKS
    * repeated spans), d15 produces the cleaned corpus itself — the
    * destructive form a training-data pipeline actually writes out.
    *
    * Scale shape: explode is narrow; the keep-first window shuffles on
    * md5(segment) — partition size = one duplicate family, bounded by the
    * re-crawl rate (boilerplate mega-segments are the skew case; rows are
    * ~100 bytes so even a 10⁶-copy segment is one 100 MB partition, and
    * AQE splits wider); re-assembly is one doc_id shuffle. Both keys are
    * fine-grained — linear at 100 TB. Re-assembly cost is Θ(corpus), the
    * output contract (the rewritten corpus IS the product). The dumped
    * row carries md5(clean_text), proving byte-exact reconstruction
    * without shipping the corpus through the oracle compare.
    */
  private val SegmentW = 10

  /** (id, g, seg) fixed-width token segments of an (id, text) relation —
    * the unit both d15 (batch) and d16 (incremental) dedup on.
    */
  private[graft] def segmentRows(docs: DataFrame, idCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = col(idCol) +: carry.map(col)
    docs.select(keep :+ Text.tokens(col("text")).as("tk"): _*)
      .where(size(col("tk")) >= 1)
      .select(keep :+ explode(expr(
        s"""transform(sequence(0, (size(tk) - 1) DIV $SegmentW),
           |  g -> named_struct('g', g, 'seg', array_join(slice(tk, g * $SegmentW + 1, $SegmentW), ' ')))""".stripMargin)).as("s"): _*)
      .select(keep :+ col("s.g").as("g") :+ col("s.seg").as("seg"): _*)
  }

  /** Re-assemble documents from their surviving segments (`keep` flag):
    * per-doc counters + md5 of the cleaned text. `all` must also carry
    * every id in `ids` (docs whose every segment dropped still appear,
    * with an empty clean text).
    */
  private[graft] def rebuildFromSegments(all: DataFrame, ids: DataFrame, idCol: String): DataFrame = {
    val rebuilt = all.groupBy(idCol)
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(when(col("keep"), struct(col("g"), col("seg"))))),
            _.getField("seg")), " ")).as("clean_md5"))
    ids.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .orderBy(idCol)
  }

  def d15SegmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val corpus = docs.unionByName( // re-crawl replicas: their segments all lose keep-first
      docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val marked = segmentRows(corpus, "doc_id")
      .withColumn("rn",
        row_number().over(Window.partitionBy(md5(col("seg"))).orderBy("doc_id", "g")))
      .withColumn("keep", col("rn") === 1)
    rebuildFromSegments(marked, corpus.select("doc_id"), "doc_id")
  }

  val d15Oracle: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |corpus AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 5 = 0),
      |toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |  FROM corpus),
      |segs AS (
      |  SELECT doc_id, g, list_aggregate(list_slice(tk, g * 10 + 1, g * 10 + 10), 'string_agg', ' ') AS seg
      |  FROM toks, LATERAL unnest(range(0, ((len(tk) - 1) // 10) + 1)) AS r(g)
      |  WHERE len(tk) >= 1),
      |fs AS (
      |  SELECT doc_id, g, seg,
      |         row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, g) AS rn
      |  FROM segs),
      |rb AS (
      |  SELECT doc_id, count(*) AS n_segments,
      |         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
      |         md5(coalesce(string_agg(seg, ' ' ORDER BY g) FILTER (WHERE rn = 1), '')) AS clean_md5
      |  FROM fs GROUP BY doc_id)
      |SELECT c.doc_id, CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
      |       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
      |       coalesce(clean_md5, md5('')) AS clean_md5
      |FROM corpus c LEFT JOIN rb USING (doc_id) ORDER BY doc_id""".stripMargin

  /** d16: INCREMENTAL segment dedup — d15's serve path, the d9/d11/d14
    * Δ-vs-index pattern at segment granularity. The corpus contributes
    * only its persisted segment-hash index (distinct md5, membership
    * only); the crawl increment explodes to segments, drops every segment
    * the index already knows PLUS within-increment repeats (keep-first
    * inside the batch), and re-assembles. Cost: O(Δ·segments + one
    * hash-keyed join against the index) — the corpus text is never
    * re-read. Increment mix: re-crawls (every segment known → clean text
    * empties), head+tail splices (the two ALIGNED head segments drop; the
    * salt shifts the tail off the 10-token grid, so those segments read
    * as novel — segment-granular dedup is alignment-sensitive by design,
    * d10/d11 are the unaligned-span complement), and novel salted docs
    * (nothing drops).
    */
  def d16IncrementalSegmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val idx = segmentRows(docs, "doc_id").select(md5(col("seg")).as("h")).distinct()
    val inc = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("in_id"), col("text")) // re-crawl
      .unionByName(spliceDocs(docs, 0, 2000000L)
        .select(col("doc_id").as("in_id"), col("text")))
      .unionByName(docs.where(col("doc_id") % 10 === 7) // genuinely novel
        .select((col("doc_id") + 3000000L).as("in_id"),
          concat(md5(concat(lit("novel:"), col("doc_id").cast("string"))),
            lit(" "), col("text")).as("text")))
    val marked = segmentRows(inc, "in_id")
      .withColumn("h", md5(col("seg")))
      .withColumn("rn",
        row_number().over(Window.partitionBy("h").orderBy("in_id", "g")))
      .join(idx.withColumn("known", lit(1)), Seq("h"), "left")
      .withColumn("keep", col("rn") === 1 && col("known").isNull)
    rebuildFromSegments(marked, inc.select("in_id"), "in_id")
  }

  val d16Oracle: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |btoks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |  FROM base),
      |idx AS (
      |  SELECT DISTINCT md5(list_aggregate(list_slice(tk, g * 10 + 1, g * 10 + 10), 'string_agg', ' ')) AS h
      |  FROM btoks, LATERAL unnest(range(0, ((len(tk) - 1) // 10) + 1)) AS r(g)
      |  WHERE len(tk) >= 1),
      |inc AS (
      |  SELECT doc_id + 1000000 AS in_id, text FROM base WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT a.doc_id + 2000000,
      |         list_aggregate(list_slice(ta.tk, 1, 20), 'string_agg', ' ')
      |         || ' ' || md5(a.doc_id::VARCHAR) || ' ' ||
      |         list_aggregate(list_slice(tb.tk, len(tb.tk) - 19, len(tb.tk)), 'string_agg', ' ')
      |  FROM base a JOIN base b ON b.doc_id = (a.doc_id + 1) % (SELECT max(doc_id) + 1 FROM base),
      |  LATERAL (SELECT list_filter(regexp_split_to_array(lower(trim(a.text)), '\s+'), x -> x <> '') tk) ta,
      |  LATERAL (SELECT list_filter(regexp_split_to_array(lower(trim(b.text)), '\s+'), x -> x <> '') tk) tb
      |  WHERE a.doc_id % 11 = 0 AND len(ta.tk) >= 20 AND len(tb.tk) >= 20
      |  UNION ALL
      |  SELECT doc_id + 3000000, md5('novel:' || doc_id) || ' ' || text
      |  FROM base WHERE doc_id % 10 = 7),
      |itoks AS (
      |  SELECT in_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |  FROM inc),
      |segs AS (
      |  SELECT in_id, g, list_aggregate(list_slice(tk, g * 10 + 1, g * 10 + 10), 'string_agg', ' ') AS seg
      |  FROM itoks, LATERAL unnest(range(0, ((len(tk) - 1) // 10) + 1)) AS r(g)
      |  WHERE len(tk) >= 1),
      |mk AS (
      |  SELECT s.in_id, s.g, s.seg,
      |         row_number() OVER (PARTITION BY md5(seg) ORDER BY in_id, g) AS rn,
      |         CASE WHEN idx.h IS NOT NULL THEN 1 END AS known
      |  FROM segs s LEFT JOIN idx ON idx.h = md5(s.seg)),
      |rb AS (
      |  SELECT in_id, count(*) AS n_segments,
      |         sum(CASE WHEN rn = 1 AND known IS NULL THEN 1 ELSE 0 END) AS n_kept,
      |         md5(coalesce(string_agg(seg, ' ' ORDER BY g) FILTER (WHERE rn = 1 AND known IS NULL), '')) AS clean_md5
      |  FROM mk GROUP BY in_id)
      |SELECT i.in_id, CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
      |       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
      |       coalesce(clean_md5, md5('')) AS clean_md5
      |FROM inc i LEFT JOIN rb USING (in_id) ORDER BY in_id""".stripMargin

  /** d18: BOILERPLATE removal — the FREQUENCY-based complement to d15's
    * keep-first dedup, per SOURCE (the CCNet / RefinedWeb per-shard
    * line-frequency filter): a segment that appears in ≥2 DISTINCT
    * documents of the same source is template chrome (nav, footer,
    * license banner) and is removed from EVERY document — d15 preserves
    * one canonical copy of repeated content; boilerplate has no canonical
    * copy worth keeping. The production knob is a fraction-of-source-docs
    * threshold (θ·n_docs, floor 2); this corpus's sources are 25-200 docs,
    * so the floor binds.
    *
    * Scale: segments keyed by (source, md5(seg)) — ONE aggregation and
    * ONE join on that same fine key (partition = one template family per
    * source, bounded by the source's re-use rate); `source` rides the
    * segment rows from the explode, so no segment-to-dim join ever
    * shuffles. The rewrite proof is d15's: md5(clean_text) in the hashed
    * output certifies byte-exact reassembly.
    */
  def d18BoilerplateRemoval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val segs = segmentRows(docs.select("doc_id", "source", "text"), "doc_id", Seq("source"))
      .withColumn("h", md5(col("seg")))
    val boiler = segs.select("source", "h", "doc_id").distinct()
      .groupBy("source", "h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
      .select(col("source"), col("h"), lit(true).as("bp"))
    val marked = segs.join(boiler, Seq("source", "h"), "left")
      .withColumn("keep", col("bp").isNull)
    rebuildFromSegments(marked, docs.select("doc_id"), "doc_id")
  }

  val d18Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |  FROM documents),
      |segs AS (
      |  SELECT doc_id, source, g,
      |         list_aggregate(list_slice(tk, g * 10 + 1, g * 10 + 10), 'string_agg', ' ') AS seg
      |  FROM toks, LATERAL unnest(range(0, ((len(tk) - 1) // 10) + 1)) AS r(g)
      |  WHERE len(tk) >= 1),
      |bp AS (
      |  SELECT source, h FROM (SELECT DISTINCT source, md5(seg) AS h, doc_id FROM segs)
      |  GROUP BY source, h HAVING count(*) >= 2),
      |fs AS (
      |  SELECT s.doc_id, s.g, s.seg,
      |         CASE WHEN bp.h IS NULL THEN 1 ELSE 0 END AS keep
      |  FROM segs s LEFT JOIN bp ON bp.source = s.source AND bp.h = md5(s.seg)),
      |rb AS (
      |  SELECT doc_id, count(*) AS n_segments, sum(keep) AS n_kept,
      |         md5(coalesce(string_agg(seg, ' ' ORDER BY g) FILTER (WHERE keep = 1), '')) AS clean_md5
      |  FROM fs GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
      |       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
      |       coalesce(clean_md5, md5('')) AS clean_md5
      |FROM documents d LEFT JOIN rb USING (doc_id) ORDER BY doc_id""".stripMargin

  /** d17: RECORD LINKAGE — entity resolution across two registries via
    * multi-pass blocking + edit-distance verify, the cross-source dedup
    * shape (same entity, independently keyed and typo'd sources) that
    * text-content dedup (d1-d16) doesn't cover. Registry B is a
    * deterministic perturbation of the customer registry: 40% of rows
    * (md5-selected) get ONE digit of the 9-digit identity string flipped
    * at an md5-chosen position. Blocking runs TWO passes — digits 1-6 and
    * digits 7-9 — so any single-position typo breaks at most one key and
    * the other pass still surfaces the pair (the standard multi-pass
    * blocking recall argument); candidates are the distinct union of both
    * equi-joins, verified with `levenshtein ≤ 1` (identical edit-distance
    * semantics in DuckDB).
    *
    * Scale: never all-pairs, on TWO independent bounds. (1) Block width:
    * each key drops ONE 3-digit segment and fixes the other six
    * positions, so a block holds at most 10³ DISTINCT identities (the
    * dropped segment's value space) — position counting, independent of
    * n, unlike a plain prefix/suffix split whose suffix pass has fixed
    * block COUNT and therefore n-proportional block size (the first cut
    * of this operator had exactly that flaw); compositing with a TRUSTED
    * attribute (nation — block-on-state) divides further. (2) Cohort
    * width: the block joins run over the DISTINCT (name, nation) relation
    * carrying multiplicity (the m7 hash-level collapse), so a registry
    * where many rows re-register ONE identity — a duplicate storm, which
    * the 10³ bound does NOT cap because it bounds distinct identities,
    * not rows per identity — adds one row per block join instead of a
    * Θ(cohort²) clique; counts re-expand exactly as ma·mb (each id
    * carries one name, so the expansion is bit-identical to the id-level
    * join — the r16 cohort probe measured the id-level form timing out at
    * 500k rows / 150 identities and this form at 3.4 s on the same
    * corpus). n_true (same id on both sides) is a linear 1:1 id-spine
    * join. The `n_true = n` invariant (every entity re-found despite its
    * typo) is what the hash gate certifies, alongside the
    * coincidental-neighbor count the verify stage filters.
    *
    * Reference trigger: the reconciliation joins of yq_dag.py:85-96 match
    * rows across PG and S3 by exact 6-col key; linkage is the same
    * cross-store match when keys are dirty.
    */
  def d17RecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val a = cust.select(col("c_custkey").as("id_a"), col("c_name").as("name_a"),
      col("c_nationkey").cast("long").as("nat_a"))
    val b = cust
      .withColumn("h", Text.md5Long(col("c_custkey").cast("string")))
      .withColumn("digits", expr("substring(c_name, 10, 9)"))
      .withColumn("p", expr("1 + CAST((h DIV 10) % 9 AS INT)"))
      .withColumn("newd", expr(
        "CAST((CAST(substring(digits, p, 1) AS INT) + 1 + CAST((h DIV 90) % 9 AS INT)) % 10 AS STRING)"))
      .select(col("c_custkey").as("id_b"), expr(
        "IF(h % 10 < 4, concat('Customer#', substring(digits, 1, p - 1), newd, substring(digits, p + 1)), c_name)")
        .as("name_b"), col("c_nationkey").cast("long").as("nat_b"))
    // drop-one-of-three-segments keys over the 9-digit identity (digits
    // start at name position 10): any single-position typo falls inside
    // exactly one dropped segment, so the other two passes still match
    def keyed(df: DataFrame, name: String, nat: String) = df
      .withColumn("k1", expr(s"concat($nat, ':', substring($name, 13, 6))"))
      .withColumn("k2", expr(s"concat($nat, ':', substring($name, 10, 3), substring($name, 16, 3))"))
      .withColumn("k3", expr(s"concat($nat, ':', substring($name, 10, 6))"))
    // m7 hash-level collapse (r16): the blocking keys and the
    // edit-distance verify depend ONLY on (name, nation), so candidates
    // are generated over the DISTINCT name relation carrying multiplicity
    // and the counts re-expand as ma·mb. The former id-level join was
    // quadratic in identity-cohort width — the position-counting 10³
    // block bound caps DISTINCT identities per block, not rows per
    // identity, so a registry where many rows re-register one entity (a
    // duplicate storm) built Θ(cohort²) candidate rows; the r16 cohort
    // probe timed it out at 500k rows over 150 identities. Collapsed, a
    // million-row identity adds ONE row to every block join — the same
    // fix as m7's phash cohorts. Counts are bit-identical by functional
    // dependence (each id carries exactly one name).
    val ga = a.groupBy("name_a", "nat_a").agg(count(lit(1)).as("ma"))
    val gb = b.groupBy("name_b", "nat_b").agg(count(lit(1)).as("mb"))
    val ka = keyed(ga, "name_a", "nat_a"); val kb = keyed(gb, "name_b", "nat_b")
    // computeWide: the levenshtein verify is compute-dense over narrow
    // rows — keyed on a subset of the distinct's grouping columns, so the
    // pinned exchange IS the distinct's exchange (no extra shuffle) and
    // the verify aggregation's partial phase runs wide
    val cand = computeWide(
      Seq("k1", "k2", "k3")
        .map(k => ka.join(kb, k).select("name_a", "nat_a", "ma", "name_b", "mb"))
        .reduce(_ unionAll _),
      col("name_a"), col("name_b"))
      .distinct()
    val pairAgg = cand
      .withColumn("m", (levenshtein(col("name_a"), col("name_b")) <= 1).cast("long"))
      .agg(coalesce(sum(col("ma") * col("mb")), lit(0L)).cast("long").as("n_candidates"),
        coalesce(sum(col("m") * col("ma") * col("mb")), lit(0L)).cast("long").as("n_matched"))
    // n_true (id_a = id_b, lev ≤ 1, blocked) on the id spine directly — a
    // 1:1 join, linear in rows whatever the cohort structure
    val kbId = keyed(b, "name_b", "nat_b")
      .withColumnRenamed("k1", "k1b").withColumnRenamed("k2", "k2b")
      .withColumnRenamed("k3", "k3b")
    val trueAgg = keyed(a, "name_a", "nat_a")
      .join(kbId, col("id_a") === col("id_b"))
      .where((col("k1") === col("k1b") || col("k2") === col("k2b") ||
          col("k3") === col("k3b")) &&
        levenshtein(col("name_a"), col("name_b")) <= 1)
      .agg(count(lit(1)).cast("long").as("n_true"))
    pairAgg.crossJoin(trueAgg)
  }

  val d17Oracle: String =
    """WITH src AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h,
      |         substr(c_name, 10, 9) AS digits
      |  FROM customer),
      |pb AS (
      |  SELECT c_custkey, c_name, c_nationkey, h, digits,
      |         1 + CAST((h // 10) % 9 AS INT) AS p,
      |         CAST((CAST(substr(digits, 1 + CAST((h // 10) % 9 AS INT), 1) AS INT) + 1
      |               + CAST((h // 90) % 9 AS INT)) % 10 AS VARCHAR) AS newd
      |  FROM src),
      |b AS (
      |  SELECT c_custkey AS id_b,
      |         CASE WHEN h % 10 < 4
      |              THEN 'Customer#' || substr(digits, 1, p - 1) || newd || substr(digits, p + 1)
      |              ELSE c_name END AS name_b,
      |         CAST(c_nationkey AS BIGINT) AS nat_b
      |  FROM pb),
      |a AS (SELECT c_custkey AS id_a, c_name AS name_a,
      |             CAST(c_nationkey AS BIGINT) AS nat_a
      |      FROM customer),
      |cand AS (
      |  SELECT DISTINCT id_a, name_a, id_b, name_b FROM (
      |    SELECT id_a, name_a, id_b, name_b FROM a JOIN b
      |      ON nat_a = nat_b AND substr(name_a, 13, 6) = substr(name_b, 13, 6)
      |    UNION ALL
      |    SELECT id_a, name_a, id_b, name_b FROM a JOIN b
      |      ON nat_a = nat_b AND substr(name_a, 10, 3) = substr(name_b, 10, 3)
      |                       AND substr(name_a, 16, 3) = substr(name_b, 16, 3)
      |    UNION ALL
      |    SELECT id_a, name_a, id_b, name_b FROM a JOIN b
      |      ON nat_a = nat_b AND substr(name_a, 10, 6) = substr(name_b, 10, 6))),
      |v AS (SELECT id_a, id_b,
      |             CASE WHEN levenshtein(name_a, name_b) <= 1 THEN 1 ELSE 0 END AS m
      |      FROM cand)
      |SELECT CAST(count(1) AS BIGINT) AS n_candidates,
      |       CAST(sum(m) AS BIGINT) AS n_matched,
      |       CAST(sum(CASE WHEN m = 1 AND id_a = id_b THEN 1 ELSE 0 END) AS BIGINT) AS n_true
      |FROM v""".stripMargin

  /** d19: EXACT threshold set-similarity self-join (Jaccard ≥ 1/2) via
    * prefix + length filtering — the LOSSLESS scale path next to d2's
    * DF-capped share-any-shingle candidates and d3's probabilistic LSH.
    * d2 bounds its candidate join by dropping shingles shared by > cap
    * docs, which silently loses any pair whose entire overlap is hot
    * shingles; LSH recall is < 1 by construction. Prefix filtering
    * (Bayardo et al. WWW'07 AllPairs; Xiao et al. WWW'08 PPJoin) keeps
    * EXACT semantics with a candidate set far below share-any-token:
    * under any global token order, |A∩B| ≥ α forces the first |A|−α+1
    * tokens of A to intersect the first |B|−α+1 of B, and Jaccard ≥ τ
    * gives α = ⌈τ·max(|A|,|B|)⌉ ≥ ⌈τ|x|⌉ for both sides — so indexing
    * only each doc's first |x| − ⌈τ|x|⌉ + 1 tokens (= ⌊x/2⌋+1 at τ=1/2)
    * by ASCENDING document frequency joins every qualifying pair while
    * the join keys are by construction the RAREST tokens (bounded
    * fan-out — the skew cap falls out of the ordering instead of being
    * imposed). The length filter τ·|A| ≤ |B| ≤ |A|/τ (integers:
    * 2·n_b ≥ n_a ∧ 2·n_a ≥ n_b) prunes before the verify join; the
    * final test 3i ≥ n_a + n_b is the τ=1/2 Jaccard inequality in
    * integers. The global order ranks by (df, sh64) — the order is
    * internal to candidate generation, so the oracle (brute-force
    * share-any-token with NO caps — the semantic definition) proving a
    * hash match certifies the filter chain lossless.
    *
    * Scale: one sh64 shuffle for df counts, one doc_id Exchange+Sort for
    * the per-doc prefix window (reused by the sizes agg), the prefix
    * equi-join on rare keys, then verify only candidate pairs (pair ⋈
    * set joins, linear in candidates·|set|). Never all-pairs; no recall
    * knob. (Reference reconciliation shape: yq_dag.py:85-96.)
    */
  def d19SetSimJoin(spark: SparkSession, dir: String): DataFrame = {
    val sh = rawShingles(spark, dir)
    val dfc = sh.groupBy("sh64").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy("df", "sh64")
    val pre = sh.join(dfc, "sh64")
      .join(sizes, "doc_id")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= expr("n DIV 2 + 1")) // |x| − ⌈|x|/2⌉ + 1
      .select(col("doc_id"), col("sh64"), col("n"))
    val cand = pre.as("a").join(pre.as("b"), Seq("sh64"))
      .where(col("a.doc_id") < col("b.doc_id") &&
        col("b.n") * 2 >= col("a.n") && col("a.n") * 2 >= col("b.n"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    // verify on PACKED per-doc arrays (one codegen'd array_intersect per
    // candidate pair), never by re-exploding candidate × set-size token
    // rows into a join+groupBy: the doc-LENGTH probe killed the exploded
    // form — spliced long docs share component shingles, so false
    // candidates (real token overlap, sub-threshold Jaccard) carry
    // |set|-row verify cost each, and at 10× tokens the verify shuffle
    // was candidates × 2·10³ rows. Arrays ship once per candidate side.
    // computeWide: the packed-array agg's own exchange is hash(doc_id),
    // so the pin replaces it (collect_list has no partial reduction to
    // lose) and stops byte-coalescing from building every array serially
    val arrs = computeWide(sh, col("doc_id")).groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh64"))).as("arr"))
    // computeWide on each verify join's key: array_intersect per candidate
    // is the dense work; the pinned exchanges are the joins' own
    computeWide(cand, col("da"))
      .join(arrs.select(col("doc_id").as("da"), col("arr").as("aa")), "da")
      .transform(computeWide(_, col("db")))
      .join(arrs.select(col("doc_id").as("db"), col("arr").as("ab")), "db")
      .withColumn("i", size(array_intersect(col("aa"), col("ab"))).cast("long"))
      .where(col("i") * 3 >= col("na") + col("nb"))
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .select("da", "db", "jaccard")
      .orderBy("da", "db")
  }

  /** Brute-force semantic definition, NO caps and NO prefix filter — the
    * hash match is the losslessness proof for d19's filter chain.
    */
  val d19Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS shingle
      |  FROM toks WHERE len(tk) >= 3),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id da, b.doc_id db, count(*) i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db, i * 1.0 / (sa.n + sb.n - i) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
      |WHERE 3 * i >= sa.n + sb.n
      |ORDER BY da, db""".stripMargin

  private val SetSimBudget = 16   // per-doc verify budget B
  private val SetSimTopK = 3      // per-doc serve size k
  private val SetSimProbeLen = 16 // rarest prefix tokens a doc probes with (R)
  private val SetSimPostings = 24 // index entries kept per token (C)

  /** d19b: the BUDGETED serve form of d19 — each doc's [[SetSimTopK]]
    * nearest set-similarity neighbors (Jaccard ≥ 1/2), with per-doc work
    * bounded at ANY duplicate-clique structure. d19's exact join is
    * contractually quadratic inside a clique: a w-wide clique emits
    * C(w,2) pairs, and — the ×100 probe's real killer — the prefix JOIN
    * itself is Σ df² per shingle, ~10⁹ rows once every prefix token's df
    * is the clique width. Three caps, each the standard serving-side
    * bound, make every stage linear in corpus size:
    *
    *  - PROBE cap: a doc probes with only its [[SetSimProbeLen]] rarest
    *    prefix tokens (most selective first — the AllPairs ordering
    *    already ranks by ascending df, so the cap keeps the tokens that
    *    generate the fewest, truest candidates).
    *  - POSTINGS cap: the index keeps [[SetSimPostings]] entries per
    *    token (lowest doc_id first — postings-list truncation, as search
    *    engines bound hot terms). Join rows ≤ docs · R · C.
    *  - VERIFY budget: of the distinct candidates, only the
    *    [[SetSimBudget]] with the highest admissible Jaccard bound
    *    min(|A|,|B|)/max(|A|,|B|) (J ≤ min/max whatever the overlap) are
    *    verified, ranked in integer arithmetic (`least·10⁶ DIV greatest`)
    *    so both engines agree bit-for-bit. Output ≤ k rows per doc.
    *
    * A budgeted serve's caps ARE its semantics, so the oracle replays the
    * full chain (df ranks → capped prefix probe → capped postings →
    * length filter → budget window → list_intersect verify → top-k)
    * rather than the brute-force definition: inside a clique wider than
    * the caps they genuinely decide which near-equal neighbors are
    * served, and the replay is the only definition both engines can
    * share exactly. d19 remains the exhaustive-audit form whose
    * brute-force oracle proves the UNCAPPED candidate chain lossless —
    * the same exhaustive/budgeted split as d5/d5b.
    * (Reference reconciliation shape: yq_dag.py:85-96.)
    */
  def d19bTopSetSim(spark: SparkSession, dir: String): DataFrame = {
    val sh = rawShingles(spark, dir)
    val dfc = sh.groupBy("sh64").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy("df", "sh64")
    val pre = sh.join(dfc, "sh64")
      .join(sizes, "doc_id")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= expr("n DIV 2 + 1"))
      .select(col("doc_id"), col("sh64"), col("n"), col("rn"))
    val probe = pre.where(col("rn") <= SetSimProbeLen).drop("rn")
    val wi = Window.partitionBy("sh64").orderBy("doc_id")
    val idx = pre.drop("rn")
      .withColumn("pn", row_number().over(wi))
      .where(col("pn") <= SetSimPostings)
      .drop("pn")
    // symmetric serve: each doc probes for its own list (a <> b keeps both
    // directions), so the budget window sees every candidate partner once
    val cand = probe.as("a").join(idx.as("b"), Seq("sh64"))
      .where(col("a.doc_id") =!= col("b.doc_id") &&
        col("b.n") * 2 >= col("a.n") && col("a.n") * 2 >= col("b.n"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("partner"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    val wb = Window.partitionBy("doc_id").orderBy(col("ub").desc, col("partner"))
    // computeWide keyed on the window/join distributions (see d17/d19):
    // the budget window and the array_intersect verify are compute-dense
    // over narrow rows, exactly what byte-based coalescing serializes
    val budgeted = computeWide(
        cand.withColumn("ub", expr("(least(na, nb) * 1000000) DIV greatest(na, nb)")),
        col("doc_id"))
      .withColumn("brk", row_number().over(wb))
      .where(col("brk") <= SetSimBudget)
      .select("doc_id", "partner", "na", "nb")
    // computeWide: the packed-array agg's own exchange is hash(doc_id),
    // so the pin replaces it (collect_list has no partial reduction to
    // lose) and stops byte-coalescing from building every array serially
    val arrs = computeWide(sh, col("doc_id")).groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh64"))).as("arr"))
    val wk = Window.partitionBy("doc_id").orderBy(col("jaccard").desc, col("partner"))
    budgeted
      .join(arrs.select(col("doc_id"), col("arr").as("aa")), "doc_id")
      .transform(computeWide(_, col("partner")))
      .join(arrs.select(col("doc_id").as("partner"), col("arr").as("ab")), "partner")
      .withColumn("i", size(array_intersect(col("aa"), col("ab"))).cast("long"))
      .where(col("i") * 3 >= col("na") + col("nb"))
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .select("doc_id", "partner", "jaccard") // drop the arrays BEFORE the
      .withColumn("rk", row_number().over(wk)) // window sort ships rows
      .where(col("rk") <= SetSimTopK)
      .select("doc_id", "rk", "partner", "jaccard")
      .orderBy("doc_id", "rk")
  }

  /** Full-chain replay (a budgeted serve's caps ARE its semantics — see
    * [[d19bTopSetSim]]); d19's brute-force oracle remains the
    * losslessness proof for the shared uncapped candidate generation.
    */
  val d19bOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents),
       |shs AS (
       |  SELECT doc_id, unnest(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)])) AS shingle
       |  FROM toks WHERE len(tk) >= 3),
       |sh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh64 FROM shs),
       |dfc AS (SELECT sh64, count(*) df FROM sh GROUP BY 1),
       |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       |pre AS (
       |  SELECT doc_id, sh64, n, rn FROM (
       |    SELECT s.doc_id, s.sh64, z.n,
       |           row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh64) rn
       |    FROM sh s JOIN dfc d USING (sh64) JOIN sizes z ON z.doc_id = s.doc_id)
       |  WHERE rn <= n // 2 + 1),
       |probe AS (SELECT doc_id, sh64, n FROM pre WHERE rn <= $SetSimProbeLen),
       |idx AS (
       |  SELECT doc_id, sh64, n FROM (
       |    SELECT doc_id, sh64, n,
       |           row_number() OVER (PARTITION BY sh64 ORDER BY doc_id) pn
       |    FROM pre)
       |  WHERE pn <= $SetSimPostings),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS partner, a.n AS na, b.n AS nb
       |  FROM probe a JOIN idx b ON a.sh64 = b.sh64 AND a.doc_id <> b.doc_id
       |  WHERE 2 * b.n >= a.n AND 2 * a.n >= b.n),
       |budgeted AS (
       |  SELECT doc_id, partner, na, nb FROM (
       |    SELECT doc_id, partner, na, nb,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY (least(na, nb) * 1000000) // greatest(na, nb) DESC, partner) brk
       |    FROM cand)
       |  WHERE brk <= $SetSimBudget),
       |arrs AS (SELECT doc_id, list_sort(list(sh64)) arr FROM sh GROUP BY 1),
       |v AS (
       |  SELECT c.doc_id, c.partner, c.na, c.nb,
       |         CAST(len(list_intersect(x.arr, y.arr)) AS BIGINT) AS i
       |  FROM budgeted c JOIN arrs x ON x.doc_id = c.doc_id
       |                  JOIN arrs y ON y.doc_id = c.partner),
       |ranked AS (
       |  SELECT doc_id, partner, i * 1.0 / (na + nb - i) AS jaccard,
       |         CAST(row_number() OVER (PARTITION BY doc_id
       |           ORDER BY i * 1.0 / (na + nb - i) DESC, partner) AS INTEGER) AS rk
       |  FROM v WHERE 3 * i >= na + nb)
       |SELECT doc_id, rk, partner, jaccard FROM ranked WHERE rk <= $SetSimTopK
       |ORDER BY doc_id, rk""".stripMargin

  /** d20: INCREMENTAL connected components — the Δ-maintenance form of
    * d7's dup-graph clustering, completing the incremental-serve family
    * (d9 fp-index, d14 LSH, d16 segments feed Δ *pairs*; d20 folds them
    * into the component INDEX without re-clustering the corpus). A
    * deterministic tenth of d3's verified near-dup pairs plays the crawl
    * increment; the rest are the resident graph whose labels are the
    * standing index (recomputed in-query here, like d9/d14 recompute
    * their indexes, so the oracle can gate the whole contract).
    *
    * The incremental step is GRAPH CONTRACTION: each Δ edge's endpoints
    * are replaced by their resident component label (or themselves if
    * unseen), intra-component Δ edges drop out, and the O(log n)
    * alternating-stars loop runs ONLY on the contracted graph — whose
    * size is bounded by |Δ|, not the corpus. Final labels re-join the
    * tiny relabel map back over the standing index. Component ids stay
    * canonical (min doc id): a contracted node is a resident component's
    * min, so the merged minimum IS the global minimum.
    *
    * The oracle is the full batch recompute over ALL pairs (d7's
    * reachability form over d3's pair CTE) — the hash match proves
    * incremental ≡ batch, the IVM contract every u-family query gates.
    *
    * Scale: at 10¹¹ docs the resident labels are a persisted table; per
    * increment the work is one Δ-vs-index equi-join, a CC loop over an
    * O(|Δ|)-node graph, and one relabel join — the corpus-sized relation
    * is touched only by the final (linear, shuffle-on-comp) relabel, and
    * in production that re-label lands lazily (only components whose
    * label CHANGED need rewriting — the relabel map is exactly that set).
    */
  def d20IncrementalCc(spark: SparkSession, dir: String): DataFrame = {
    val pairs = d3MinhashLsh(spark, dir)
      .select(col("da"), col("db"),
        (pmod(Text.md5Long(concat_ws(":", col("da"), col("db"))), lit(10)) === 0)
          .as("is_new"))
      .transform(Intermediates.checkpoint) // pairs feed 3 branches; don't re-run the LSH
    val resident = pairs.where(!col("is_new")).select("da", "db")
    val delta = pairs.where(col("is_new")).select("da", "db")
    // materialize the resident labels ONCE: incremental() consumes base in
    // FOUR places (both contraction endpoint joins, the node union, the r0
    // relabel join), and alternatingStars' final label join — including the
    // node-set explode+distinct that lost its own checkpoint in r17 — was
    // re-executing per consumer (the r17 d20 regression, 3.15→4.16 s).
    // Node-set-sized (id, comp), never edge- or corpus-payload-sized; at
    // production scale the resident labels are a persisted table anyway
    // (see the scaladoc above), so the gate-side materialization mirrors
    // the real serving shape.
    val base = Intermediates.checkpoint(
      graft.operators.ConnectedComponents.alternatingStars(resident))
    // (measured, rejected: an eager checkpoint of lbl before the cluster-size
    // self-join read 1.05x — the duplicate tail is cheaper than its
    // materialization job at gate scale)
    val lbl = graft.operators.ConnectedComponents.incremental(base, delta)
      .select(col("id").as("doc_id"), col("comp").as("component"))
    lbl.join(lbl.groupBy("component").agg(count(lit(1)).as("cluster_size")), "component")
      .select("doc_id", "component", "cluster_size")
      .orderBy("doc_id")
  }

  val d20Oracle: String =
    s"""WITH RECURSIVE $minhashPairsSqlBase,
       |und AS (SELECT da AS a, db AS b FROM mpairs UNION SELECT db, da FROM mpairs),
       |reach(id, m) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT r.id, u.b FROM reach r JOIN und u ON u.a = r.m),
       |comp AS (SELECT id AS doc_id, min(m) AS component FROM reach GROUP BY 1),
       |csizes AS (SELECT component, count(*) AS csize FROM comp GROUP BY 1)
       |SELECT c.doc_id, CAST(c.component AS BIGINT) AS component,
       |       CAST(s.csize AS BIGINT) AS cluster_size
       |FROM comp c JOIN csizes s USING (component)
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d21_quality_canonical" -> (d21QualityCanonical _),
    "d20_incremental_cc" -> (d20IncrementalCc _),
    "d19_setsim_join" -> (d19SetSimJoin _),
    "d19b_top_setsim" -> (d19bTopSetSim _),
    "d18_boilerplate" -> (d18BoilerplateRemoval _),
    "d17_record_linkage" -> (d17RecordLinkage _),
    "d16_incremental_segment_dedup" -> (d16IncrementalSegmentDedup _),
    "d15_segment_dedup" -> (d15SegmentDedup _),
    "d9_incremental_dedup" -> (d9IncrementalDedup _),
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d2_ngram_jaccard" -> (d2NgramJaccard _),
    "d3_minhash_lsh" -> (d3MinhashLsh _),
    "d4_simhash" -> (d4Simhash _),
    "d5_simhash_pairs" -> (d5SimhashPairs _),
    "d5b_top_pairs" -> (d5bTopPairsPerDoc _),
    "d6_embedding_neardup" -> (d6EmbeddingNearDup _),
    "d7_dup_clusters" -> (d7DupClusters _),
    "d8_triangles" -> (d8Triangles _),
    "d10_span_dedup" -> (d10SpanDedup _),
    "d11_incremental_span_dedup" -> (d11IncrementalSpanDedup _),
    "d12_dup_pagerank" -> (d12DupPagerank _),
    "d13_bloom_dedup" -> (d13BloomDedup _),
    "d14_incremental_lsh" -> (d14IncrementalLsh _))

  val oracles: Map[String, String] = Map(
    "d21_quality_canonical" -> d21Oracle,
    "d20_incremental_cc" -> d20Oracle,
    "d19_setsim_join" -> d19Oracle,
    "d19b_top_setsim" -> d19bOracle,
    "d18_boilerplate" -> d18Oracle,
    "d17_record_linkage" -> d17Oracle,
    "d16_incremental_segment_dedup" -> d16Oracle,
    "d15_segment_dedup" -> d15Oracle,
    "d9_incremental_dedup" -> d9Oracle,
    "d1_exact_dedup" -> d1Oracle,
    "d2_ngram_jaccard" -> d2Oracle,
    "d3_minhash_lsh" -> d3Oracle,
    "d4_simhash" -> d4Oracle,
    "d5_simhash_pairs" -> d5Oracle,
    "d5b_top_pairs" -> d5bOracle,
    "d6_embedding_neardup" -> d6Oracle,
    "d7_dup_clusters" -> d7Oracle,
    "d8_triangles" -> d8Oracle,
    "d10_span_dedup" -> d10Oracle,
    "d11_incremental_span_dedup" -> d11Oracle,
    "d12_dup_pagerank" -> d12Oracle,
    "d13_bloom_dedup" -> d13Oracle,
    "d14_incremental_lsh" -> d14Oracle)
}
