package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Intermediates
import graft.functions.Text
import graft.sources.Tables

/** Deterministic corpus-trained byte-pair encoding — the real subword
  * tokenizer behind every token budget in the curation pipeline
  * (whitespace counts differ from BPE counts 1.3–1.7× by language, which
  * skews mix/pack decisions; the reference's pipeline feeds an LLM-side
  * consumer, /root/reference/README_en.md:1-10).
  *
  * Training is classic Sennrich BPE as a TWO-TIER job — the architecture
  * that reaches real vocab sizes (32k–100k merges), where the previous
  * one-Spark-job-per-merge loop was driver-paced into days:
  *
  *  - **Spark tier (corpus-sized, runs twice).** One partial-agg shuffle
  *    builds the word-TYPE histogram (w, cnt); Zipf makes types ≪ tokens,
  *    and a [[MaxTypes]] top-K cap (count desc, word asc — replayed in
  *    the oracle) bounds the histogram at any corpus size: a 10⁶-type
  *    table saturates BPE pair statistics, and everything below the cap
  *    is by construction the rarest tail. The second corpus scan is the
  *    final per-doc encode join against the broadcast type table.
  *  - **Driver tier (vocabulary-sized, in-memory).** The merge loop runs
  *    over the collected histogram with incrementally-maintained pair
  *    counts — after merging (a,b), only words containing an adjacent
  *    (a,b) change, so each round costs the affected words plus one
  *    max-scan, not a corpus pass and not even a vocabulary pass. 256
  *    rounds over a 10⁶-type histogram are seconds; the previous
  *    formulation spent one full Spark job + driver round-trip per merge
  *    (measured 79.7 s for just 16 merges at the ×100 probe).
  *
  * Semantics are bit-identical to the reference formulation both engines
  * replay: pair stats count ALL adjacent symbol pairs (overlapping
  * included) weighted by word count; the winner is
  * (count DESC, a ASC, b ASC); applying a merge is greedy left-to-right
  * non-overlapping — exactly DuckDB `replace` over sentinel-wrapped
  * symbols, which is what [[oracleCtes]] unrolls per round, so a hash
  * match certifies the whole merge table plus every downstream count.
  *
  * Out-of-vocabulary contract (only reachable when [[MaxTypes]] binds,
  * i.e. never at the gate corpora): a word type outside the histogram
  * encodes as its character count — the untrained-BPE floor — via a LEFT
  * join + coalesce on both engines.
  */
object Bpe {

  /** Merge rounds trained/applied everywhere (gate + oracle must agree).
    * 256 since the two-tier trainer landed (16 before it); the ceiling is
    * now the ORACLE side — DuckDB replays one unrolled CTE round per
    * merge — not training, which does 32k merges in comparable time.
    */
  val Rounds = 256

  /** Merge count for the ENCODE-gated queries (t14/n12). The gate corpus
    * draws from a 31-word vocabulary, so training drains (every type a
    * single symbol) at 89 merges — and a fully-drained vocab makes
    * n_bpe ≡ n_ws, which would gate the encode join on a tautology. 16
    * merges keep real subword structure in the gated output; [[Rounds]]
    * (t15) still drives training to the corpus's full drain point, so the
    * 256-round capacity and the drain contract stay oracle-pinned.
    */
  val EncodeRounds = 16

  /** Histogram cap: top-K word types by (cnt desc, w asc). Never binds at
    * the gate corpora (≤ ~10⁵ types); at 100 TB it bounds driver memory
    * while keeping every statistically-relevant type (the tail below a
    * 10⁶-type cap is singleton noise for pair statistics).
    */
  val MaxTypes = 1000000

  /** The trained model: ranked merges (a, b, pairCount) and the final
    * type→subword-count table (w, n_sym) — the broadcast side of every
    * encode join — taken directly from the trainer's end state instead of
    * re-deriving them with a merges-deep replace chain. The full per-type
    * segmentation (w, cnt, syms) is exposed LAZILY via [[segs]]: only the
    * t20 vocab-utilization audit reads it, and materializing up to
    * MaxTypes copied rows eagerly would tax driver memory for every other
    * trainer caller (t14/t15/t16/n13, the cap-saturating probe run).
    */
  final class BpeModel(val merges: Seq[(String, String, Long)],
                       val types: Seq[(String, Long)],
                       segsF: () => Seq[(String, Long, Seq[String])]) {
    /** Per-type segmentation view over the trainer's end-state arrays —
      * computed on demand, no copy held by the model itself.
      */
    def segs: Seq[(String, Long, Seq[String])] = segsF()
  }

  /** Word-type relation (w, cnt) over whitespace tokens of normText. */
  def wordTypes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Train `rounds` merges over the capped type histogram (possibly fewer
    * if the pair space drains first).
    */
  def train(spark: SparkSession, dir: String, rounds: Int = Rounds): BpeModel = {
    val wt = wordTypes(spark, dir)
    // one aggregation job: sort+limit caps the histogram in-engine, so the
    // driver never receives more than MaxTypes rows even at unbounded vocab
    val rows = wt.orderBy(col("cnt").desc, col("w")).limit(MaxTypes).collect()
    val hist = rows.map(r => (r.getString(0), r.getLong(1)))
    trainInMemory(hist, rounds)
  }

  /** The driver-tier merge loop. Package-private so specs can drive it on
    * synthetic histograms without a SparkSession. Splits at code points —
    * both engines split the raw word into characters for round 0.
    */
  private[graft] def trainInMemory(hist: Array[(String, Long)],
                                   rounds: Int): BpeModel =
    trainSymbols(hist,
      w => w.codePoints().toArray.map(cp => new String(Character.toChars(cp))),
      rounds)

  /** Code-point "less than" — identical to unsigned UTF-8 byte order, the
    * collation BOTH engines use for the oracle's `ORDER BY c DESC, a, b`
    * and the histogram cap. Scala's String `<` compares UTF-16 code
    * units, which ranks supplementary-plane symbols (surrogates
    * 0xD800–0xDFFF) BELOW BMP chars ≥ U+E000 — a divergent merge winner
    * on a count tie. Allocation-free for the hot tie-break path.
    */
  private[graft] def cpLt(x: String, y: String): Boolean = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return cx < cy
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    (x.length - i) < (y.length - j)
  }

  /** Merge-loop core over ANY round-0 symbolization (characters for the
    * word-level tokenizer, hex byte pairs for the byte-level one).
    */
  private[graft] def trainSymbols(hist: Array[(String, Long)],
                                  split: String => Array[String],
                                  rounds: Int): BpeModel = {
    import scala.collection.mutable
    val words: Array[Array[String]] = hist.map { case (w, _) => split(w) }
    val cnts: Array[Long] = hist.map(_._2)

    val pairCount = mutable.HashMap.empty[(String, String), Long]
    // pair → word indices that contained it at SOME point (append-only;
    // stale members are harmless — re-merging a word without the pair is
    // an exact no-op diff)
    val pairWords = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    val inSet = mutable.HashSet.empty[(Int, (String, String))]

    // Lazy-invalidation max-heap for winner selection: a full pairCount
    // scan per round is O(P) and dominates at production merge depth
    // (32k merges × millions of pairs). Pairs whose counts change are
    // batched per round and ONE fresh (count, a, b) snapshot per dirty
    // pair is pushed at its end-of-round count; on pop, entries whose
    // count no longer matches pairCount are stale and discarded. Each
    // live pair always has a snapshot at its current count, so the first fresh pop
    // IS argmax by (count desc, a, b code-point asc) — bit-identical to a
    // code-point-collated scan (and it FIXES the tie-break the old scan
    // had: Scala String `<` orders by UTF-16 code unit, which disagrees
    // with the oracle's binary collation on supplementary-plane symbols;
    // BpeSpec pins the corrected order). Heap growth is bounded by total
    // diff work.
    val heapOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          if (x._1 != y._1) java.lang.Long.compare(x._1, y._1)
          else if (x._2 != y._2) { if (cpLt(x._2, y._2)) 1 else -1 }
          else if (x._3 != y._3) { if (cpLt(x._3, y._3)) 1 else -1 }
          else 0
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)

    // Dirty-pair batching (round 14): diffWord no longer snapshots every
    // count CHANGE — early word-level rounds re-diff ~10⁵ types apiece
    // (the 'e·r'-frequency pairs), and per-change enqueues made 256
    // merges over the 440k-type ×100 histogram cost ~65 s of heap churn,
    // 3.5× the pre-heap trainer (caught by the r14 t-family rotation;
    // r12 only depth-swept the byte-level path). Changed pairs go into a
    // set; [[flushDirty]] pushes ONE snapshot per dirty pair at its
    // END-OF-ROUND count. The lazy-heap invariant — every live pair has a
    // snapshot at exactly its current count (stale pops discard) — holds
    // because each flush covers every count that changed since the last
    // one, so winner selection is bit-identical, just with |dirty pairs|
    // heap ops per round instead of 2×Σ(affected word lengths).
    val dirty = mutable.HashSet.empty[(String, String)]
    def diffWord(i: Int, sign: Long): Unit = {
      val s = words(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = pairCount.getOrElse(p, 0L) + sign * cnts(i)
        if (c == 0L) pairCount.remove(p) else pairCount(p) = c
        dirty += p
        if (sign > 0 && inSet.add((i, p)))
          pairWords.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += i
        j += 1
      }
    }
    def flushDirty(): Unit = {
      dirty.foreach { p =>
        pairCount.get(p) match {
          case Some(c) => heap.enqueue((c, p._1, p._2))
          case None    => () // dropped to zero — nothing to snapshot
        }
      }
      dirty.clear()
    }
    words.indices.foreach(diffWord(_, 1L))
    flushDirty()

    // greedy left-to-right non-overlapping — the `replace` rule
    def applyMerge(s: Array[String], a: String, b: String): Array[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < s.length) {
        if (j < s.length - 1 && s(j) == a && s(j + 1) == b) { out += a + b; j += 2 }
        else { out += s(j); j += 1 }
      }
      out.toArray
    }

    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    while (r < rounds && pairCount.nonEmpty) {
      var bestA: String = null; var bestB: String = null; var bestC = -1L
      while (bestA == null) {
        val (c, a, b) = heap.dequeue()
        if (pairCount.get((a, b)).contains(c)) { bestA = a; bestB = b; bestC = c }
      }
      merges += ((bestA, bestB, bestC))
      pairWords.getOrElse((bestA, bestB), mutable.ArrayBuffer.empty).foreach { i =>
        val merged = applyMerge(words(i), bestA, bestB)
        if (merged.length != words(i).length) {
          diffWord(i, -1L)
          words(i) = merged
          diffWord(i, 1L)
        }
      }
      flushDirty()
      r += 1
    }
    new BpeModel(merges.toSeq,
      hist.indices.map(i => (hist(i)._1, words(i).length.toLong)),
      // thunk over the trainer's final arrays (immutable once training
      // returns) — evaluated only if a caller actually reads .segs
      () => hist.indices.map(i => (hist(i)._1, cnts(i), words(i).toSeq)))
  }

  /** Type→subword-count DataFrame (w, n_sym) from the trained model. */
  def typeTokens(spark: SparkSession, model: BpeModel): DataFrame = {
    val s2 = spark; import s2.implicits._
    model.types.toDF("w", "n_sym")
  }

  /** Per-doc (doc_id, n_ws, n_bpe): whitespace vs BPE token counts. A
    * type outside the capped histogram (never at gate corpora) falls back
    * to its character count — replayed by the oracle's LEFT JOIN.
    */
  def docTokens(spark: SparkSession, dir: String, model: BpeModel): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .join(broadcast(typeTokens(spark, model)), Seq("w"), "left")
      .withColumn("n_sym", coalesce(col("n_sym"), length(col("w")).cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ws"), sum("n_sym").as("n_bpe"))

  // ------------------------------------------------------------ oracle

  /** CTE chain replaying training verbatim in DuckDB: `wc` (capped type
    * histogram), `w0..wN` (wrapped vocab per round), `b1..bN` (per-round
    * winning pair + count), `tt` (type→subword count), `dw` (doc_id, w)
    * for encode tails. Callers append their own final SELECT.
    *
    * `capped = false` replays the UNCAPPED histogram (`wc` = `wt`
    * verbatim) — the t21 oracle needs it because [[trainDistributed]]
    * never caps: with the capped replay the two would diverge by
    * construction exactly in the beyond-[[MaxTypes]] regime t21 exists to
    * certify (below the cap the variants are value-identical).
    */
  def oracleCtes(rounds: Int = Rounds, capped: Boolean = true): String = {
    val wc =
      if (capped)
        s"wc AS MATERIALIZED (SELECT w, cnt FROM (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rn FROM wt) WHERE rn <= $MaxTypes)"
      else
        "wc AS MATERIALIZED (SELECT w, cnt FROM wt)"
    val head =
      s"""WITH d AS MATERIALIZED (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents),
        |dw AS MATERIALIZED (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM d) WHERE length(w) > 0),
        |wt AS MATERIALIZED (SELECT w, count(*) AS cnt FROM dw GROUP BY w),
        |$wc,
        |w0 AS MATERIALIZED (SELECT w, cnt, array_to_string(list_transform(string_split(w, ''), c -> chr(1) || c || chr(2)), '') AS sym FROM wc)""".stripMargin
    s"$head,\n${mergeRoundsSql(rounds)}"
  }

  /** The per-round merge replay + final `tt` — shared by the word-level
    * and byte-level oracles (the round machinery never looks inside a
    * symbol, so it is symbolization-agnostic).
    */
  private def mergeRoundsSql(rounds: Int): String = {
    val roundsSql = (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (SELECT cnt, list_filter(string_split(replace(sym, chr(1), ''), chr(2)), x -> x <> '') AS l FROM w${k - 1}),
         |p$k AS (SELECT struct_extract(p, 'a') AS a, struct_extract(p, 'b') AS b, sum(cnt) AS c FROM (
         |  SELECT cnt, unnest(list_transform(range(1, len(l)), i -> {'a': l[i], 'b': l[i+1]})) AS p
         |  FROM l$k WHERE len(l) >= 2) GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT a, b, c FROM p$k ORDER BY c DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (SELECT w, cnt, CASE WHEN b.a IS NULL THEN sym
         |  ELSE replace(sym, chr(1) || b.a || chr(2) || chr(1) || b.b || chr(2), chr(1) || b.a || b.b || chr(2)) END AS sym
         |FROM w${k - 1} LEFT JOIN b$k b ON TRUE)""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""tt AS MATERIALIZED (SELECT w, CAST(len(list_filter(string_split(replace(sym, chr(1), ''), chr(2)), x -> x <> '')) AS BIGINT) AS n_sym FROM w$rounds)"""
    s"$roundsSql,\n$tail"
  }

  // ------------------------------------------- byte-level pretokenized BPE

  /** GPT-2-STYLE pretokenizer over the whitespace-normalized text:
    * contraction suffixes, then space-attached letter runs, digit runs,
    * punctuation runs, bare space runs — so " the" and "the" are distinct
    * types, exactly the distinction real tokenizers budget by. GPT-2's
    * own pattern ends in `\\s+(?!\\S)`; RE2 (DuckDB) has no lookahead, so
    * this contract drops that branch — normText collapses whitespace to
    * single spaces first, which makes the branch unreachable anyway. Both
    * engines evaluate leftmost-first alternation identically.
    */
  val PreTokenPattern = "'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"

  /** Byte-level merge rounds (t16/n13). Lower than [[Rounds]] for the
    * same reason as [[EncodeRounds]]: the gate corpus's type space is
    * tiny and a fully-drained vocab gates a tautology; 32 rounds keep
    * multi-symbol structure in the gated output.
    */
  val ByteRounds = 32

  /** Pretoken array of a text column. */
  def preTokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract_all(Text.normText(c), lit(PreTokenPattern), lit(0))

  /** Pretoken-type relation (w, cnt) — the byte-level histogram source. */
  def preTypes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(preTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Hex-pair byte symbolization: each UTF-8 byte becomes a two-hex-char
    * symbol ("74","68","65" for "the"), so merged symbols are plain
    * strings and the whole merge machinery — driver loop AND the DuckDB
    * replay (`hex(encode(w))`) — runs unchanged. Every byte is in the
    * round-0 alphabet, so any future word is encodable (byte fallback is
    * structural, not a special case).
    */
  private[graft] def byteSyms(w: String): Array[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X")

  /** Train byte-level merges over the capped pretoken-type histogram. */
  def trainBytes(spark: SparkSession, dir: String, rounds: Int = ByteRounds): BpeModel = {
    val wt = preTypes(spark, dir)
    val rows = wt.orderBy(col("cnt").desc, col("w")).limit(MaxTypes).collect()
    trainSymbols(rows.map(r => (r.getString(0), r.getLong(1))), byteSyms, rounds)
  }

  /** Per-doc (doc_id, n_pre, n_bytes, n_bbpe): pretoken count, UTF-8 byte
    * count, and byte-BPE token count. Out-of-cap fallback = the byte
    * count (untrained byte-level BPE emits one token per byte).
    */
  def docByteTokens(spark: SparkSession, dir: String, model: BpeModel): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(preTokens(col("text"))).as("w"))
      .join(broadcast(typeTokens(spark, model)), Seq("w"), "left")
      .withColumn("n_sym", coalesce(col("n_sym"), octet_length(col("w")).cast("long")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pre"),
        sum(octet_length(col("w")).cast("long")).as("n_bytes"),
        sum("n_sym").as("n_bbpe"))

  // ------------------------------------------- distributed (uncapped) BPE

  /** Merge rounds for the DISTRIBUTED trainer's gate query (t21). Each
    * round is one Spark shuffle job over the TYPE table, so the gate cost
    * is rounds × a sub-second aggregation; 16 keeps the gate fast while
    * the probe drives the same loop deeper.
    */
  val DistRounds = 16

  /** Lineage-truncation period for deep distributed runs: each round adds
    * one narrow `replace` to the segmentation column, and past ~100 rounds
    * the re-analyzed plan tree (not the data) starts to dominate round
    * latency. A checkpoint every 64 rounds materializes the type
    * table (types ≪ tokens — Zipf — so this is vocabulary-sized, never
    * corpus-sized) and frees the previous checkpoint's blocks.
    */
  val DistCheckpointEvery = 64

  /** Fully-distributed word-level trainer — the beyond-[[MaxTypes]] path.
    *
    * [[train]] collects the capped type histogram and runs the merge loop
    * driver-side; that is the right call at any corpus whose statistically
    * relevant types fit the cap (the documented contract — the tail below
    * 10⁶ types is singleton noise for pair statistics). A multilingual
    * web-scale corpus whose true type inventory EXCEEDS the cap previously
    * had no in-engine word-level answer ("cap + byte-level fallback").
    * This loop never caps and never collects the histogram: the type table
    * stays a DataFrame for the whole train, and the only driver traffic is
    * the 1-row winner per round.
    *
    * Per round, on the sentinel-wrapped segmentation column (the SAME
    * ` sym ` representation the DuckDB oracle replays):
    *  1. pair stats = explode adjacent symbol pairs, weighted by type
    *     count — one shuffle over the TYPE table (types ≪ tokens);
    *  2. winner = `ORDER BY c DESC, a, b LIMIT 1` (TakeOrderedAndProject;
    *     Spark's UTF8String comparison is unsigned-byte order, identical
    *     to DuckDB's binary collation and to [[cpLt]]);
    *  3. apply = one narrow `replace` — leftmost non-overlapping, the same
    *     single-pass rule as [[trainSymbols]]' applyMerge and the oracle's
    *     `replace`.
    *
    * Encode-side contract beyond the cap: the final type table cannot be
    * broadcast (that is the point), so [[docTokens]]' broadcast join
    * becomes a plain shuffle join on `w` — same plan shape, hash exchange
    * instead of broadcast exchange.
    */
  def trainDistributed(spark: SparkSession, dir: String, rounds: Int = DistRounds): Seq[(String, String, Long)] =
    distMerges(wordTypes(spark, dir), rounds)

  /** The distributed merge loop over any (w, cnt) type relation —
    * package-private so specs can drive it on synthetic histograms.
    */
  private[graft] def distMerges(types: DataFrame, rounds: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val S = "\u0001"; val E = "\u0002"
    // round-0 symbolization: one sentinel-wrapped code point per symbol.
    // Java-regex '.' matches a full code point (surrogate pairs stay
    // whole), so this agrees with trainInMemory's codePoints split —
    // but ONLY under DOTALL: bare '.' excludes line terminators
    // (U+0085/U+2028/U+2029), which survive the ASCII-only \s+
    // tokenization and would fuse into the next symbol, diverging from
    // the oracle's string_split(w, '') in the multilingual regime this
    // uncapped path exists for.
    var cur = types
      .select(col("cnt"),
        regexp_replace(col("w"), "(?s)(.)", S + "$1" + E).as("sym"))
      .transform(Intermediates.checkpoint)
    var pinned = cur // the checkpoint whose blocks we currently own
    val merges = mutable.ArrayBuffer.empty[(String, String, Long)]
    try {
      var r = 0
      var drained = false
      while (r < rounds && !drained) {
        val l = filter(split(translate(col("sym"), S, ""), E), x => x =!= lit(""))
        val win = cur
          .select(col("cnt"), l.as("l"))
          .where(size(col("l")) >= 2)
          .select(col("cnt"), explode(transform(
            sequence(lit(0), size(col("l")) - 2),
            i => struct(element_at(col("l"), i + 1).as("a"),
                        element_at(col("l"), i + 2).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("cnt").as("c"))
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(1).collect()
        if (win.isEmpty) drained = true
        else {
          val (a, b, c) = (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
          merges += ((a, b, c))
          cur = cur.withColumn("sym",
            replace(col("sym"), lit(S + a + E + S + b + E), lit(S + a + b + E)))
          r += 1
          if (r % DistCheckpointEvery == 0 && r < rounds) {
            val ck = Intermediates.checkpoint(cur)
            Intermediates.release(pinned)
            pinned = ck; cur = ck
          }
        }
      }
    } finally Intermediates.release(pinned)
    merges.toSeq
  }

  /** Byte-level oracle CTEs: pretokenize with the SAME regex, hex-pair
    * byte symbolization via `hex(encode(w))`, then the shared merge-round
    * replay. Same relation names as [[oracleCtes]] (`dw`, `tt`, …) so
    * query tails compose identically.
    */
  def byteOracleCtes(rounds: Int = ByteRounds): String = {
    val pat = PreTokenPattern.replace("'", "''")
    val head =
      s"""WITH d AS MATERIALIZED (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents),
        |dw AS MATERIALIZED (SELECT doc_id, unnest(regexp_extract_all(norm, '$pat')) AS w FROM d),
        |wt AS MATERIALIZED (SELECT w, count(*) AS cnt FROM dw GROUP BY w),
        |wc AS MATERIALIZED (SELECT w, cnt FROM (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rn FROM wt) WHERE rn <= $MaxTypes),
        |w0 AS MATERIALIZED (SELECT w, cnt, array_to_string(list_transform(range(0, octet_length(encode(w))), i -> chr(1) || substr(hex(encode(w)), CAST(2 * i + 1 AS INTEGER), 2) || chr(2)), '') AS sym FROM wc)""".stripMargin
    s"$head,\n${mergeRoundsSql(rounds)}"
  }
}
