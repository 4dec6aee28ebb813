package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Open-session state for the stateful sessionizer. Top-level (not nested in
  * the object) so Spark's encoder codegen — Janino-compiled Java — can
  * resolve its accessors.
  */
case class OpenSession(start: Long, end: Long, n: Long, total: Double)

/** Structured-Streaming operators over the `events` stream (builder brief;
  * SURVEY.md §1.5 — the reference's incrementality is a batch watermark, so
  * the true-streaming surface is our extension, expressed with the standard
  * Spark streaming primitives: `withWatermark` + windowed aggregation, and
  * `flatMapGroupsWithState` for custom session state).
  *
  * Every transform here takes a plain DataFrame so it runs identically on a
  * batch frame (unit-testable, oracle-checkable) and on a `readStream`
  * source — the Structured Streaming contract that batch and stream share
  * one logical plan.
  */
object StreamingOps extends Serializable {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Declared schema for a streaming read of an events parquet source.
    * The physical type of `ts` is not stable across corpus generations —
    * it has been TIMESTAMP(NANOS) (readable only as raw nanos long under
    * `spark.sql.legacy.parquet.nanosAsLong`) and plain timestamp-micros
    * (arriving as TIMESTAMP_NTZ) — so the schema is taken from the footer
    * of whatever is actually on disk rather than hard-coded. Pipe the
    * source through [[graft.sources.Tables.normalizeEventTs]] to get
    * [[eventSchema]] regardless of which variant was found.
    */
  def rawEventSchema(spark: SparkSession, path: String): StructType = {
    // self-contained footer read: on a TIMESTAMP(NANOS) corpus generation
    // the batch reader throws unless the legacy flag is set, and relying on
    // a prior Tables.events call to have set it is an ordering hazard in a
    // shared session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path).schema
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  /** Tumbling-window counts per event type. On a stream, `watermarkDelay`
    * bounds state: windows older than (max event time − delay) finalize and
    * drop.
    */
  def windowedCounts(events: DataFrame, windowDur: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("wstart"), col("event_type"), col("cnt"))

  /** Sliding-window (1h window, 15m slide) counts. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("wstart"), col("event_type"), col("cnt"))

  private def micros(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Per-batch session fold shared by [[sessionize]] and
    * [[sessionizeStream]]. Late events (t ≤ open.end) that still fall within
    * the gap of the open session are *absorbed* — `start = min`, `end = max`
    * — so a session can never invert (end < start) and subsequent gap
    * decisions stay monotone. An event older than `start − gap` of the open
    * session belongs to an already-emitted session; re-opening it would
    * violate append-mode (it may have been output), so it is absorbed too —
    * the documented limit of gap sessionization over unordered input; the
    * watermarked variant bounds how stale such an event can be.
    */
  private def foldBatch(
      userId: Long,
      it: Iterator[Event],
      open0: Option[OpenSession],
      gapUs: Long): (Seq[Session], Option[OpenSession]) = {
    val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    var open = open0
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val t = micros(e.ts)
      open match {
        case Some(s) if t - s.end <= gapUs =>
          open = Some(s.copy(
            start = math.min(s.start, t),
            end = math.max(s.end, t),
            n = s.n + 1, total = s.total + e.value))
        case Some(s) =>
          closed += Session(userId, fromMicros(s.start), fromMicros(s.end), s.n, s.total)
          open = Some(OpenSession(t, t, 1L, e.value))
        case None =>
          open = Some(OpenSession(t, t, 1L, e.value))
      }
    }
    (closed.result(), open)
  }

  /** Gap-based sessionization with explicit state
    * (`flatMapGroupsWithState`): a session closes when the next event of
    * the user arrives more than `gapMinutes` later. Emits *closed* sessions;
    * the open tail of each user stays in state (no timeout, so emission is
    * deterministic for the batch-equivalence spec). For unbounded streams
    * use [[sessionizeStream]], which adds a watermark and event-time
    * timeouts so state cannot grow without bound.
    */
  def sessionize(spark: SparkSession, events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000L * 1000L

    def fold(userId: Long, it: Iterator[Event], state: GroupState[OpenSession]): Iterator[Session] = {
      val (closed, open) = foldBatch(userId, it, state.getOption, gapUs)
      open.foreach(state.update)
      closed.iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
  }

  /** Production sessionizer for unbounded streams: event-time watermark +
    * `EventTimeTimeout`. Once the watermark passes `end + gap`, the open
    * session can no longer be extended (later events would be dropped by
    * the watermark anyway), so the timeout flushes it and frees the state —
    * state size stays O(active users) instead of O(all users ever seen).
    */
  def sessionizeStream(
      spark: SparkSession,
      events: Dataset[Event],
      gapMinutes: Int = 30,
      watermarkDelay: String = "2 hours"): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60000L * 1000L

    def fold(userId: Long, it: Iterator[Event], state: GroupState[OpenSession]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(Session(userId, fromMicros(s.start), fromMicros(s.end), s.n, s.total))
      } else {
        val (closed, open) = foldBatch(userId, it, state.getOption, gapUs)
        open.foreach { s =>
          state.update(s)
          // timeout at end + gap (ms event time); must stay above the
          // current watermark or Spark rejects the registration
          val flushAtMs = math.max(s.end / 1000L + gapUs / 1000L, state.getCurrentWatermarkMs() + 1L)
          state.setTimeoutTimestamp(flushAtMs)
        }
        closed.iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fold)
  }

  /** Exactly-once view over an at-least-once stream: drop redelivered
    * events by id. `dropDuplicatesWithinWatermark` keeps each id in state
    * only until the watermark passes its event time + delay — bounded
    * state, unlike plain dropDuplicates which remembers every id forever.
    */
  def dedupEvents(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Exactly-once file sink via foreachBatch: each micro-batch overwrites
    * its own `batch_id=<id>` partition, so replaying a batch after a crash
    * (same checkpoint) or even a full from-scratch reprocess rewrites the
    * same directories instead of duplicating rows — idempotence is the
    * exactly-once story for non-transactional sinks, the same
    * delete-then-insert the reference pipeline uses per year
    * (yq_dag.py:16-19; SURVEY.md §1.4).
    */
  def idempotentPartitionedSink(out: DataFrame, outDir: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    out.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write
          .mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
      }
      .start()

  /** Stream-static incremental dedup — the streaming twin of
    * `DedupQueries.d9IncrementalDedup`: each micro-batch of a crawl
    * increment `(in_id, fp)` is checked against the STATIC corpus
    * fingerprint index `(fp, corp_id)`. Stream-static joins are stateless
    * (no watermark, no state store growth) and the static side is
    * re-planned every micro-batch, so a nightly index refresh is picked up
    * without restarting the stream.
    *
    * The index must be unique per `fp` (one row per fingerprint, the
    * min-id survivor — exactly what the d1 exact-dedup pass materializes);
    * then the left join emits exactly one verdict row per incoming doc.
    * At 100 TB the index is the compact (fp, corp_id) projection, not the
    * corpus: bucket it by `fp` for a co-located per-batch join, or let the
    * planner broadcast a daily index that fits.
    */
  def streamStaticDedup(increment: DataFrame, corpusIndex: DataFrame): DataFrame =
    increment.join(corpusIndex, Seq("fp"), "left")
      .select(col("in_id"), col("fp"),
        col("corp_id").as("dup_of"),
        col("corp_id").isNotNull.as("is_dup"))

  /** Stream-static span dedup — the streaming twin of the batch d11
    * operator (cites the same ExactSubstr method): each micro-batch of
    * crawl docs `(doc_id, text)` is windowed into k-token spans and
    * joined against the PERSISTED span-frequency index; positions whose
    * span the corpus already contains merge into maximal per-doc
    * intervals. Output `(doc_id, n_spans, dup_tokens)` — the d10/d11
    * schema.
    *
    * The interval merge cannot be a window function on a stream, so it
    * is an aggregation: positions collect per doc and a single
    * `aggregate` HOF folds the SORTED array with (islands, covered,
    * max_end) state — exactly the gaps-and-islands recurrence, O(doc
    * length) per doc, no second shuffle. The streaming aggregation runs
    * in update/complete mode (doc_id is not time-bounded); production
    * pipelines bound state by routing through `foreachBatch` (the
    * [[idempotentPartitionedSink]] pattern) or adding an event-time key.
    */
  def streamStaticSpanDedup(increment: DataFrame, spanIndex: DataFrame): DataFrame = {
    val k = 8 // DedupQueries.SpanK
    val rep = graft.queries.DedupQueries.spanWindows(increment)
      .join(spanIndex.where(col("corp_c") >= 1).select("fp"), "fp")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    rep.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), aggregate(
        col("ps"),
        struct(lit(0L).as("n"), lit(0L).as("cov"), lit(-1L).as("mx")),
        (acc, p) => struct(
          when(p > acc("mx"), acc("n") + 1L).otherwise(acc("n")).as("n"),
          when(p > acc("mx"), acc("cov") + k).otherwise(acc("cov") + p + k - acc("mx")).as("cov"),
          (p + k).as("mx"))).as("r"))
      .select(col("doc_id"), col("r.n").as("n_spans"), col("r.cov").as("dup_tokens"))
  }

  /** Stream-static MinHash-LSH — the streaming twin of batch d14: each
    * micro-batch of crawl docs `(in_id, text)` computes its OWN signatures
    * with per-row HOF expressions (array_min ∘ transform over the shingle
    * hashes — no stream aggregation needed), equi-joins its band keys
    * against the PERSISTED band index, and verifies exact Jaccard via
    * array_intersect against the persisted per-doc shingle arrays. The
    * only stream state is the (in_id, corp_id) dropDuplicates (one row
    * per reported pair — multi-band hits collapse); the corpus is never
    * re-banded. Output `(in_id, corp_id, jaccard)` — the d14 schema.
    *
    * @param increment    streaming (in_id, text)
    * @param bandIndex    static (corp_id, band, key) — [[graft.queries.DedupQueries.lshBands]]
    * @param shingleIndex static (corp_id, corp_sh array<bigint>) — per-doc md5Long shingle hashes
    */
  def streamStaticLsh(increment: DataFrame, bandIndex: DataFrame,
                      shingleIndex: DataFrame): DataFrame = {
    import graft.queries.DedupQueries
    import graft.functions.Text
    val sh = increment
      .select(col("in_id"), Text.shingles(Text.tokens(col("text"))).as("shingles"))
      .withColumn("sh64arr", expr(
        "transform(shingles, _s -> CAST(conv(substring(md5(_s), 1, 15), 16, 10) AS BIGINT))"))
    val bands = sh
      .select(col("in_id"), col("sh64arr"),
        explode(DedupQueries.lshBandArrayExpr("sh64arr")).as("b"))
      .select(col("in_id"), col("sh64arr"), col("b.band").as("band"), col("b.key").as("key"))
    bands.join(bandIndex, Seq("band", "key")) // stream ⋈ static index
      .select("in_id", "corp_id", "sh64arr")
      .dropDuplicates("in_id", "corp_id")
      .join(shingleIndex, "corp_id")
      .withColumn("i", size(array_intersect(col("sh64arr"), col("corp_sh"))))
      .withColumn("jaccard",
        col("i") * lit(1.0) / (size(col("sh64arr")) + size(col("corp_sh")) - col("i")))
      .where(col("jaccard") >= 0.5)
      .select("in_id", "corp_id", "jaccard")
  }

  /** Stream-static boilerplate removal — the streaming twin of batch d18:
    * each micro-batch of crawl docs `(doc_id, source, text)` is segmented
    * (the d18 windows) and scrubbed against the PERSISTED per-source
    * boilerplate index `(source, h)` — the segments the batch pass already
    * measured at df ≥ 2 within that source. Output is the d18 schema
    * `(doc_id, n_segments, n_kept, clean_md5)`.
    *
    * Frozen-index semantics, deliberately: a segment that crosses the
    * frequency threshold only WITH this increment is chrome the stream
    * cannot prove yet, and the docs it implicates include RESIDENT ones —
    * retroactive rewrites are the batch re-clean epoch's job (d18), which
    * also refreshes the index the stream serves from (stream-static joins
    * re-plan the static side every micro-batch, so the refresh is picked
    * up without a restart). Stateless apart from the per-doc aggregation
    * (complete/update mode; bound it with the foreachBatch sink pattern
    * when doc ids are unbounded).
    */
  def streamStaticBoilerplate(increment: DataFrame, boilerIndex: DataFrame): DataFrame = {
    val segs = graft.queries.DedupQueries
      .segmentRows(increment, "doc_id", Seq("source"))
      .withColumn("h", md5(col("seg")))
    segs
      .join(boilerIndex.select(col("source"), col("h"), lit(true).as("bp")),
        Seq("source", "h"), "left")
      .withColumn("keep", col("bp").isNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(when(col("keep"), struct(col("g"), col("seg"))))),
            _.getField("seg")), " ")).as("clean_md5"))
  }

  /** Stream-static eval-set decontamination — v2's serve twin: each
    * micro-batch of crawl docs `(doc_id, text)` is flagged against the
    * PERSISTED eval n-gram index (md5-hashed
    * [[graft.queries.CorpusQueries.NGram]]-grams) BEFORE it reaches
    * packing — the placement a production pipeline runs this check at
    * (contaminated docs must never enter a shard). Output is v2's schema
    * `(doc_id, n_grams, n_shared, contaminated)`.
    *
    * Frozen-index semantics: eval sets change by benchmark release, not
    * by crawl batch — and stream-static joins re-plan the static side
    * every micro-batch, so a refreshed index is picked up without a
    * restart. Stateless apart from the per-doc aggregation (complete/
    * update mode; bound it with the foreachBatch sink pattern when doc
    * ids are unbounded).
    */
  /** Stream-static SEMANTIC decontamination — s11's serve twin, the
    * embedding-space sibling of [[decontaminateStream]]: each crawl
    * micro-batch of embeddings `(vec_id, embedding)` is quantized and
    * cell-assigned with the SAME literal-centroid argmin the batch fit
    * uses (a stateless projection — centroids ride in the plan as
    * literals, so assignment adds no stream state), then cell-joined
    * against the PERSISTED quantized eval index and flagged inside
    * [[graft.queries.SimilarityQueries.SemTau]]'s band. Frozen-index
    * semantics like the n-gram twin: a benchmark release refreshes the
    * eval index and stream-static re-planning picks it up per batch, no
    * restart. The trailing per-vector ledger aggregation runs in
    * update/complete mode (the [[streamStaticSpanDedup]] note applies:
    * production bounds state via foreachBatch routing).
    *
    * @param increment streaming (vec_id BIGINT, embedding ARRAY<FLOAT|DOUBLE>)
    * @param cents     driver-held quantized centroids (the batch fit's
    *                  k·dim ints) — ≤ 16 keeps assignment on the literal
    *                  path; a bigger serve index belongs to IvfIndex cells
    * @param evalIndex static (cid, eval_id, edv ARRAY<DOUBLE>, en2 DOUBLE)
    *                  — [[graft.queries.SimilarityQueries.s11EvalIndex]]
    */
  def streamStaticSemanticDecontam(increment: DataFrame,
      cents: Seq[(Int, Array[Long])], evalIndex: DataFrame): DataFrame = {
    import graft.queries.SimilarityQueries
    require(cents.length <= 16,
      s"${cents.length} cells — the stream twin runs the literal argmin only; larger serve indexes use IvfIndex cells")
    val q = increment.select(col("vec_id"),
      SimilarityQueries.kmQuantize(col("embedding")).as("qv"))
    val assigned = SimilarityQueries.kmAssign(q, cents)
      .withColumn("dv", expr("transform(qv, x -> CAST(x AS DOUBLE))"))
      .withColumn("n2", graft.functions.Vectors.dotD(col("dv"), col("dv")))
    val pairDist = (col("n2") + col("en2")
      - lit(2.0) * graft.functions.Vectors.dotD(col("dv"), col("edv"))).cast("long")
    assigned.join(evalIndex, Seq("cid"))
      .where(pairDist < SimilarityQueries.SemTau)
      .groupBy("vec_id", "cid")
      .agg(count(lit(1)).as("n_eval_hits"), min("eval_id").as("flagged_by"))
  }

  def decontaminateStream(increment: DataFrame, evalIndex: DataFrame): DataFrame = {
    import graft.functions.Text
    val grams = increment
      .select(col("doc_id"),
        explode(Text.shingles(Text.tokens(col("text")),
          graft.queries.CorpusQueries.NGram)).as("g"))
      .select(col("doc_id"), Text.md5Long(col("g")).as("g64"))
    grams
      .join(evalIndex.select(col("g64"), lit(true).as("hit")), Seq("g64"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_shared"))
      .withColumn("contaminated", (col("n_shared") >= 1).cast("long"))
  }

  case class CdcChange(k: Long, seq: Long, op: String, v: java.lang.Long)
  case class CdcWinner(k: Long, seq: Long, op: String, v: java.lang.Long)

  /** Streaming CDC materialization — u9's serve twin: the change feed
    * arrives as micro-batches in ANY order, with at-least-once
    * redelivery, and the state per key is exactly the highest-sequence
    * op seen so far (a seq + a tag + a value — O(keys), independent of
    * feed length and redelivery rate). Each batch folds its changes in
    * and emits every touched key's CURRENT winner (update mode), so the
    * downstream sink converges to u9's batch compaction under any
    * delivery interleaving — a later batch carrying an EARLIER sequence
    * is absorbed without emitting a regression (max keeps the winner),
    * and redelivered rows are idempotent by the same comparison. The
    * final table assembles exactly as in batch u9: base ⊔ winners,
    * winning D drops the key.
    */
  def cdcApplyStream(spark: SparkSession, changes: Dataset[CdcChange]): Dataset[CdcWinner] = {
    import spark.implicits._

    def fold(k: Long, it: Iterator[CdcChange], state: GroupState[CdcWinner]): CdcWinner = {
      val best = (state.getOption.iterator ++
        it.map(c => CdcWinner(k, c.seq, c.op, c.v))).maxBy(_.seq)
      state.update(best)
      best
    }

    changes.groupByKey(_.k)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(fold)
  }

  case class PackDoc(doc_id: Long, shard: Int, n_tokens: Long)
  case class PackState(bin: Long, used: Long)
  case class PackAssign(doc_id: Long, shard: Int, bin: Long, n_tokens: Long)

  /** Streaming sequence packing — the streaming twin of the batch
    * n9/n10 operators: per packer shard, the only state is the open
    * `(bin, fill)` pair (two longs per shard — state is O(shards), never
    * O(docs)), and each micro-batch's docs fold on from it, possibly
    * topping up the bin the previous batch left open. Identical
    * recurrence to the batch `aggregate` fold, so output ≡ batch n9 on
    * the same docs PROVIDED doc_ids arrive in nondecreasing order across
    * batches within a shard — the append-only crawl-output contract the
    * incremental form (n10) already documents; within a batch the fold
    * sorts, so intra-batch arrival order never matters.
    */
  def packStream(spark: SparkSession, docs: Dataset[PackDoc],
                 budget: Long = 256L): Dataset[PackAssign] = {
    import spark.implicits._
    def fold(shard: Int, it: Iterator[PackDoc],
             state: GroupState[PackState]): Iterator[PackAssign] = {
      val sorted = it.toSeq.sortBy(_.doc_id)
      var st = state.getOption.getOrElse(PackState(0L, budget + 1))
      val out = Seq.newBuilder[PackAssign]
      sorted.foreach { d =>
        st = if (st.used + d.n_tokens <= budget) PackState(st.bin, st.used + d.n_tokens)
             else PackState(st.bin + 1, d.n_tokens)
        out += PackAssign(d.doc_id, shard, st.bin, d.n_tokens)
      }
      state.update(st)
      out.result().iterator
    }
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
  }

  case class TopKIn(key: String, id: Long, v: Long)
  case class TopKState(gen: Long, ids: List[Long], vs: List[Long])
  case class TopKOut(key: String, gen: Long, rank: Int, id: Long, v: Long)

  /** Streaming TOP-K maintenance — the streaming twin of
    * [[graft.operators.IncrementalAgg.refreshTopK]]'s insert-merge path:
    * per key the only state is the current k (id, value) rows (state is
    * O(keys·k), never O(rows)); each micro-batch's inserts merge and
    * re-rank, and the key's refreshed top-k is re-emitted. Insert-only by
    * contract — a retraction needs the base relation for repair, which is
    * the batch operator's two-path job, not a stream's. Ties rank
    * (value DESC, id ASC), so output ≡ batch `fullTopK` over the same
    * rows whatever the micro-batch split (StreamingSpec pins it).
    * Re-emission is Update-shaped — `gen` is the key's state generation,
    * so a downstream upsert sink (or the spec) keeps max-gen per key;
    * production routes through foreachBatch upsert
    * ([[idempotentPartitionedSink]] pattern).
    */
  def topKStream(spark: SparkSession, rows: Dataset[TopKIn], k: Int = 3): Dataset[TopKOut] = {
    import spark.implicits._
    def fold(key: String, it: Iterator[TopKIn],
             state: GroupState[TopKState]): Iterator[TopKOut] = {
      val prev = state.getOption
      val prevItems = prev.map(s => s.ids.zip(s.vs)).getOrElse(Nil)
      val gen = prev.map(_.gen + 1L).getOrElse(0L)
      val merged = (prevItems ++ it.map(r => (r.id, r.v)))
        .distinct.sortBy { case (id, v) => (-v, id) }.take(k)
      state.update(TopKState(gen, merged.map(_._1), merged.map(_._2)))
      merged.zipWithIndex.map { case ((id, v), i) =>
        TopKOut(key, gen, i + 1, id, v)
      }.iterator
    }
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(fold)
  }

  case class TransIn(user_id: Long, event_id: Long, tsMicros: Long, event_type: String)
  case class TransState(lastType: String, lastTs: Long)
  case class TransOut(user_id: Long, from_type: String, to_type: String)

  /** Streaming session-transition extraction — the streaming twin of the
    * batch e10 Markov bigrams: per user the only state is the LAST
    * (event_type, ts) pair (O(users), never O(events)); each micro-batch
    * emits one (from → to) row per in-gap consecutive pair, folding on
    * from the previous batch's tail so transitions spanning a batch
    * boundary are not lost. Same append-only nondecreasing-ts-per-user
    * contract as [[packStream]]; within a batch the fold sorts, so
    * intra-batch arrival order never matters. Downstream counts are a
    * plain streaming aggregation over the emitted rows.
    */
  def transitionsStream(spark: SparkSession, events: Dataset[TransIn],
                        gapMicros: Long = 1800L * 1000000L): Dataset[TransOut] = {
    import spark.implicits._
    def fold(uid: Long, it: Iterator[TransIn],
             state: GroupState[TransState]): Iterator[TransOut] = {
      val sorted = it.toSeq.sortBy(e => (e.tsMicros, e.event_id))
      var st = state.getOption
      val out = Seq.newBuilder[TransOut]
      sorted.foreach { e =>
        st.foreach { s =>
          if (e.tsMicros - s.lastTs <= gapMicros) out += TransOut(uid, s.lastType, e.event_type)
        }
        st = Some(TransState(e.event_type, e.tsMicros))
      }
      st.foreach(state.update)
      out.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
  }

  case class FirstSeenIn(event_type: String, user_id: Long, dayN: Int)
  case class FirstSeenOut(event_type: String, user_id: Long, dayN: Int)

  /** Streaming first-seen extraction — the streaming twin of the batch w7
    * running-distinct identity: a (type, user) counts toward the distinct
    * total on exactly ONE day, its first, so the stream only has to emit
    * each key's first sighting. State per (type, user) is the single
    * first-seen day (O(keys), never O(events)) — the same key-linear
    * envelope as the sessionizer; downstream "distinct users to date" is
    * a plain streaming count over the emitted first-seen rows. Requires
    * chronological micro-batches ACROSS batches (days arrive in order —
    * the crawl/ingest contract every twin here shares); within a batch
    * the fold takes the min day, so intra-batch order never matters.
    */
  def firstSeenStream(spark: SparkSession,
                      rows: Dataset[FirstSeenIn]): Dataset[FirstSeenOut] = {
    import spark.implicits._
    def fold(key: (String, Long), it: Iterator[FirstSeenIn],
             state: GroupState[Int]): Iterator[FirstSeenOut] = {
      if (state.exists) Iterator.empty
      else {
        val d = it.map(_.dayN).min
        state.update(d)
        Iterator.single(FirstSeenOut(key._1, key._2, d))
      }
    }
    rows.groupByKey(r => (r.event_type, r.user_id))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
  }

  case class VecQuery(qid: Long, qv: Array[Double], qn2: Double)
  case class ServeHit(qid: Long, rank: Int, nid: Long, cos: Double)

  /** Streaming ANN serving — the s3 IVF probe path on a stream of query
    * vectors (the RAG-serving shape): probe-cell selection is a STATELESS
    * per-row map against the driver-held centroid literal (k·dim metadata —
    * the same state every distributed k-means keeps), candidates come
    * from a stateless stream-static equi-join against the persisted
    * inverted lists, and the per-query top-k folds in
    * `flatMapGroupsWithState` (a query's candidates all derive from its
    * one input row, so they co-arrive in one micro-batch and the fold
    * emits immediately — no cross-batch state). Cell ranking is the batch
    * operator's own expression ([[graft.operators.IvfIndex.probedCells]]),
    * so results are BIT-IDENTICAL to s3 — the spec asserts full equality
    * including cosines.
    */
  def ivfServeStream(spark: SparkSession, queries: Dataset[VecQuery],
                     cents: Array[(Long, Array[Double], Double)],
                     assigned: DataFrame, probes: Int, topK: Int): Dataset[ServeHit] = {
    import spark.implicits._
    import graft.operators.IvfIndex
    val rows = cents.toSeq.map { case (cid, cv, cn2) => (cid, cv.toSeq, cn2) }
    val probed = queries.select(col("qid"), col("qv"), col("qn2"),
      IvfIndex.probedCells(rows, col("qv"), col("qn2"), probes).as("cid"))
    val scored = probed.join(assigned, Seq("cid"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos", graft.functions.Vectors.cosinePre(
        col("qv"), col("qn2"), col("v"), col("n2")))
      .select(col("qid"), col("vec_id").as("nid"), col("cos"))
      .as[(Long, Long, Double)]
    def fold(qid: Long, it: Iterator[(Long, Long, Double)],
             state: GroupState[Boolean]): Iterator[ServeHit] =
      it.toSeq.sortBy { case (_, nid, c) => (-c, nid) }.take(topK)
        .iterator.zipWithIndex.map { case ((_, nid, c), i) => ServeHit(qid, i + 1, nid, c) }
    scored.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
  }

  case class Scd2In(key: Long, tsMicros: Long, tie: Long, attr: String)
  case class Scd2Open(attr: String, validFrom: Long)
  case class Scd2Closed(key: Long, attr: String, valid_from: Long, valid_to: Long)

  /** Streaming SCD2 — the twin of [[graft.operators.Scd2]]: each key's
    * open dimension version lives in state (O(keys)); a genuine attribute
    * change CLOSES the open version (emitted append-only) and opens the
    * next. Within a batch the fold sorts by (ts, tie) and keeps only the
    * last event of each instant, exactly the batch operator's per-instant
    * rule; no-op changes never emit. Contract: strictly increasing ts per
    * key ACROSS batches (the ingest-order contract every twin here
    * shares) — same-instant conflicts can only be resolved inside one
    * batch. The stream emits CLOSED versions; each key's current version
    * is its state (a batch view unions the two), so emitted rows ≡ the
    * batch operator's `valid_to IS NOT NULL` rows on any batch split.
    */
  def scd2Stream(spark: SparkSession, rows: Dataset[Scd2In]): Dataset[Scd2Closed] = {
    import spark.implicits._
    def fold(key: Long, it: Iterator[Scd2In],
             state: GroupState[Scd2Open]): Iterator[Scd2Closed] = {
      val sorted = it.toSeq.sortBy(e => (e.tsMicros, e.tie))
      // last event per instant — the batch operator's pass-1 rule
      val perInstant = sorted.zipWithIndex.filter { case (e, i) =>
        i == sorted.length - 1 || sorted(i + 1).tsMicros != e.tsMicros
      }.map(_._1)
      var st = state.getOption
      val out = Seq.newBuilder[Scd2Closed]
      perInstant.foreach { e =>
        st match {
          case Some(s) if s.attr == e.attr => // no-op change: version extends
          case Some(s) =>
            out += Scd2Closed(key, s.attr, s.validFrom, e.tsMicros)
            st = Some(Scd2Open(e.attr, e.tsMicros))
          case None =>
            st = Some(Scd2Open(e.attr, e.tsMicros))
        }
      }
      st.foreach(state.update)
      out.result().iterator
    }
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
  }

  /** Stream-stream interval join: purchases ⋈ clicks of the same user with
    * `c_ts ∈ [p_ts − 1h, p_ts)`. Watermarks on BOTH sides let Spark evict
    * join state: a click can only match purchases up to 1 h later, so click
    * state ages out at (watermark − 0), purchase state at (watermark − 1 h).
    * Column names are side-prefixed because stream-stream joins can't alias
    * through a common `user_id`.
    */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame =
    purchases.withWatermark("p_ts", watermarkDelay)
      .join(
        clicks.withWatermark("c_ts", watermarkDelay),
        expr("p_user = c_user AND c_ts >= p_ts - interval 1 hour AND c_ts < p_ts"))
}
