package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, GraftCacheBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Intermediates
import graft.functions.Vectors

/** Persistent IVF (inverted-file) ANN index — the production form of the
  * s3 query shape (`SimilarityQueries.s3IvfTopK` builds its index inline;
  * a real retrieval system builds ONCE and serves many query batches).
  *
  * Layout under `base/`:
  *  - `centroids/`   — (cid INT, cv ARRAY<DOUBLE>, cn2 DOUBLE): k cell
  *    centers in one file. k is a parameter (≤ [[IvfIndex.MaxCells]]), so
  *    the table is driver state: it reaches every task as a literal.
  *  - `assignments/` — (vec_id, v ARRAY<DOUBLE>, n2, cid) PARTITIONED BY
  *    cid: the inverted lists ARE the partition layout, so probing p of k
  *    cells reads p/k of the data — partition pruning does the "inverted
  *    file" seek, no row filter needed.
  *
  * Build = deterministic seeding (bottom-k by md5 of vec_id — a uniform
  * pseudo-random pick that is reproducible across runs/engines) + a few
  * Lloyd iterations. Assignment is one per-row expression against the
  * centroid literal ([[IvfIndex.assignTo]]: no join, no shuffle); the
  * centroid update is posexplode → (cid, dim) average → collect_list,
  * two shuffles of k·d cells per round, collected back to the driver
  * through [[graft.Intermediates.local]] — the standard distributed
  * k-means step. At 100 TB you raise `cells` (lists stay ~constant size)
  * and the build cost stays linear per iteration.
  */
final class IvfIndex private (val base: String) {

  /** Codebooks trained-and-written by THIS instance's buildPq — serving
    * through the memo skips one parquet read + collect per query batch.
    * Never populated on a [[IvfIndex.load]]ed instance (those read disk),
    * and invalidated by nothing because this instance is the only writer.
    */
  @volatile private[operators] var cbMemo: Seq[(Array[Array[Double]], Int)] = null

  private def codebooks(spark: SparkSession): Seq[(Array[Array[Double]], Int)] = {
    val m = cbMemo
    if (m != null) m else IvfIndex.readCodebooks(spark, base)
  }

  /** Centroids written by THIS instance's build or recenter — the
    * [[cbMemo]] rule: [[IvfIndex.load]] never sets it (a loaded index
    * reads `centroids/`), and recenter, the only verb that rewrites the
    * table, refreshes it after its write.
    */
  @volatile private[operators] var centMemo: IvfIndex.Cents = null

  private def centroids(spark: SparkSession): IvfIndex.Cents = {
    val m = centMemo
    if (m != null) m else IvfIndex.readCentroids(spark, base)
  }

  private def assignments(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$base/assignments")

  /** Incremental index maintenance: assign a crawl increment
    * (vec_id BIGINT, embedding ARRAY<FLOAT>) to the EXISTING coarse
    * centroids and append it to the `cid=` inverted-list partitions.
    * Resident list files are never read, rewritten, or moved — the write
    * adds new parquet files inside the touched `cid=` directories
    * (SaveMode.Append under partitionBy), so an append costs O(Δ·k·d)
    * assignment + O(Δ) write regardless of corpus size, and concurrent
    * readers keep serving the old lists until the new files land.
    *
    * Centroids are NOT re-fit: with frozen centroids,
    * `build(base); append(Δ)` produces exactly the assignment
    * `build(base ⊎ Δ)` would with the same centroids (`IvfIndexSpec`
    * pins it; `s7_incremental_ivf` oracle-gates the served results).
    * Cell DRIFT is the operator's contract boundary — see SCALE.md for
    * the re-centering policy (rebuild when the appended mass or the
    * assignment-cosine distribution degrades past threshold).
    *
    * Exactly-once: a retried append would double the increment's rows;
    * production runs wrap the append in a manifest commit (the
    * `VersionedStore` pointer pattern) or dedup on vec_id at read.
    */
  def append(spark: SparkSession, increment: DataFrame): Unit = {
    graft.GraftSession.prepare(spark)
    val e = increment
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("n2", Vectors.norm2D(col("v")))
    val assigned = IvfIndex.assignTo(centroids(spark), e)
    assigned.write.mode(SaveMode.Append).partitionBy("cid").parquet(s"$base/assignments")
    // a PQ index must keep codes/ in lockstep or the ADC candidate scan
    // silently stops seeing appended vectors: encode the increment with
    // the FROZEN codebooks (same invariant as frozen centroids — append ≡
    // rebuild-with-same-codebooks; codebook re-training belongs to the
    // same rebuild trigger as re-centering) and append into the same
    // cid= partitions
    if (graft.sources.FsUtil.listDir(spark, base).contains("codebooks")) {
      val cb = codebooks(spark)
      val flat = cb.map(_._1).flatMap(_.flatMap(_.toSeq))
      assigned.select(col("vec_id"),
          call_function("graft_pq_encode", IvfIndex.unitQ,
            typedLit(flat.toSeq), lit(cb.length)).as("codes"),
          col("cid"))
        .write.mode(SaveMode.Append).partitionBy("cid").parquet(s"$base/codes")
    }
  }

  /** Re-centering maintenance after append drift — the operator behind
    * SCALE.md's policy row. [[append]] assigns against frozen centroids
    * forever, so a drifting crawl grows a few HOT cells without bound:
    * probe selectivity decays (one probed cell reads an ever-larger list)
    * while cold cells stay byte-identical for years. This verb restores
    * balance LOCALLY:
    *
    *  1. DETECT from list sizes — parquet footer row counts per `cid=`
    *     directory, a driver-side metadata read, no Spark job. A cell is
    *     hot when its list exceeds `hotFactor` × the mean.
    *  2. RE-LLOYD only the hot cells' vectors (a partition-pruned read of
    *     exactly those directories): deterministic bottom-k-by-md5
    *     seeding and the same per-row-assign/average iteration as
    *     [[IvfIndex.build]], with Σ⌈size/mean⌉ new sub-cells numbered
    *     ABOVE every existing cid, so no live cell's id or files are
    *     reused.
    *  3. REWRITE only the touched partitions: new `cid=` directories are
    *     appended, the hot ones deleted; every cold directory is left
    *     byte-identical (`IvfIndexSpec` pins file lists + mtimes). If PQ
    *     codes exist, the moved vectors are re-encoded with the FROZEN
    *     codebooks into matching new `codes/cid=` directories — codes
    *     depend only on the vector, so moved rows carry identical codes
    *     and the ADC scan keeps seeing every vector (codebook re-training
    *     itself stays a full-rebuild decision: codebooks are corpus
    *     statistics, not per-cell state).
    *
    * Centroids are rewritten from driver rows (≤ [[IvfIndex.MaxCells]],
    * refused above it before anything is written): cold rows verbatim, hot
    * rows replaced by the new sub-cells. Returns the retired hot cids (empty =
    * nothing hot, nothing touched).
    *
    * SINGLE-MAINTAINER VERB (the vacuum contract): between the append of
    * the new directories and the delete of the hot ones a concurrent
    * reader would double-count the moved vectors — production wraps
    * recenter in the same manifest commit as [[append]]'s exactly-once
    * note. Crash convergence: re-running recenter converges (hot dirs
    * either still exist and are re-split, or are gone and the new cells
    * are already live; the centroid rewrite is last before the deletes).
    */
  def recenter(spark: SparkSession, hotFactor: Double = 2.0,
               lloydIters: Int = 2): Seq[Int] = {
    graft.GraftSession.prepare(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val aBase = new org.apache.hadoop.fs.Path(s"$base/assignments")
    val fs = aBase.getFileSystem(conf)
    // Footer reads run on a bounded pool: a mature index holds thousands
    // of list files and a SERIAL footer loop was the dominant recenter
    // cost at the ×100 probe (1053 files ≈ half the wall). Parallel opens
    // are safe — footers are immutable once written — and an object store
    // serves them at far higher aggregate throughput than one-at-a-time.
    import scala.collection.parallel.CollectionConverters._
    val dirs = fs.listStatus(aBase)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .toSeq
    // Two single-level parallel stages, never nested: nesting dirs.par
    // around files.par shares the one FooterPool, and ForkJoin join-assist
    // keeps it correct but leaves outer tasks blocked on inner sums —
    // flat work lists keep all 16 threads on real I/O.
    val dpar = dirs.par
    dpar.tasksupport = IvfIndex.FooterPool
    val listed: Seq[(Int, Seq[org.apache.hadoop.fs.Path])] = dpar.map { st =>
      val cid = st.getPath.getName.stripPrefix("cid=").toInt
      (cid, fs.listStatus(st.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).toSeq)
    }.seq
    val fpar = listed.flatMap { case (cid, fl) => fl.map(cid -> _) }.par
    fpar.tasksupport = IvfIndex.FooterPool
    val counts: Map[Int, Long] = fpar.map { case (cid, p) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try (cid, r.getRecordCount) finally r.close()
    }.seq.groupBy(_._1).map { case (cid, xs) => cid -> xs.map(_._2).sum }
    val sizes = listed.map { case (cid, _) => (cid, counts.getOrElse(cid, 0L)) }
    require(sizes.nonEmpty, s"$base has no inverted lists to recenter")
    val mean = sizes.map(_._2).sum.toDouble / sizes.size
    val hot = sizes.filter(_._2 > hotFactor * mean).sortBy(_._1)
    if (hot.isEmpty) return Nil
    val hotIds = hot.map(_._1)
    val maxCid = sizes.map(_._1).max
    val nNew = hot.map { case (_, n) => math.max(2, math.ceil(n / mean).toInt) }.sum

    // partition-pruned read of exactly the hot lists
    val vecs = assignments(spark)
      .where(col("cid").isin(hotIds.map(Integer.valueOf): _*))
      .select("vec_id", "v", "n2")
      .transform(Intermediates.checkpoint) // the delete below must not re-trigger this scan
    // cold centroids verbatim + new sub-cells, all driver rows: the
    // overwrite below never reads the path it writes
    val cold = centroids(spark).filterNot(c => hotIds.contains(c._1))
    if (cold.size + nNew > IvfIndex.MaxCells)
      throw new graft.ContractRefusedException(
        s"recenter of $base refused: ${cold.size} cold + $nNew new cells exceed the " +
          s"driver-held centroid bound ${IvfIndex.MaxCells}; rebuild with fewer cells.")
    var cents = IvfIndex.seeds(vecs, "ivf:rc:", nNew, maxCid + 1)
    (1 to lloydIters).foreach(_ => cents = IvfIndex.lloydStep(cents, vecs))
    val newCentroids = (cold ++ cents).sortBy(_._1)

    val reassigned = IvfIndex.assignTo(cents, vecs)
    reassigned.write.mode(SaveMode.Append).partitionBy("cid").parquet(s"$base/assignments")
    val hasPq = graft.sources.FsUtil.listDir(spark, base).contains("codebooks")
    if (hasPq) {
      val cb = codebooks(spark)
      reassigned.select(col("vec_id"),
          call_function("graft_pq_encode", IvfIndex.unitQ,
            typedLit(cb.map(_._1).flatMap(_.flatMap(_.toSeq)).toSeq), lit(cb.length)).as("codes"),
          col("cid"))
        .write.mode(SaveMode.Append).partitionBy("cid").parquet(s"$base/codes")
    }
    IvfIndex.writeCentroids(spark, newCentroids, base)
    centMemo = newCentroids
    hotIds.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/assignments/cid=$id"), true)
      if (hasPq) fs.delete(new org.apache.hadoop.fs.Path(s"$base/codes/cid=$id"), true)
    }
    hotIds
  }

  /** Top-k cosine neighbors for `queries` (qid, v ARRAY<DOUBLE>), probing
    * `probes` cells per query. The probed-cell union is collected to the
    * driver (bounded by the centroid count, NOT the data — ≤ k ints) and
    * pushed into the assignment scan as a partition filter, so the scan
    * reads only the probed inverted lists.
    */
  def query(spark: SparkSession, queries: DataFrame, probes: Int = 2, topK: Int = 10): DataFrame = {
    graft.GraftSession.prepare(spark)
    val probed = probeCells(spark, queries, probes)
    val cellIds = probedIds(probed)
    val lists = assignments(spark).where(col("cid").isin(cellIds: _*))

    probed.join(lists, Seq("cid")).where(col("vec_id") =!= col("qid"))
      .withColumn("cos", Vectors.cosinePre(col("qv"), col("qn2"), col("v"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .where(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
  }

  /** Shared coarse probe: (qid, qv, qn2, cid) — the `probes` nearest cells
    * per query by centroid cosine, one generator row per probed cell.
    */
  private[graft] def probeCells(spark: SparkSession, queries: DataFrame, probes: Int): DataFrame = {
    val cents = centroids(spark)
    queries.select(col("qid"), col("v").as("qv"), Vectors.norm2D(col("v")).as("qn2"))
      .select(col("qid"), col("qv"), col("qn2"),
        IvfIndex.probedCells(cents, col("qv"), col("qn2"), probes).as("cid"))
  }

  /** The union of probed cells (≤ k ids), pushed into the list scans as a
    * partition filter. */
  private def probedIds(probed: DataFrame): Array[Integer] =
    Intermediates.local(probed.select("cid").distinct(), IvfIndex.MaxCells,
      s"probed cells of $base").map(r => Integer.valueOf(r.getInt(0)))

  /** IVFPQ serve: ADC candidate scan over the product-quantized `codes/`
    * lists (written by [[IvfIndex.buildPq]]), exact cosine re-rank of the
    * per-query top-`reRank` candidates against raw vectors.
    *
    * This is the memory-bound serving shape [[query]] can't reach: the
    * candidate stage scans ONLY (vec_id, codes) — M ints per vector
    * instead of the d-double embedding (16× smaller on disk for d=64,
    * M=8; the resident set of an ADC server is the codes, not the
    * corpus) — and scores each candidate with [[graft.functions.PqAdcSum]]
    * (Σ_m lut[m·Ks + code_m], a codegen'd loop over one precomputed
    * per-query lookup table). Only the ≤ reRank survivors per query
    * touch raw vectors, via a vec_id equi-join against the probed
    * `cid=` partitions.
    *
    * Vectors are L2-normalized before encoding, so the ADC value
    * approximates ‖q̂ − x̂‖² = 2 − 2·cos(q, x): ascending ADC ≡ descending
    * approximate cosine, which makes the candidate order compatible with
    * the exact cosine re-rank. Recall is governed by reRank (exact within
    * the probed cells once reRank ≥ true-top-k's ADC rank) —
    * `IvfIndexSpec` pins the floor; the s9 oracle hash-gates candidate
    * recall = 1 at gate scale.
    */
  def queryPq(spark: SparkSession, queries: DataFrame, probes: Int = 2, topK: Int = 10,
              reRank: Int = 32): DataFrame = {
    graft.GraftSession.prepare(spark)
    val probed = probeCells(spark, queries, probes)
    val cellIds = probedIds(probed)
    def pruned(sub: String) = spark.read.parquet(s"$base/$sub").where(col("cid").isin(cellIds: _*))

    // per-query LUT: ‖q̂_m − cw_{m,c}‖² for every (m, c), flattened row-major —
    // M·Ks doubles computed once per query row, before the candidate join
    // (the graft_pq_dists kernel — same flattened-codebook loop as encode)
    val cb = codebooks(spark)
    // same quantized-unit domain the codes were trained/encoded in
    val qu = transform(col("qv"), x => round(x / sqrt(col("qn2")) * lit(10000.0)))
    val lutExpr = call_function("graft_pq_dists", qu,
      typedLit(cb.map(_._1).flatMap(_.flatMap(_.toSeq)).toSeq), lit(cb.length))

    val cand = probed.withColumn("lut", lutExpr)
      .join(pruned("codes"), Seq("cid")).where(col("vec_id") =!= col("qid"))
      .withColumn("adc", call_function("graft_adc", col("codes"), col("lut")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc"), col("vec_id"))))
      .where(col("crk") <= reRank)
      .select(col("qid"), col("qv"), col("qn2"), col("vec_id"))

    cand.join(pruned("assignments"), Seq("vec_id"))
      .withColumn("cos", Vectors.cosinePre(col("qv"), col("qn2"), col("v"), col("n2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
      .where(col("rank") <= topK)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
  }
}

object IvfIndex {

  /** A driver-held centroid table: (cid, cv, cn2) per cell, by cid. */
  type Cents = Seq[(Int, Seq[Double], Double)]

  /** Bound on a driver-held centroid table (every collect goes through
    * [[Intermediates.local]] with it). The table ships as a literal inside
    * every assignment and probe task, so the bound is a per-task byte
    * budget: 1,024 cells × 768 dims × 8 B ≈ 6.3 MB at dim 768 (the
    * battery's 16 cells × 64 dims are 8 KB).
    */
  val MaxCells = 1024

  /** Two-thread pool for overlapping a build's independent write actions
    * (guide §2.6) — concurrent jobs from one SparkSession are supported;
    * descriptions/groups are thread-local so UI labels stay correct.
    */
  private[operators] lazy val WriteEc =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2,
        (r: Runnable) => {
          // DAEMON threads: a non-daemon pool pins the JVM open after
          // main() returns (caught live — Verify hung at DestroyJavaVM
          // with pool-*-thread-* parked in getTask)
          val t = new Thread(r, "graft-ivf-write")
          t.setDaemon(true)
          t
        }))

  /** Bounded pool for parallel parquet-footer metadata reads (recenter's
    * hot-cell detection) — footers are immutable, so concurrent opens are
    * safe, and 16-way keeps a thousands-of-files index's detection pass
    * I/O-bound instead of latency-bound. Lazy: a JVM that never calls
    * recenter never creates the pool's threads.
    */
  private[operators] lazy val FooterPool =
    new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(16))

  /** Build and persist an index over (vec_id BIGINT, embedding ARRAY<FLOAT>). */
  def build(spark: SparkSession, embeddings: DataFrame, base: String,
            cells: Int = 16, lloydIters: Int = 2): IvfIndex = {
    graft.GraftSession.prepare(spark)
    val e = embeddings
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("n2", Vectors.norm2D(col("v")))

    var cents = seeds(e, "ivf:", cells, 0)
    (1 to lloydIters).foreach(_ => cents = lloydStep(cents, e))
    // the two persisted outputs are independent of each other (the
    // assignment reads the driver-held cents, not the centroids file) —
    // overlap them so the tiny centroid write's job+commit latency hides
    // under the corpus-sized assignment pass (guide §2.6)
    overlapped(spark)(writeCentroids(spark, cents, base)) {
      assignTo(cents, e).write.mode(SaveMode.Overwrite)
        .partitionBy("cid").parquet(s"$base/assignments")
    }
    val idx = new IvfIndex(base)
    idx.centMemo = cents
    idx
  }

  /** Deterministic uniform seeding over (vec_id, v, n2): bottom-`n` by
    * md5(prefix ‖ vec_id) (the n6 rule), COLLECTED as a TakeOrdered —
    * per-partition top-k map-side, driver merge of ≤ n rows. cids are
    * `firstCid` upward in ascending md5 order, numbered driver-side (hex
    * md5 compares the same in UTF8String and Java String).
    */
  private def seeds(e: DataFrame, prefix: String, n: Int, firstCid: Int): Cents =
    Intermediates.local(
      e.withColumn("h", md5(concat(lit(prefix), col("vec_id").cast("string"))))
        .orderBy("h").limit(n)
        .select(col("h"), col("v"), col("n2")), MaxCells, s"IVF seeds ($prefix)")
      .sortBy(_.getString(0)).toSeq.zipWithIndex.map {
        case (r, i) => (firstCid + i, r.getSeq[Double](1), r.getDouble(2))
      }

  /** The persisted centroid table, read back through [[Intermediates.local]]. */
  private def readCentroids(spark: SparkSession, base: String): Cents =
    Intermediates.local(spark.read.parquet(s"$base/centroids").select("cid", "cv", "cn2"),
      MaxCells, s"IVF centroids at $base").toSeq.map(centRow).sortBy(_._1)

  private def centRow(r: Row) = (r.getInt(0), r.getSeq[Double](1), r.getDouble(2))

  /** One file: the table is a local relation, which would otherwise write
    * one file per task. */
  private def writeCentroids(spark: SparkSession, cents: Cents, base: String): Unit = {
    import spark.implicits._
    cents.toDF("cid", "cv", "cn2").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$base/centroids")
  }

  /** Run `main` on the caller's thread while `side` runs on [[WriteEc]]
    * under the caller's job-local properties. `side` always finishes before
    * this returns, so no write outlives a failed build; `main`'s exception
    * wins, and `side`'s propagates when `main` succeeded.
    */
  private def overlapped(spark: SparkSession)(side: => Unit)(main: => Unit): Unit = {
    val f = GraftCacheBridge.onPool(spark, WriteEc)(side)
    try main finally scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
  }

  /** One Lloyd update: assign, then per-(cid, dim) average back into
    * centroid vectors, collected to the driver — shared by [[build]] and
    * [[IvfIndex.recenter]]'s local re-fit. A cell no vector is assigned to
    * drops out.
    */
  private def lloydStep(cents: Cents, e: DataFrame): Cents =
    Intermediates.local(
      assignTo(cents, e)
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim").agg(avg("x").as("x"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("dim"), col("x")))).as("dx"))
        .select(col("cid"), transform(col("dx"), s => s.getField("x")).as("cv"))
        .withColumn("cn2", Vectors.norm2D(col("cv"))), MaxCells, "IVF Lloyd round")
      .toSeq.map(centRow).sortBy(_._1)

  /** Per-cell (ccos, ncid = −cid) structs of one vector (v, n2) against a
    * driver-held centroid table, shipped as one literal array of
    * (cid, cv, cn2) structs (`cid` is INT for an index, BIGINT for s3's
    * vec_id cells). Struct order is the cell ranking every IVF path
    * shares: highest cosine first (NaN greatest; a zero norm's cosine is
    * NULL and ranks last), ties to the lowest cid.
    */
  private def cellScores[C: TypeTag](cents: Seq[(C, Seq[Double], Double)],
                                     v: Column, n2: Column): Column =
    transform(typedLit(cents), c => struct(
      Vectors.cosinePre(v, n2, c.getField("_2"), c.getField("_3")).as("ccos"),
      (-c.getField("_1")).as("ncid")))

  /** Generator of the `probes` nearest cells' ids, best first — the
    * per-query probe list as a per-row sort of [[cellScores]].
    */
  private[graft] def probedCells[C: TypeTag](cents: Seq[(C, Seq[Double], Double)],
                                             v: Column, n2: Column, probes: Int): Column =
    explode(transform(slice(sort_array(cellScores(cents, v, n2), asc = false), 1, probes),
      s => -s.getField("ncid")))

  /** Nearest-centroid assignment of (vec_id, v, n2) rows: a per-row argmax
    * over [[cellScores]] — no join, no shuffle — shared by build
    * iterations, the final assignment write, incremental
    * [[IvfIndex.append]], recenter and s3.
    *
    * Contract: `vec_id` is unique in `e`; every input row yields one
    * output row.
    */
  private[graft] def assignTo[C: TypeTag](cents: Seq[(C, Seq[Double], Double)],
                                          e: DataFrame): DataFrame =
    e.withColumn("cid", -array_max(cellScores(cents, col("v"), col("n2"))).getField("ncid"))

  /** Quantized unit vector: round(x / ‖v‖ · 10⁴) as integer-valued
    * doubles — the s5 fixed-point discipline applied to the PQ domain, so
    * every distance, sum, and floor-mean in training and encoding is
    * exact 64-bit arithmetic (deterministic across partitionings).
    */
  private def unitQ: Column =
    transform(col("v"), x => round(x / sqrt(col("n2")) * lit(10000.0)))

  /** Per-subspace argmin codes against driver-held codebooks — the
    * [[graft.functions.PqCodes]] kernel (`graft_pq_encode`): one codegen
    * loop over the flattened codebook literal, exact integer-valued
    * squared L2, first-minimum tie-break = lowest code. (The composable
    * m·ks `least(struct(dist, c))` tree of `graft_dot(slice(...))` terms
    * computed the same values but cost ~1.5 s of analysis + Janino
    * compilation PER TRAINING ROUND — every round is a new codebook,
    * hence a new compile.)
    */
  private def codesOf(cb: Array[Array[Array[Double]]], uq: Column): Column =
    call_function("graft_pq_encode", uq,
      typedLit(cb.flatten.flatten.toSeq), lit(cb.length))

  /** IVFPQ build: the standard coarse index plus product-quantized codes.
    *
    * Per-subspace codebooks are TRAINED with `pqIters` deterministic
    * Lloyd rounds over the quantized unit subvectors (init = the `ks`
    * lowest vec_ids, the s3/s5 seed rule; updates are exact integer sums
    * + floor means, assignment argmin ties to the lowest code — fully
    * reproducible, no RNG). Untrained seed codebooks measured 2.7×
    * worse candidate recall at sf0.1 (reRank 256 vs 96 for zero loss).
    * Every vector is then encoded as M = dim/ds argmins and
    * (vec_id, codes) land in `codes/` under the SAME `cid=` partition
    * layout as the raw lists, so the ADC scan partition-prunes
    * identically while reading M ints instead of d doubles per row.
    * Codebooks persist under `codebooks/` (M·Ks·ds doubles — always
    * driver-sized).
    *
    * Scale: each training round is one argmin scan + one (M·Ks·ds)-cell
    * aggregation — at 100 TB train on a corpus sample (PQ codebooks are
    * statistics, not indexes; 10⁶ vectors saturate them) and encode the
    * full corpus with the frozen codebooks in the one pass that writes
    * the lists.
    */
  def buildPq(spark: SparkSession, embeddings: DataFrame, base: String,
              cells: Int = 16, lloydIters: Int = 2, m: Int = 8, ks: Int = 16,
              pqIters: Int = 3): IvfIndex = {
    val idx = build(spark, embeddings, base, cells, lloydIters)
    val assigned = spark.read.parquet(s"$base/assignments")

    // ONE checkpointed (vec_id, cid, uq) relation feeds seed selection,
    // every training round, AND the final encode write: previously the
    // seed collect and the codes write each re-listed and re-scanned the
    // assignments parquet (3 reads + their AQE sub-jobs per build — the
    // r17 verdict's job-count item); vec_id/cid are 12 bytes next to the
    // d-double uq, so carrying them through the checkpoint is free.
    val uqDf = Intermediates.checkpoint(
      assigned.select(col("vec_id"), col("cid"), unitQ.as("uq")))

    val trained = try {
      // init: the ks lowest vec_ids' quantized unit subvectors (driver-sized)
      val seeds = uqDf.orderBy("vec_id").limit(ks)
        .select(col("uq"))
        .collect().map(_.getSeq[Double](0).toArray)
      require(seeds.length == ks, s"PQ codebook needs $ks seed vectors, corpus has ${seeds.length}")
      val dim = seeds.head.length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val ds = dim / m
      var cb: Array[Array[Array[Double]]] =
        Array.tabulate(m)(mi => seeds.map(_.slice(mi * ds, (mi + 1) * ds)))

      for (_ <- 1 to pqIters) {
        // one pass: argmin codes for all M subspaces, then per-(m, code, dim)
        // exact integer sums — M·Ks·ds cells to the driver, never data-sized
        val cbCells = uqDf.select(codesOf(cb, col("uq")).as("codes"), col("uq"))
          .select(posexplode(col("codes")).as(Seq("mi", "c")), col("uq"))
          .select(col("mi"), col("c"),
            posexplode(slice(col("uq"), col("mi") * ds + 1, lit(ds))).as(Seq("d", "x")))
          .groupBy("mi", "c", "d")
          .agg(sum("x").as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cb.map(_.map(_.clone())) // empty cells keep their codeword
        cbCells.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            math.floor(r.getDouble(3) / r.getLong(4))
        }
        cb = next
      }

      import spark.implicits._
      // codebooks (driver-sized, one file) and codes (corpus-sized) writes
      // are independent — overlap them (guide §2.6)
      overlapped(spark) {
        (for (mi <- 0 until m; c <- 0 until ks) yield (mi, c, cb(mi)(c).toSeq))
          .toDF("m", "c", "cw").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/codebooks")
      } {
        uqDf.select(col("vec_id"), codesOf(cb, col("uq")).as("codes"), col("cid"))
          .write.mode(SaveMode.Overwrite).partitionBy("cid").parquet(s"$base/codes")
      }
      cb
    } finally Intermediates.release(uqDf)
    // the codebooks this instance just trained and wrote — serving through
    // the memo skips one read+collect job per query batch (disk stays the
    // source of truth: a LOADED index still reads it)
    idx.cbMemo = trained.toSeq.zipWithIndex
    idx
  }

  /** Load the persisted codebooks as (codewords-by-c, m) per subspace —
    * bounded by M·Ks·ds doubles, never data-sized.
    */
  private[operators] def readCodebooks(spark: SparkSession, base: String)
      : Seq[(Array[Array[Double]], Int)] =
    spark.read.parquet(s"$base/codebooks").orderBy("m", "c").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (mi, rows) =>
        (rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray), mi)
      }

  def load(base: String): IvfIndex = new IvfIndex(base)
}
