package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Vectors
import graft.operators.IvfIndex
import graft.sources.Tables

/** Persistent IVF index: build-once/serve-many, partition-pruned probes,
  * reload stability, and recall against the brute-force oracle.
  */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"
  private val base = Files.createTempDirectory("graft-ivf").toString + "/idx"

  private val NQueries = 30
  private val TopK = 10

  private lazy val index: IvfIndex =
    IvfIndex.build(spark, Tables.embeddings(spark, dir), base, cells = 16, lloydIters = 2)

  private def queries = Tables.embeddings(spark, dir)
    .where(col("vec_id") < NQueries)
    .select(col("vec_id").as("qid"), Vectors.toDouble(col("embedding")).as("v"))

  test("build persists the inverted lists AS the partition layout") {
    index
    val parts = new java.io.File(s"$base/assignments").listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
    assert(parts.length == 16, s"expected 16 cell partitions, got ${parts.length}")
    // every vector is in exactly one list
    val n = spark.read.parquet(s"$base/assignments").count()
    assert(n == Tables.embeddings(spark, dir).count())
  }

  test("query scan is partition-pruned to the probed cells") {
    index
    val plan = index.query(spark, queries, probes = 2, topK = TopK)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"probe scan should carry a cid partition filter:\n$plan")
  }

  test("recall@10: ≥ 0.3 at 2/16 probes, exactly 1.0 probing all cells; reload is stable") {
    index
    val got = index.query(spark, queries, probes = 2, topK = TopK)

    // brute-force truth on the same query block
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("bv"))
      .withColumn("bn2", Vectors.norm2D(col("bv")))
    val q = queries.withColumn("qn2", Vectors.norm2D(col("v")))
    val truth = q.join(e, col("vec_id") =!= col("qid"))
      .withColumn("cos", Vectors.cosinePre(col("v"), col("qn2"), col("bv"), col("bn2")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id"))))
      .where(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("nid"))

    // near-random synthetic embeddings have no cluster structure, so 2/16
    // probes is a weak-recall regime — the bound is a floor, not a target
    val hit = got.select("qid", "nid").intersect(truth).count().toDouble
    val recall = hit / truth.count()
    assert(recall >= 0.3, s"recall@$TopK = $recall")

    // probing every cell IS exact search: same tie-break as brute force,
    // so the id sets must match exactly (recall 1.0 by construction)
    val full = index.query(spark, queries, probes = 16, topK = TopK).select("qid", "nid")
    assert(full.exceptAll(truth).isEmpty && truth.exceptAll(full).isEmpty)

    val reloaded = IvfIndex.load(base).query(spark, queries, probes = 2, topK = TopK)
    assert(got.exceptAll(reloaded).isEmpty && reloaded.exceptAll(got).isEmpty)
  }

  test("assignment and probe frames are per-row maps: no Exchange, BroadcastExchange or Window") {
    index
    val cents = spark.read.parquet(s"$base/centroids").collect()
      .map(r => (r.getAs[Int]("cid"), r.getAs[Seq[Double]]("cv"), r.getAs[Double]("cn2"))).toSeq
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("n2", Vectors.norm2D(col("v")))
    Seq(
      "assignment" -> IvfIndex.assignTo(cents, e),
      "probe" -> index.probeCells(spark, queries, probes = 2),
      "s3 assignment" -> graft.queries.SimilarityQueries.ivfAssigned(spark, dir)
    ).foreach { case (name, df) =>
      df.collect() // the executed plan below is the final adaptive plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Window"), s"$name plan:\n$plan")
    }
  }

  test("a zero vector's cosine is NULL under the session default: s3's assignment and probe list rank it last") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    import spark.implicits._
    // s3's shape: BIGINT cell ids
    val cents = Seq((3L, Seq(1.0, 0.0), 1.0), (7L, Seq(0.0, 1.0), 1.0))
    val e = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 2.0))).toDF("vec_id", "v")
      .withColumn("n2", Vectors.norm2D(col("v")))
    val cell = IvfIndex.assignTo(cents, e).select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every cosine of the zero vector is NULL, so the tie goes to the lowest cid
    assert(cell == Map(0L -> 3L, 1L -> 7L))
    val probes = e.select(col("vec_id"), IvfIndex.probedCells(cents, col("v"), col("n2"), 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSeq }
    assert(probes == Map(0L -> Seq(3L, 7L), 1L -> Seq(7L, 3L)))
    val cos = Seq((Seq(0f, 0f), Seq(1f, 0f)), (Seq(0f, 2f), Seq(0f, 1f))).toDF("a", "b")
      .select(Vectors.cosine(col("a"), col("b"))).collect().map(r => Option(r.get(0)))
    assert(cos.toSeq == Seq(None, Some(1.0)))
  }

  test("a failed build propagates its write error and leaves no checkpoint resident") {
    // the base path is an existing regular file: the corpus-sized
    // assignments write fails, and so does the overlapped centroid write
    val blocked = Files.createTempFile("graft-ivf-blocked", "").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      IvfIndex.build(spark, Tables.embeddings(spark, dir), blocked, cells = 16, lloydIters = 2)
    }
    val gained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(gained.isEmpty, s"failed build left persistent RDDs ${gained.mkString(", ")}")
  }

  test("append: increment joins the lists without touching resident files; ≡ frozen-centroid rebuild") {
    val e = Tables.embeddings(spark, dir)
    val isInc = col("vec_id") % 5 === 0 // 20% arrives as the crawl increment
    val incBase = Files.createTempDirectory("graft-ivf-inc").toString + "/idx"
    val idx = IvfIndex.build(spark, e.where(!isInc), incBase, cells = 16, lloydIters = 2)

    // snapshot resident list files (path, size, mtime) before the append
    def listFiles() = {
      val root = new java.io.File(s"$incBase/assignments")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length, f.lastModified)).sorted
    }
    val resident = listFiles()
    val nBase = spark.read.parquet(s"$incBase/assignments").count()

    idx.append(spark, e.where(isInc))

    // resident files byte-identical and still present; only NEW files appeared
    val after = listFiles()
    assert(after.size > resident.size, "append should add files")
    assert(resident.forall(after.contains), "append must not rewrite or remove resident list files")
    assert(spark.read.parquet(s"$incBase/assignments").count() == e.count())
    assert(nBase == e.where(!isInc).count())

    // served results ≡ an index whose assignments were rebuilt from scratch
    // against the SAME (frozen) centroids — the invariant that makes the
    // incremental path safe; centroids here went through real Lloyd rounds
    val gotInc = idx.query(spark, queries, probes = 2, topK = TopK)
    val rebuiltBase = Files.createTempDirectory("graft-ivf-reb").toString + "/idx"
    // rebuild = copy the frozen centroids, reassign EVERYTHING against them
    spark.read.parquet(s"$incBase/centroids").write.parquet(s"$rebuiltBase/centroids")
    val all = e.select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("n2", Vectors.norm2D(col("v")))
    val cents = spark.read.parquet(s"$rebuiltBase/centroids")
    all.join(broadcast(cents))
      .withColumn("ccos", Vectors.cosinePre(col("v"), col("n2"), col("cv"), col("cn2")))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("ccos").desc, col("cid"))))
      .where(col("crank") === 1)
      .select(col("vec_id"), col("v"), col("n2"), col("cid"))
      .write.partitionBy("cid").parquet(s"$rebuiltBase/assignments")
    val gotReb = IvfIndex.load(rebuiltBase).query(spark, queries, probes = 2, topK = TopK)
    assert(gotInc.exceptAll(gotReb).isEmpty && gotReb.exceptAll(gotInc).isEmpty)
  }

  test("IVFPQ: codes compress the serving scan ≥ 4×; ADC recall floor at reRank=32; candidate scan never reads raw vectors") {
    val pqBase = Files.createTempDirectory("graft-ivfpq").toString + "/idx"
    val idx = IvfIndex.buildPq(spark, Tables.embeddings(spark, dir), pqBase,
      cells = 16, lloydIters = 0)

    // compression: the ADC stage's resident set (codes/) vs the raw lists
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      walk(new java.io.File(p))
    }
    val ratio = dirBytes(s"$pqBase/codes").toDouble / dirBytes(s"$pqBase/assignments")
    assert(ratio < 0.25, s"codes/ should be ≥ 4× smaller than the raw lists, got $ratio")

    // recall floor in the genuinely-pruning regime (reRank=32 ≪ probed
    // lists): the trained-codebook ADC ordering must keep most of the
    // exact-within-probed-cells top-k. Near-random synthetic embeddings
    // are PQ's worst case — the bound is a floor, not a target.
    val exact = idx.query(spark, queries, probes = 2, topK = TopK).select("qid", "nid")
    val pq32 = idx.queryPq(spark, queries, probes = 2, topK = TopK, reRank = 32)
      .select("qid", "nid")
    val recall = pq32.intersect(exact).count().toDouble / exact.count()
    assert(recall >= 0.6, s"ADC recall@$TopK at reRank=32 = $recall")

    // with reRank covering the probed lists, PQ+re-rank IS the exact serve
    val pqFull = idx.queryPq(spark, queries, probes = 2, topK = TopK, reRank = 1 << 20)
    val exactFull = idx.query(spark, queries, probes = 2, topK = TopK)
    assert(pqFull.exceptAll(exactFull).isEmpty && exactFull.exceptAll(pqFull).isEmpty)

    // the ADC candidate stage must scan codes only — no raw-vector column
    // in any scan below the ADC rank filter (the whole memory-bound point)
    val plan = idx.queryPq(spark, queries, probes = 2, topK = TopK, reRank = 32)
      .queryExecution.sparkPlan.toString
    val codesScans = plan.linesIterator.filter(_.contains("/codes")).toSeq
    assert(codesScans.nonEmpty && codesScans.forall(!_.contains("v#")),
      s"codes scan must not read raw vectors:\n${codesScans.mkString("\n")}")
  }

  /** Drift fixture: build on the corpus, then append `copies` jittered
    * clones of ONE cell's vectors under fresh ids — the hot-cell regime a
    * drifting crawl produces. Returns (index, full expected vector set).
    */
  private def driftedIndex(b: String, pq: Boolean, copies: Int = 5) = {
    val e = Tables.embeddings(spark, dir)
    val idx =
      if (pq) IvfIndex.buildPq(spark, e, b, cells = 16, lloydIters = 0)
      else IvfIndex.build(spark, e, b, cells = 16, lloydIters = 2)
    val hotSrc = spark.read.parquet(s"$b/assignments").where(col("cid") === 0)
      .select(col("vec_id"), col("v")).localCheckpoint()
    val reps = spark.range(1, copies + 1).select(col("id").as("r"))
    val inc = hotSrc.crossJoin(reps)
      .select((col("vec_id") + col("r") * 100000L).as("vec_id"),
        transform(col("v"), x => (x + col("r").cast("double") / 1000.0).cast("float"))
          .as("embedding"))
    idx.append(spark, inc)
    idx
  }

  private def listAll(root: String): Seq[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getPath, f.length, f.lastModified)).sorted
  }

  test("recenter: splits only the hot cell, leaves every cold list byte-identical, keeps exactly-once coverage") {
    val b = Files.createTempDirectory("graft-ivf-rc").toString + "/idx"
    val idx = driftedIndex(b, pq = false)
    val before = spark.read.parquet(s"$b/assignments")
      .select("vec_id").distinct().count()
    val nRows = spark.read.parquet(s"$b/assignments").count()

    // snapshot every list file, keyed by its cid directory
    val preFiles = listAll(s"$b/assignments")

    val retired = idx.recenter(spark, hotFactor = 2.0, lloydIters = 2)
    assert(retired.nonEmpty, "the drifted cell should be detected as hot")
    val retiredDirs = retired.map(id => s"cid=$id").toSet
    def inRetired(p: String) = retiredDirs.exists(d => p.contains(s"/$d/"))

    // cold directories byte-identical (same files, sizes, mtimes)
    val postFiles = listAll(s"$b/assignments")
    val coldPre = preFiles.filterNot(f => inRetired(f._1))
    assert(coldPre.forall(postFiles.contains),
      "recenter must not rewrite or touch cold cid= directories")
    // retired directories are gone
    assert(postFiles.forall(f => !inRetired(f._1)), "retired hot dirs must be deleted")

    // exactly-once coverage preserved: same rows, same distinct ids, no dups
    val after = spark.read.parquet(s"$b/assignments")
    assert(after.count() == nRows)
    assert(after.select("vec_id").distinct().count() == before)
    // hot cell's mass went into MULTIPLE new sub-cells
    val newCells = after.select("cid").distinct().count()
    assert(newCells > 16 - retired.size, s"expected sub-cells above the retired ones, got $newCells")
    // centroids table matches the live partition layout
    val centCids = spark.read.parquet(s"$b/centroids").select("cid").orderBy("cid").collect().map(_.getInt(0)).toSeq
    val listCids = after.select("cid").distinct().orderBy("cid").collect().map(_.getInt(0)).toSeq
    assert(centCids == listCids)
  }

  test("recenter: probe-all is exact search after the split; a balanced index is a no-op") {
    val b = Files.createTempDirectory("graft-ivf-rc2").toString + "/idx"
    val idx = driftedIndex(b, pq = false)
    idx.recenter(spark, hotFactor = 2.0, lloydIters = 2)

    val cellCount = spark.read.parquet(s"$b/centroids").count().toInt
    val got = idx.query(spark, queries, probes = cellCount, topK = TopK).select("qid", "nid")

    // brute-force truth over the full (drifted) vector set
    val e = spark.read.parquet(s"$b/assignments")
      .select(col("vec_id"), col("v").as("bv"), col("n2").as("bn2"))
    val q = queries.withColumn("qn2", Vectors.norm2D(col("v")))
    val truth = q.join(e, col("vec_id") =!= col("qid"))
      .withColumn("cos", Vectors.cosinePre(col("v"), col("qn2"), col("bv"), col("bn2")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("cos").desc, col("vec_id"))))
      .where(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("nid"))
    assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty)

    // second pass: nothing hot anymore at the same threshold factor —
    // ideally Nil; at minimum it must converge without losing coverage
    val preCount = spark.read.parquet(s"$b/assignments").count()
    idx.recenter(spark, hotFactor = 4.0, lloydIters = 1)
    assert(spark.read.parquet(s"$b/assignments").count() == preCount)
  }

  test("centroid memo: build, recenter, then query on one instance == the reloaded index's query") {
    val b = Files.createTempDirectory("graft-ivf-memo").toString + "/idx"
    val idx = driftedIndex(b, pq = false)
    assert(idx.recenter(spark, hotFactor = 2.0, lloydIters = 2).nonEmpty)
    val got = idx.query(spark, queries, probes = 2, topK = TopK)
    val reloaded = IvfIndex.load(b).query(spark, queries, probes = 2, topK = TopK)
    assert(got.exceptAll(reloaded).isEmpty && reloaded.exceptAll(got).isEmpty)
  }

  test("recenter keeps codes/ in lockstep: moved vectors re-encode under frozen codebooks, PQ serve stays exact") {
    val b = Files.createTempDirectory("graft-ivf-rc3").toString + "/idx"
    val idx = driftedIndex(b, pq = true)
    val preCodes = spark.read.parquet(s"$b/codes")
      .select(col("vec_id"), col("codes")).localCheckpoint()

    val retired = idx.recenter(spark, hotFactor = 2.0, lloydIters = 1)
    assert(retired.nonEmpty)

    // every vector still has exactly one codes row, in the same cid= dir
    // as its raw list row, and the CODES THEMSELVES are unchanged (they
    // depend on the vector, not the cell — frozen codebooks)
    val codes = spark.read.parquet(s"$b/codes")
    val asg = spark.read.parquet(s"$b/assignments")
    assert(codes.count() == asg.count())
    assert(codes.select("vec_id", "cid").exceptAll(asg.select("vec_id", "cid")).isEmpty)
    assert(codes.select("vec_id", "codes").exceptAll(preCodes).isEmpty,
      "moved rows must carry identical codes under the frozen codebooks")

    // full-reRank PQ over the recentered index ≡ the exact serve
    val cellCount = spark.read.parquet(s"$b/centroids").count().toInt
    val pq = idx.queryPq(spark, queries, probes = cellCount, topK = TopK, reRank = 1 << 20)
    val exact = idx.query(spark, queries, probes = cellCount, topK = TopK)
    assert(pq.exceptAll(exact).isEmpty && exact.exceptAll(pq).isEmpty)
  }

  test("IVFPQ append keeps codes/ in lockstep: ADC serve sees the increment, full-reRank PQ ≡ exact") {
    val e = Tables.embeddings(spark, dir)
    val isInc = col("vec_id") % 5 === 0
    val pqBase = Files.createTempDirectory("graft-ivfpq-app").toString + "/idx"
    val idx = IvfIndex.buildPq(spark, e.where(!isInc), pqBase, cells = 16, lloydIters = 0)
    idx.append(spark, e.where(isInc))

    // codes were encoded for every appended vector with the frozen codebooks
    assert(spark.read.parquet(s"$pqBase/codes").count() ==
      spark.read.parquet(s"$pqBase/assignments").count())

    // PQ serve over the appended index, reRank covering the probed lists,
    // must equal the exact serve (which IvfIndexSpec already proves ≡ a
    // frozen-centroid rebuild) — and must be able to RETURN appended ids
    val pq = idx.queryPq(spark, queries, probes = 2, topK = TopK, reRank = 1 << 20)
    val exact = idx.query(spark, queries, probes = 2, topK = TopK)
    assert(pq.exceptAll(exact).isEmpty && exact.exceptAll(pq).isEmpty)
    assert(pq.where(col("nid") % 5 === 0).count() > 0,
      "appended vectors never surfaced through the ADC path")
  }
}
