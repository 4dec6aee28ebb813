package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.functions.Vectors
import graft.operators.{ConnectedComponents, IvfIndex, RangeJoin, Upsert}

/** Property-based checks for the round-2 operators: each against a pure
  * Scala model on arbitrary inputs — band joins against the quadratic
  * filter, upsert against the map-override model (plus idempotence),
  * connected components against union-find, IVF cell ranking against the
  * join + aggregate / window form it replaced.
  */
object OperatorProps extends Properties("graft-operators") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkTestSession.spark
  private def sc_ = spark

  private def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  // --- RangeJoin ---

  private val base = 1700000000000000L // ~2023, microseconds
  private val eventGen: Gen[(Long, Long, Long)] = for {
    id <- Gen.choose(0L, 1000L)
    k <- Gen.choose(0L, 2L)           // tight key domain forces matches
    off <- Gen.choose(0L, 100L)       // micros offsets inside a small band
  } yield (id, k, base + off)
  private val sideGen = Gen.listOfN(10, eventGen)
  private val bandGen: Gen[(Long, Long)] = for {
    lo <- Gen.choose(-60L, 30L)
    w <- Gen.choose(1L, 80L)
  } yield (lo, lo + w)

  property("bandJoin == quadratic theta-join model") =
    forAll(sideGen, sideGen, bandGen) { (l, r, band) =>
      val spark = sc_
      import spark.implicits._
      val (lo, hi) = band
      val ldf = l.map { case (id, k, us) => (id, k, ts(us)) }.toDF("lid", "k", "lts")
      val rdf = r.map { case (id, k, us) => (id, k, ts(us)) }.toDF("rid", "k", "rts")
      val got = RangeJoin.bandJoin(ldf, rdf, "k", "lts", "rts", lo, hi)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val want = (for {
        (lid, lk, lus) <- l
        (rid, rk, rus) <- r
        if lk == rk && rus >= lus + lo && rus < lus + hi
      } yield (lid, rid)).groupBy(identity).view.mapValues(_.size).toMap
      got == want
    }

  private val intervalGen: Gen[(Long, Long, Long, Long)] = for {
    id <- Gen.choose(0L, 1000L)
    k <- Gen.choose(0L, 2L)
    s <- Gen.choose(0L, 100L)
    len <- Gen.choose(1L, 60L)
  } yield (id, k, base + s, base + s + len)
  private val intervalsGen = Gen.listOfN(10, intervalGen)

  property("overlapJoin == quadratic interval-overlap model, each pair once") =
    forAll(intervalsGen, intervalsGen, Gen.choose(1L, 80L)) { (l, r, w) =>
      val spark = sc_
      import spark.implicits._
      val ldf = l.map { case (id, k, s, e) => (id, k, ts(s), ts(e)) }.toDF("lid", "k", "ls", "le")
      val rdf = r.map { case (id, k, s, e) => (id, k, ts(s), ts(e)) }.toDF("rid", "k", "rs", "re")
      val got = RangeJoin.overlapJoin(ldf, rdf, "k", "ls", "le", "rs", "re", w)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val want = (for {
        (lid, lk, ls, le) <- l
        (rid, rk, rs, re) <- r
        if lk == rk && ls < re && rs < le
      } yield (lid, rid)).groupBy(identity).view.mapValues(_.size).toMap
      got == want
    }

  // --- Upsert ---

  private val tableGen: Gen[List[(Long, String)]] =
    Gen.listOfN(8, Gen.zip(Gen.choose(0L, 9L), Gen.oneOf("x", "y", "z")))
      .map(_.distinctBy(_._1)) // at most one row per key, as Upsert requires

  property("upsert == map-override model and is idempotent") =
    forAll(tableGen, tableGen) { (t, u) =>
      val spark = sc_
      import spark.implicits._
      val tdf = t.toDF("k", "v")
      val udf = u.toDF("k", "v")
      def toMap(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(x => (x.getLong(0), x.getString(1))).toMap
      val once = Upsert(tdf, udf, Seq("k"))
      val got = toMap(once.collect())
      val want = t.toMap ++ u.toMap
      val twice = toMap(Upsert(once, udf, Seq("k")).collect())
      got == want && twice == got && once.count() == want.size
    }

  // --- ConnectedComponents ---

  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(8, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonicalize to the minimum member of each component
    val roots = parent.keys.map(k => k -> find(k)).toMap
    val minOf = roots.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    roots.map { case (k, r) => k -> minOf(r) }
  }

  property("connected components == union-find model") =
    forAll(edgesGen) { edges =>
      val spark = sc_
      import spark.implicits._
      edges.isEmpty || {
        val got = ConnectedComponents(edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == unionFind(edges)
      }
    }

  property("alternating large/small-star == union-find model") =
    forAll(edgesGen) { edges =>
      val spark = sc_
      import spark.implicits._
      edges.isEmpty || {
        val got = ConnectedComponents.alternatingStars(edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == unionFind(edges)
      }
    }

  // --- IncrementalAgg ---

  // (key, value, weight): small key domain forces group collisions and
  // full retractions; weights ±1 like a real changelog
  private val changeGen: Gen[(String, Long, Long)] = for {
    k <- Gen.oneOf("a", "b", "c")
    v <- Gen.choose(-50L, 50L)
    w <- Gen.oneOf(1L, -1L)
  } yield (k, v, w)
  private val changelogGen = Gen.listOfN(12, changeGen)

  /** Pure stepwise model of `refresh`: merge per-key (Σw, Σv·w), then drop
    * groups whose count clamps to ≤ 0 — discarding their sums, exactly as
    * the operator's empty-group rule does. (For well-formed changelogs —
    * no retraction of absent rows — this equals whole-log recompute; for
    * arbitrary ±1 logs only the stepwise semantics is well-defined.)
    */
  private def aggStep(state: Map[String, (Long, Long)],
                      delta: Seq[(String, Long, Long)]): Map[String, (Long, Long)] = {
    val d = delta.groupBy(_._1)
      .map { case (k, g) => k -> (g.map(_._3).sum, g.map(t => t._2 * t._3).sum) }
    (state.keySet ++ d.keySet).map { k =>
      val (c1, t1) = state.getOrElse(k, (0L, 0L))
      val (c2, t2) = d.getOrElse(k, (0L, 0L))
      k -> (c1 + c2, t1 + t2)
    }.toMap.filter(_._2._1 > 0)
  }

  property("incremental refresh chain == stepwise model") =
    forAll(changelogGen, changelogGen, changelogGen) { (base, d1, d2) =>
      val spark = sc_
      import spark.implicits._
      import graft.operators.IncrementalAgg
      import graft.operators.IncrementalAgg.SumSpec
      val sums = Seq(SumSpec("total", col("v")))
      def df(rows: Seq[(String, Long, Long)]) =
        spark.createDataset(rows).toDF("k", "v", "w")
      val s0 = IncrementalAgg.full(df(base), Seq("k"), col("w"), sums)
      val s1 = IncrementalAgg.refresh(s0, df(d1), Seq("k"), col("w"), sums)
      val s2 = IncrementalAgg.refresh(s1, df(d2), Seq("k"), col("w"), sums)
      val got = s2.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      got == aggStep(aggStep(aggStep(Map.empty, base), d1), d2)
    }

  // --- IvfIndex cell ranking ---

  // components from a tiny domain (signed zeros included) force exact
  // cosine ties; the first centroid is always duplicated under the
  // highest cid, and an all-zero vector (zero norm) is always present.
  // Its cosine is a zero-divisor division: NULL under the session default
  // (ANSI on), which is the ordering case under test
  private val compGen = Gen.oneOf(-1.0, -0.0, 0.0, 0.5, 1.0, 2.0)
  private val vec3Gen = Gen.listOfN(3, compGen)
  private val ivfGen = for {
    cs <- Gen.choose(2, 5).flatMap(Gen.listOfN(_, vec3Gen))
    vs <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, vec3Gen))
    probes <- Gen.choose(1, 7)
  } yield (cs :+ cs.head, List(0.0, 0.0, 0.0) :: vs, probes)

  property("IVF per-row assignment and probe lists == broadcast join + max_by / row_number") =
    forAll(ivfGen) { case (cs, vs, probes) =>
      val spark = sc_
      import spark.implicits._
      val cents = cs.zipWithIndex.map { case (v, i) => (i, v, v.map(x => x * x).foldLeft(0.0)(_ + _)) }
      val e = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
        .withColumn("n2", Vectors.norm2D(col("v")))

      // the reference form: every (vector, centroid) pair, then an argmax
      // aggregate and a rank window
      val scored = e.join(broadcast(cents.toDF("cid", "cv", "cn2")))
        .withColumn("ccos", Vectors.cosinePre(col("v"), col("n2"), col("cv"), col("cn2")))
      val wantCell = scored.groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val wantProbes = scored
        .withColumn("crank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
            .orderBy(col("ccos").desc, col("cid"))))
        .where(col("crank") <= probes)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("crank"), r.getAs[Int]("cid")))
        .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }

      val gotCell = IvfIndex.assignTo(cents, e).select("vec_id", "cid")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // explode keeps each row's probe list in rank order
      val gotProbes = e.select(col("vec_id"), IvfIndex.probedCells(cents, col("v"), col("n2"), probes))
        .collect().map(r => r.getLong(0) -> r.getInt(1))
        .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSeq }
      gotCell == wantCell && gotProbes == wantProbes
    }
}
