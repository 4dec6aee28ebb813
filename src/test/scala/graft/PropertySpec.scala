package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.functions.Yql
import graft.operators.ExclusionJoin

/** Property-based checks (SURVEY.md §5.2): the exclusion join's algebraic
  * identity with NULL keys, Datetime-truncation laws, and exact timeline
  * partitioning of the yearly window filter — on arbitrary inputs, not just
  * the fixtures.
  */
object ExclusionJoinProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestSession.spark
  private def sc_ = spark // touch lazily inside properties

  private val rowGen: Gen[(Option[Long], Option[String])] = for {
    k <- Gen.option(Gen.choose(0L, 4L)) // tight domains force collisions AND nulls
    v <- Gen.option(Gen.oneOf("a", "b"))
  } yield (k, v)

  private val relGen: Gen[List[(Option[Long], Option[String])]] =
    Gen.listOfN(12, rowGen)

  /** Pure-Scala model: rows of either side with no equi-match (NULL never
    * matches) on the other — bag semantics.
    */
  private def model(l: Seq[(Option[Long], Option[String])], r: Seq[(Option[Long], Option[String])]) = {
    def matches(x: (Option[Long], Option[String]), y: (Option[Long], Option[String])) =
      x._1.isDefined && x._2.isDefined && x._1 == y._1 && x._2 == y._2
    val lOut = l.filterNot(x => r.exists(y => matches(x, y)))
    val rOut = r.filterNot(y => l.exists(x => matches(y, x)))
    (lOut ++ rOut).groupBy(identity).view.mapValues(_.size).toMap
  }

  property("exclusionJoin == pure-relational model (bag semantics, NULL keys never match)") =
    forAll(relGen, relGen) { (l, r) =>
      val spark = sc_
      import spark.implicits._
      val ldf = l.toDF("k", "v")
      val rdf = r.toDF("k", "v")
      val got = ExclusionJoin(ldf, rdf, Seq("k", "v")).collect()
        .map(x => (Option(x.get(0)).map(_.asInstanceOf[Long]), Option(x.get(1)).map(_.asInstanceOf[String])))
        .groupBy(identity).view.mapValues(_.length).toMap
      got == model(l, r)
    }

  property("exclusionJoin == FULL OUTER minus INNER (cardinality, non-null keys)") =
    forAll(relGen, relGen) { (l0, r0) =>
      val spark = sc_
      import spark.implicits._
      // restrict to fully non-null keys: the outer-join marker formulation
      val l = l0.collect { case (Some(k), Some(v)) => (k, v) }
      val r = r0.collect { case (Some(k), Some(v)) => (k, v) }
      val ldf = l.toDF("k", "v").withColumn("_l", lit(1))
      val rdf = r.toDF("k", "v").withColumn("_r", lit(1))
      val full = ldf.join(rdf, Seq("k", "v"), "full_outer")
      val unmatched = full.filter(col("_l").isNull || col("_r").isNull).count()
      ExclusionJoin(l.toDF("k", "v"), r.toDF("k", "v"), Seq("k", "v")).count() == unmatched
    }

  property("exclusionJoin(x, x) = its null-key rows, twice (self-reconciliation)") = forAll(relGen) { l0 =>
    val spark = sc_
    import spark.implicits._
    // self-reconciliation: every non-null-key row matches itself; null-key
    // rows never match and surface from BOTH sides (YQL semantics)
    val df = l0.toDF("k", "v")
    val nullKeyRows = l0.count(x => x._1.isEmpty || x._2.isEmpty)
    ExclusionJoin(df, df, Seq("k", "v")).count() == 2L * nullKeyRows
  }

  private val tsGen: Gen[Timestamp] =
    Gen.choose(1500000000000000L, 1700000000000000L).map { us => // 2017..2023, µs
      val t = new Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }

  property("toDatetime truncation: t-1s < trunc(t) <= t, idempotent, monotonic") =
    forAll(Gen.listOfN(8, tsGen)) { ts =>
      val spark = sc_
      import spark.implicits._
      val rows = ts.toDF("t")
        .select(col("t"), Yql.toDatetime(col("t")).as("tr"), Yql.toDatetime(Yql.toDatetime(col("t"))).as("tr2"))
        .collect()
      rows.forall { r =>
        val (t, tr, tr2) = (r.getTimestamp(0), r.getTimestamp(1), r.getTimestamp(2))
        tr.getTime <= t.getTime && t.getTime - tr.getTime < 1000 && tr2 == tr && tr.getNanos == 0
      } && {
        val sorted = ts.sortBy(_.getTime)
        val truncs = rows.sortBy(_.getTimestamp(0).getTime).map(_.getTimestamp(1).getTime)
        truncs.zip(truncs.drop(1)).forall { case (a, b) => a <= b } || sorted.isEmpty
      }
    }

  property("count form == row form on duplicate-free keys; counts multiplicity drift otherwise") =
    forAll(relGen, relGen) { (l0, r0) =>
      val spark = sc_
      import spark.implicits._
      // distinct non-null rows: both formulations must agree
      val l = l0.collect { case (Some(k), Some(v)) => (k, v) }.distinct
      val r = r0.collect { case (Some(k), Some(v)) => (k, v) }.distinct
      val ldf = l.toDF("k", "v"); val rdf = r.toDF("k", "v")
      val rowForm = ExclusionJoin(ldf, rdf, Seq("k", "v")).count()
      val countForm = ExclusionJoin.count(ldf, rdf, Seq("k", "v"))
      rowForm == countForm && {
        // with a duplicated left row, the count form flags the drift the
        // anti-join row form cannot see (documented ExclusionJoin contract)
        if (l.isEmpty || !r.contains(l.head)) true
        else {
          val dup = (l :+ l.head).toDF("k", "v")
          ExclusionJoin(dup, rdf, Seq("k", "v")).count() == rowForm &&
            ExclusionJoin.count(dup, rdf, Seq("k", "v")) == countForm + 1
        }
      }
    }

  property("count (signed union) == join-form countFrame, NULL keys and duplicates included") =
    forAll(relGen, relGen) { (l, r) =>
      val spark = sc_
      import spark.implicits._
      val ldf = l.toDF("k", "v"); val rdf = r.toDF("k", "v")
      ExclusionJoin.count(ldf, rdf, Seq("k", "v")) ==
        ExclusionJoin.countFrame(ldf, rdf, Seq("k", "v")).head.getLong(0)
    }

  private val asofEventGen: Gen[(Long, Long, Double)] = for {
    key <- Gen.choose(0L, 2L)
    ts <- Gen.choose(0L, 50L)
    v <- Gen.choose(0, 100).map(_.toDouble)
  } yield (key, ts, v)

  property("asOfJoin == pure model: greatest right ts <= left ts per key") =
    forAll(Gen.listOfN(10, asofEventGen), Gen.listOfN(6, asofEventGen)) { (ls, rs0) =>
      val spark = sc_
      import spark.implicits._
      // right side unique per (key, ts) — the operator's documented contract
      val rs = rs0.groupBy(t => (t._1, t._2)).map(_._2.head).toList
      val left = ls.zipWithIndex.map { case ((k, t, v), i) =>
        (i.toLong, k, new Timestamp(t * 1000), v) }
      val right = rs.map { case (k, t, v) => (k, new Timestamp(t * 1000), v) }
      val got = graft.operators.AsOfJoin(
          left.toDF("event_id", "k", "ts", "value"),
          right.toDF("k", "rts", "rvalue"), "k", "ts", "rts", Seq("rvalue"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(4).getTime, r.getDouble(5))).toSet
      val want = left.flatMap { case (id, k, ts, _) =>
        rs.filter(r => r._1 == k && r._2 * 1000 <= ts.getTime)
          .sortBy(r => (r._2, r._3)).lastOption // unique ts per key ⇒ max ts row
          .map(r => (id, r._2 * 1000, r._3))
      }.toSet
      got == want
    }

  property("yearly windows partition the timeline: every row lands in exactly one export") =
    forAll(Gen.listOfN(20, tsGen)) { ts =>
      val spark = sc_
      import spark.implicits._
      val df = ts.toDF("payment_date").cache()
      val perYear = (2016 to 2024).map { y =>
        df.filter(col("payment_date") >= lit(java.sql.Date.valueOf(s"$y-01-01")) &&
          col("payment_date") < lit(java.sql.Date.valueOf(s"${y + 1}-01-01"))).count()
      }
      df.unpersist()
      perYear.sum == ts.size
    }
}
