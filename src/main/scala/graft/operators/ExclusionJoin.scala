package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** YQL `EXCLUSION JOIN` (SURVEY.md §2.4 J1): the symmetric difference of two
  * relations on a conjunctive equi-key — rows of *either* side with no match
  * on the other (= FULL OUTER minus INNER). The reference uses it as the
  * copy-reconciliation test whose cardinality must be 0 before the
  * destructive partition drop (/root/reference/src/py/yq_dag.py:93-94).
  *
  * Spark has no single join type for this. One row form and two count
  * forms:
  *
  *  - [[apply]]: `(L anti R) UNION ALL (R anti L)` — preserves each side's
  *    full rows. Both anti joins shuffle on the same key, so at scale the two
  *    passes hash-partition identically (sort-merge anti, no broadcast — both
  *    sides are large in the reconciliation use).
  *  - [[diffFrame]] / [[count]]: no join at all. The key projections are
  *    unioned with a sign (+1 left, −1 right) and aggregated once per key
  *    tuple; a tuple's signed sum is its multiplicity drift. The pipeline's
  *    gate for every store layout: one Exchange over plain scans, none
  *    over stores co-bucketed on a key column (the union keeps the
  *    scans' common bucketing, which satisfies the aggregate).
  *  - [[countFrame]]: per-side aggregates + one FULL OUTER join — the
  *    reference form the specs compare [[count]] against; no production
  *    path runs it.
  *
  * NULL keys never match (standard equi-join semantics), mirroring YQL; the
  * reference deliberately keys on NOT NULL columns only. The key includes a
  * DOUBLE (`amount`) — equality is bit-exact, so the pipeline must not
  * introduce any float rounding between export and check.
  */
object ExclusionJoin {

  /** Full-row symmetric difference; output schema = union of both schemas by
    * name (missing columns null-filled), plus nothing else.
    */
  def apply(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_anti")
      .unionByName(right.join(left, keys, "left_anti"), allowMissingColumns = true)

  /** Symmetric difference tagged with the originating side (like the
    * reference's `'pg' as src` / `'s3' as src` convention).
    */
  def tagged(left: DataFrame, right: DataFrame, keys: Seq[String],
             tagCol: String = "side", leftTag: String = "l", rightTag: String = "r"): DataFrame =
    left.join(right, keys, "left_anti").withColumn(tagCol, lit(leftTag))
      .unionByName(right.join(left, keys, "left_anti").withColumn(tagCol, lit(rightTag)),
        allowMissingColumns = true)

  /** Per key tuple that does not reconcile: the key columns, `diff` (left
    * rows minus right rows — `+` only on the left, `−` only on the right)
    * and `mismatched`, the rows the tuple leaves unmatched: `|diff|`, or
    * every row of the tuple when a key is NULL (NULL keys never match).
    * One aggregation over a signed union: one Exchange, no join.
    *
    * Bag semantics over key tuples, like the reference's count: a
    * duplicated row is a drift of 1 even though the anti-join row form
    * ([[apply]]) cannot see it.
    */
  def diffFrame(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    // aliased so JDBC sources with dialect-uppercased names union by name
    def signed(df: DataFrame, sign: Long): DataFrame =
      df.select(keys.map(k => col(k).as(k)) :+ lit(sign).as("_sign"): _*)
    val anyNull = keys.map(col(_).isNull).reduce(_ || _)
    signed(left, 1L).unionByName(signed(right, -1L))
      .groupBy(keys.map(col): _*)
      .agg(sum("_sign").as("diff"), sum(lit(1L)).as("_rows"))
      .withColumn("mismatched", when(anyNull, col("_rows")).otherwise(abs(col("diff"))))
      .where(col("mismatched") > 0)
      .drop("_rows")
  }

  /** Count-only reconciliation (`select count(1) from L exclusion join R`)
    * — the pipeline's Q2 gate.
    */
  def count(left: DataFrame, right: DataFrame, keys: Seq[String]): Long =
    diffCountFrame(left, right, keys).head.getLong(0)

  /** [[count]] as a 1-row frame, for plan inspection. */
  private[graft] def diffCountFrame(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    diffFrame(left, right, keys).agg(coalesce(sum("mismatched"), lit(0L)).as("n_mismatch"))

  /** The join form of the count: per-side aggregates, one full-outer join
    * on the keys. Equal to [[count]] on every input; kept as the reference
    * the specs check [[count]] against.
    */
  def countFrame(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val l = left.groupBy(kc: _*).agg(sum(lit(1L)).as("_ln"))
    val r = right.groupBy(kc: _*).agg(sum(lit(1L)).as("_rn"))
    val joined = l.join(r, keys, "full_outer")
    // A key tuple contributes |ln - rn| mismatched rows (missing side counts 0).
    val mism = joined.select(
      abs(coalesce(col("_ln"), lit(0L)) - coalesce(col("_rn"), lit(0L))).as("_d"))
    mism.agg(coalesce(sum(col("_d")), lit(0L)).as("n_mismatch"))
  }
}
