package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `array<float>` embedding columns, built from
  * the higher-order functions (`zip_with`, `aggregate`, `transform`) so they
  * stay inside Catalyst (no UDF, no driver collect).
  *
  * Floats are widened to double *before* any arithmetic and every reduction
  * is a sequential left fold — the exact IEEE operation order the DuckDB
  * oracle reproduces with `list_reduce`, making cosine values bit-identical
  * across engines.
  */
object Vectors {

  /** float[] → double[] (exact widening). Materialize this ONCE per vector
    * (projection before the join) — casting inside an O(n²) pair loop was
    * the dominant cost of the brute-force queries.
    */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** dot(a, b) over already-double arrays: the codegen'd single-pass loop
    * ([[DotProductDouble]] — registered by GraftSession.prepare). Bit-equal
    * to the fold-of-products form, ~an order of magnitude faster inside
    * pair joins.
    */
  def dotD(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Squared L2 norm of an already-double array. */
  def norm2D(a: Column): Column = dotD(a, a)

  /** dot(a, b) with on-the-fly widening (one-shot use). */
  def dot(a: Column, b: Column): Column = dotD(toDouble(a), toDouble(b))

  /** cosine from precomputed double arrays + squared norms:
    * dot / sqrt(na2 * nb2) — single sqrt; precomputing the norms yields the
    * same IEEE operations on the same values, so results are bit-identical
    * to the inline form (and to the DuckDB oracle).
    *
    * The division is `try_divide`: a zero norm (an all-zero embedding)
    * gives a NULL cosine under ANSI mode too, instead of a
    * `[DIVIDE_BY_ZERO]` that fails the whole query. Any other divisor runs
    * the same IEEE division as `/`.
    */
  def cosinePre(a: Column, na2: Column, b: Column, nb2: Column): Column =
    try_divide(dotD(a, b), sqrt(na2 * nb2))

  /** cosine(a, b) one-shot (tests / single pairs); NULL on a zero norm,
    * as [[cosinePre]]. */
  def cosine(a: Column, b: Column): Column = {
    val (da, db) = (toDouble(a), toDouble(b))
    cosinePre(da, norm2D(da), db, norm2D(db))
  }
}
