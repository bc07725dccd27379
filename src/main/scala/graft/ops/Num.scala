package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bit-deterministic numeric aggregation shared by engine + oracle.
  *
  * Double sums depend on reduction order (Spark's partial aggregation vs
  * DuckDB's scan order), so a raw `sum(double)` can differ in late bits and
  * break hash-comparison. Instead: cast to decimal first (exact, associative),
  * sum exactly, cast the exact result back to double (deterministic nearest
  * rounding in both engines). Ties in the double→decimal cast would need the
  * double to be an exact decimal midpoint — measure-zero for real data.
  */
object Num {
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  def davg(c: Column, scale: Int = 2): Column = dsum(c, scale) / count(c)

  def duckDsum(e: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($e AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** High-precision variant for unit-scale values (embedding coordinates,
    * their pairwise products): 18 fractional digits keeps the double→decimal
    * rounding far below float32 input noise while leaving 20 integer digits
    * of headroom for corpus-scale sums.
    */
  def dsum38(c: Column): Column = sum(c.cast("decimal(38,18)")).cast("double")

  def duckDsum38(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(38,18))) AS DOUBLE)"

  /** Wide-range variant for magnitude-heavy terms (squared rank sums,
    * third-moment folds): 6 fractional digits still dominates the double's
    * own ulp once terms exceed ~1e10, while the 32 integer digits of
    * headroom keep a term like n_j·(2N+1)²/4 in range past N = 1e10 rows —
    * where the (38,18) fold would overflow to NULL and Spark's non-ANSI SUM
    * would silently drop it. */
  def dsumWide(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")

  def duckDavg(e: String, scale: Int = 2): String =
    s"(${duckDsum(e, scale)} / COUNT($e))"

  /** Sequential left-fold dot product of two float vectors in double —
    * bit-identical to the DuckDB twin [[duckDot]] (same order, same widening).
    * Native codegen expression (graft.plans.DotProduct); [[dotComposed]] is
    * the built-in HOF twin kept for the equivalence test.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.DotProduct(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** The same fold from Spark built-ins only (interpreted HOFs). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  def norm(a: Column): Column = sqrt(dot(a, a))

  def duckNorm(a: String): String = s"sqrt(${duckDot(a, a)})"
}
