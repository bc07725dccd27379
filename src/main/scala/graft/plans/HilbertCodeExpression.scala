package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Distance along the order-`bits` Hilbert curve of the cell (x, y), both in
  * [0, 2^bits) — the space-filling-curve key behind `Layout.hilbertCode`.
  * Unlike the Morton interleave (a handful of shift/or column ops), the
  * Hilbert transform is an inherently sequential per-bit state machine
  * (each level's quadrant rotation depends on all higher levels), which as
  * composed `when()` columns would double the expression tree per level —
  * so it is a native expression: one flat `bits`-step loop in codegen,
  * identical to the classic iterative xy2d algorithm (Wikipedia, "Hilbert
  * curve — Applications and mapping algorithms": accumulate s²·((3·rx)⊕ry),
  * then flip-and-swap the lower bits while ry = 0).
  *
  * Out-of-range or negative inputs evaluate to NULL (never a wrapped/aliased
  * code — a silently-masked coordinate would place the row at the wrong spot
  * in the layout).
  *
  * The DuckDB oracle unrolls the same loop as one CTE per level (the k-means
  * unrolling discipline); all arithmetic is exact integer, so codes
  * hash-match bit for bit.
  */
case class HilbertCode(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_code"

  // Null for out-of-range coordinates even with non-null children.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"hilbert_code requires two BIGINT coordinates, got ${l.catalogString}, ${r.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HilbertCode.compute(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("hilbertRes")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""Object $r = graft.plans.HilbertCode.compute($a, $b, $bits);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = (Long) $r; }
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertCode =
    copy(left = newLeft, right = newRight)
}

object HilbertCode {

  /** Boxed Long Hilbert distance, or null when (x, y) is outside the
    * 2^bits × 2^bits grid. The flip uses n−1 (all-ones), i.e. a bitwise
    * complement of the low bits — later levels mask smaller s, so the
    * untouched high bits never matter.
    */
  def compute(x0: Long, y0: Long, bits: Int): Object = {
    val n = 1L << bits
    if (x0 < 0 || y0 < 0 || x0 >= n || y0 >= n) return null
    var x = x0
    var y = y0
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          x = n - 1 - x
          y = n - 1 - y
        }
        val t = x
        x = y
        y = t
      }
      s >>= 1
    }
    java.lang.Long.valueOf(d)
  }
}
