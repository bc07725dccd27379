package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native PER-ROW 60-bit SimHash — the stateless form of the corpus-side
  * `Dedup.simhash` aggregation (majority vote per bit position over the
  * token-occurrence hash60s; bit set iff 2*ones > n), bit-identical to it
  * for any single document (SimHashSpec).
  *
  * A per-row expression fingerprints each row without an aggregation, so a
  * probe against a stored fingerprint table (`SimHashIndex`) needs no
  * shuffle of the probe's tokens. One pass per row: regex
  * split, per-token md5 via the shared thread-local digest, 60 counters —
  * no explode, no array materialization, no interpreted lambdas.
  */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires STRING input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    SimHash60.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash60.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def simhash(s: UTF8String): Long = {
    val toks = ws.split(s.toString, -1)
    val ones = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      val h = Hash60.hash(UTF8String.fromString(toks(i)))
      var k = 0
      while (k < 60) {
        if (((h >>> k) & 1L) == 1L) ones(k) += 1
        k += 1
      }
      i += 1
    }
    val n = toks.length
    var out = 0L
    var k = 0
    while (k < 60) {
      if (2L * ones(k) > n) out |= (1L << k)
      k += 1
    }
    out
  }
}
