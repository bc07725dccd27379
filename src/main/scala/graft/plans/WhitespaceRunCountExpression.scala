package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word count without the regex — the twin of `size(split(text, '\s+', -1))`,
  * the reference's token count (`process_articles.py:74-75`), which decodes
  * every row to a Java string, runs `java.util.regex` over it and
  * materializes the pieces only to take the array's length.
  *
  * Java's `\s` is `[ \t\n\x0B\f\r]`, so the split yields one piece more than
  * there are maximal runs of those bytes: `""` → 1, `" a "` → 3. The count
  * walks the UTF-8 bytes directly, which is exact because no multi-byte UTF-8
  * sequence holds a byte below 0x80, and a malformed byte decodes to U+FFFD,
  * which `\s` does not match either. Null input → null, as ANSI `size` over
  * `split(null)`.
  *
  * [[GraftRewriteRule]] substitutes it for the composed form.
  */
case class WhitespaceRunCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "whitespace_run_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"whitespace_run_count requires STRING input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    WhitespaceRunCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WhitespaceRunCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): WhitespaceRunCount =
    copy(child = newChild)
}

object WhitespaceRunCount {

  /** Maximal runs of `[ \t\n\x0B\f\r]` bytes in `s`, plus one. */
  def count(s: UTF8String): Int = {
    val base = s.getBaseObject
    val end = s.getBaseOffset + s.numBytes
    var off = s.getBaseOffset
    var pieces = 1
    var inRun = false
    while (off < end) {
      val b = Platform.getByte(base, off)
      // '\t' .. '\r' are the five control bytes 9..13
      val ws = b == ' ' || (b >= '\t' && b <= '\r')
      if (ws && !inRun) pieces += 1
      inRun = ws
      off += 1
    }
    pieces
  }
}
