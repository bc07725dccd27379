package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text profile: tokenize lower(input) ONCE and return
  * `[hits(set_0), ..., hits(set_{k-1}), n_tokens, n_alpha_chars]`.
  *
  * The language-ID CASE tree and the quality score would otherwise count
  * each set on its own, re-lowercasing and re-splitting the whole document
  * every time (round-2 verdict: ~6-11 tokenizations per row in the curation
  * pipeline). All downstream consumers
  * (langId argmax, stopword ratio, token count, alpha ratio) become cheap
  * arithmetic over ONE shared array; Catalyst's subexpression elimination
  * collapses the repeated references into a single evaluation per row.
  *
  * Semantics pinned to the composed built-in forms (TextProfileSpec):
  *  - tokens = whitespace-run Java regex split with trailing empties of the
  *    locale-independently lowercased input (Spark `split(lower(text))`);
  *    lowercasing never creates or destroys whitespace, so `n_tokens` equals
  *    `size(split(text, "\\s+"))` over the original text too;
  *  - hits count occurrences (not distinct), one token can hit several sets
  *    (e.g. "de" is a Spanish, German AND French marker);
  *  - `n_alpha` counts [A-Za-z] chars of the ORIGINAL input (ASCII letters
  *    are never produced by lowercasing non-ASCII chars, so this must not
  *    scan the lowered string — twin of
  *    `length(regexp_replace(text, "[^A-Za-z]", ""))`);
  *  - null input → null.
  */
case class TextProfile(child: Expression, markerSets: Seq[Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "text_profile"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_profile requires STRING input, got ${child.dataType.catalogString}")

  /** token -> indices of the marker sets containing it: ONE hash lookup per
    * token instead of one per (token, set).
    */
  @transient private lazy val markerIndex: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    markerSets.zipWithIndex.foreach { case (set, i) =>
      set.foreach { tok =>
        val prev = m.get(tok)
        m.put(tok, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  private def numSets: Int = markerSets.length

  override protected def nullSafeEval(input: Any): Any =
    TextProfile.compute(input.asInstanceOf[UTF8String], markerIndex, numSets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("markerIndex", markerIndex, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.plans.TextProfile.compute($c, $idxRef, $numSets)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextProfile =
    copy(child = newChild)
}

object TextProfile {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def compute(s: UTF8String, index: java.util.HashMap[String, Array[Int]], numSets: Int): ArrayData = {
    val out = new Array[Int](numSets + 2)
    // same lowercase as Spark's Lower expression (locale-independent)
    val toks = ws.split(s.toLowerCase.toString, -1)
    var i = 0
    while (i < toks.length) {
      val hit = index.get(toks(i))
      if (hit != null) {
        var j = 0
        while (j < hit.length) { out(hit(j)) += 1; j += 1 }
      }
      i += 1
    }
    out(numSets) = toks.length
    // [A-Za-z] chars of the ORIGINAL input: ASCII letters are single UTF-8
    // bytes and continuation bytes never fall in the letter ranges, so a raw
    // byte scan counts chars exactly.
    var alpha = 0
    val nb = s.numBytes()
    var b = 0
    while (b < nb) {
      val c = s.getByte(b)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) alpha += 1
      b += 1
    }
    out(numSets + 1) = alpha
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
