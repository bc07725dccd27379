package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RegExpExtractAll, Size, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LITERAL
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: counts that Spark computes by materializing an array
  * become native counts that allocate nothing per row.
  *
  *  - `size(regexp_extract_all(x, <lit>, 0))` → [[RegexpMatchCount]].
  *    Spark's own `regexp_count` is RuntimeReplaceable sugar for exactly
  *    this composed form (expanded by ReplaceExpressions before the
  *    operator-optimization batch where injected rules run), so SQL users
  *    writing `regexp_count(text, '...')` get the native path too. Fires
  *    only for a non-null string-literal pattern (the native expression
  *    compiles it once per task) and group index 0 (whole-match counting).
  *  - `size(split(x, '\s+', -1))` → [[WhitespaceRunCount]], the word count
  *    of `Text.wordCount` and `Articles.enrich`, without the regex. Fires
  *    only when `x` has the default (UTF8_BINARY) collation: other
  *    collations rewrite the pattern before splitting.
  *
  * Both fire only under ANSI size semantics (`legacySizeOfNull = false`):
  * both sides then map null input → null. Legacy `size(null) = -1` is NOT
  * reproduced, so the rewrite is skipped there.
  *
  * Spark has no tree pattern for `Size` or `StringSplit`, so the rule
  * prunes on the literal both forms carry: subtrees without a literal are
  * not visited.
  */
object GraftRewriteRule extends Rule[LogicalPlan] {

  private val WhitespaceRuns = UTF8String.fromString("\\s+")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(LITERAL)) {
      case Size(RegExpExtractAll(subject, Literal(p: UTF8String, StringType), Literal(0, _)), false)
          if p != null && subject.dataType.isInstanceOf[StringType] =>
        RegexpMatchCount(subject, p.toString)
      case Size(StringSplit(subject, Literal(WhitespaceRuns, _: StringType), Literal(-1, _)), false)
          if isDefaultCollation(subject) =>
        WhitespaceRunCount(subject)
    }

  private def isDefaultCollation(e: Expression): Boolean =
    e.dataType match {
      case st: StringType => st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
      case _ => false
    }
}
