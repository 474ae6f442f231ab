package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, Size, StringSplit}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Allocation-free token counting: `graft_token_count(s, d)` ==
  * `size(split(s, d))` for a plain single-character delimiter.
  *
  * Why: `size(split(text, ' '))` is the single most common expression in
  * the text-pipeline family (token counts, quality signals, length
  * histograms, packing budgets — dozens of call sites), and the built-in
  * form materializes a full `GenericArrayData` of UTF8String slices per
  * row ONLY to take its length. At 100 TB that is an array allocation +
  * O(tokens) object headers per document on the hottest path in the
  * engine. Counting delimiter occurrences needs none of it: with
  * Spark's `split` semantics (limit −1 keeps trailing empty strings, so
  * n_tokens = n_delimiters + 1, including the empty-string edge: "" →
  * [""] → 1) and DuckDB's `string_split` agreeing exactly, the count is
  * one scan over the string's bytes.
  *
  * [[RewriteSizeOfSplit]] applies it automatically: an injected
  * optimizer rule ([[GraftExtensions]]) rewrites
  * `Size(StringSplit(str, <plain 1-char literal>, -1))` to this
  * expression, so EVERY existing call site — and any user query — gets
  * the allocation-free form without a source change, and the DuckDB
  * oracles keep hash-matching because the value is bit-identical.
  * Regex-meaningful delimiters (`.`,`|`,…) and non-literal patterns are
  * left untouched; so is the legacy `size(NULL) = -1` mode (the rewrite
  * preserves ANSI null-in-null-out only).
  *
  * The delimiter must be a foldable, non-null, one-character STRING —
  * the only shape the rewrite emits — checked at analysis: an empty
  * delimiter matches at every position (the count loop never ends),
  * and a longer one counts overlapping matches (`('aaa', 'aa')` → 3
  * where `size(split(..))` gives 2).
  */
case class TokenCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        right.eval() match {
          case d: UTF8String if d.numChars() == 1 =>
            TypeCheckResult.TypeCheckSuccess
          case d => TypeCheckResult.TypeCheckFailure(
            s"graft_token_count expects a one-character delimiter, got $d")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_token_count expects (string, one-character string " +
          s"literal), got ($l, $r)")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_token_count"

  override protected def nullSafeEval(s: Any, d: Any): Any = {
    val str = s.asInstanceOf[UTF8String]
    val del = d.asInstanceOf[UTF8String]
    var cnt = 1
    var pos = str.indexOf(del, 0)
    while (pos >= 0) { cnt += 1; pos = str.indexOf(del, pos + 1) }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, d) => {
      val cnt = ctx.freshName("cnt")
      val pos = ctx.freshName("pos")
      s"""
         |int $cnt = 1;
         |int $pos = $s.indexOf($d, 0);
         |while ($pos >= 0) { $cnt += 1; $pos = $s.indexOf($d, $pos + 1); }
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TokenCount {

  private[functions] val builder: Seq[Expression] => Expression = {
    case Seq(s, d) => TokenCount(s, d)
    case other => throw new IllegalArgumentException(
      s"graft_token_count expects 2 arguments, got ${other.size}")
  }
}

/** The injected optimizer rule (see [[TokenCount]]). Runs inside the
  * operator-optimization fixed point, so the rewrite reaches filters,
  * aggregates, and projections alike, before whole-stage codegen.
  */
object RewriteSizeOfSplit extends Rule[LogicalPlan] {

  /** Single characters that mean themselves in Java regex — the only
    * delimiters where `split(s, d)` is a literal split and the
    * occurrences+1 identity holds.
    */
  private def plainChar(d: UTF8String): Boolean =
    d != null && d.numChars() == 1 && {
      val c = d.toString.charAt(0)
      c == ' ' || Character.isLetterOrDigit(c)
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(StringSplit(str,
          dl @ Literal(d: UTF8String, StringType),
          Literal(-1, IntegerType)), false) if plainChar(d) =>
        TokenCount(str, dl)
    }
}
