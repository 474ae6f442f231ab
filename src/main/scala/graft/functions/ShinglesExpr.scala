package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram shingling: `graft_shingles(text, n)` ==
  * `when(size(split(text,' ')) >= n, array_distinct(transform(
  * sequence(1, size - n + 1), i -> concat_ws(' ', slice(toks, i, n)))))
  * .otherwise(array(text))` — the [[graft.operators]] `Shingles`
  * convention, value-identical.
  *
  * Why: Spark evaluates higher-order-function lambdas INTERPRETED, one
  * closure tree per element — the `transform`+`slice`+`concat_ws`
  * formulation costs ~12 µs per shingle and dominates every operator
  * that shingles (the minhash/ngram/simhash dedup indexes, all three
  * decontamination entries; measured 2.6 of `llm_decontam_bloom`'s
  * 3.9 s at sf0.1). This expression does the whole document in one
  * compiled pass — split once, slide a StringBuilder window, dedup via
  * an insertion-ordered set (array_distinct's first-occurrence order) —
  * and participates in whole-stage codegen through a static call, so
  * the shingle stage stops being the pipeline's bottleneck. Same
  * non-null-input contract as the split it replaces (fixture text is
  * non-null; a null text yields null, which no caller observes). `n`
  * must be a foldable INT ≥ 1, checked at analysis: a width of 0 or
  * less has no shingles to emit.
  */
case class ShinglesExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        right.eval() match {
          case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
          case n => TypeCheckResult.TypeCheckFailure(
            s"graft_shingles expects n >= 1, got $n")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects (string, int literal), got ($l, $r)")
    }

  override def dataType: DataType = ArrayType(StringType)

  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(s: Any, n: Any): Any =
    ShinglesExpr.compute(s.asInstanceOf[UTF8String],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, n) =>
      s"graft.functions.ShinglesExpr.compute($s, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ShinglesExpr {

  private[functions] val builder: Seq[Expression] => Expression = {
    case Seq(text, n) => ShinglesExpr(text, n)
    case other => throw new IllegalArgumentException(
      s"graft_shingles expects 2 arguments, got ${other.size}")
  }

  /** One-pass shingling kernel (static so generated code can call it).
    * Split semantics match `split(text, ' ')` (regex-free single-char
    * split, trailing empties kept); dedup keeps first-occurrence order
    * like array_distinct.
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length >= n) {
      val seen = new java.util.LinkedHashSet[String]
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val arr = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) {
        arr(k) = UTF8String.fromString(it.next())
        k += 1
      }
      new GenericArrayData(arr)
    } else {
      new GenericArrayData(Array[Any](text.copy()))
    }
  }
}
