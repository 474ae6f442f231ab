package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the sequential dot product of two
  * double arrays — the engine's one custom `Expression`, for the hot
  * column-path similarity arithmetic.
  *
  * Why an Expression and not a UDF / higher-order function: Spark's
  * `aggregate(zip_with(...))` formulation evaluates its lambda
  * interpreted, one closure call per element, and a Scala UDF adds
  * serialization at every row. This expression participates in
  * whole-stage codegen ([[doGenCode]] emits the tight loop inline into
  * the generated stage), so scoring joins stay in one compiled pass.
  * The summation order is ascending-index, bit-identical to the DuckDB
  * oracle's `list_reduce` and to `graft.operators.Hashing.dotSeq`.
  *
  * Assumes non-null array elements (inputs come from casts of the
  * non-null parquet embedding columns).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  private val ident = FunctionIdentifier("graft_dot")

  private val info =
    new ExpressionInfo(classOf[DotProduct].getName, null, "graft_dot")

  private[functions] val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProduct(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_dot expects 2 arguments, got ${other.size}")
  }

  /** Idempotent per-session registration, for sessions not built with
    * [[GraftExtensions]] (e.g. a caller's own session).
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(ident, info, builder)

  /** Column API over the registered function. */
  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }
}

/** SparkSessionExtensions entry point: add
  * `spark.sql.extensions=graft.functions.GraftExtensions` and
  * the `graft_*` functions below are available in SQL and the Column
  * API from session start (the harness mains and specs set this). Each
  * registers through its arity-checked builder: a wrong argument count
  * fails naming the function instead of indexing past the arguments
  * or silently dropping the extras.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Seq(
      ("graft_dot", classOf[DotProduct], DotProduct.builder),
      ("graft_topk", classOf[TopKAgg], TopKAgg.builder),
      ("graft_subsets", classOf[SubsetsGenerator], SubsetsGenerator.builder),
      ("graft_token_count", classOf[TokenCount], TokenCount.builder),
      ("graft_shingles", classOf[ShinglesExpr], ShinglesExpr.builder)
    ).foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, null, name), builder))
    }
    // every size(split(s, <plain char>)) in any plan becomes the
    // allocation-free TokenCount — see RewriteSizeOfSplit's contract
    ext.injectOptimizerRule(_ => RewriteSizeOfSplit)
  }
}
