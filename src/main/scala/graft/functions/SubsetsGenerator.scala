package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** UDTF-shaped Catalyst `Generator` — SQL `graft_subsets(items [, k])`:
  * one output row per order-preserving subset of a string array, as
  * (itemset = space-joined key, k = size). Without `k` it emits every
  * non-empty subset (2^n − 1 rows); with `k` only the C(n, k) subsets
  * of that size. `k` must be a foldable INT; a null or out-of-range `k`
  * emits nothing. The SQL surface of
  * the Apriori candidate generator (G1, `CandidatesGenRecursion` at
  * `apriori/apriori_final.java:70-110`), alongside the scalar
  * [[DotProduct]] and the aggregate [[TopKAgg]].
  *
  * ENUMERATION ORDER: k ascending, then lexicographic over positions —
  * the order of [[graft.operators.Apriori.subsetKeys]], the pure Scala
  * statement of the same enumeration that the specs compare against
  * row for row.
  *
  * WHOLE-STAGE CODEGEN: a [[CollectionGenerator]], not a
  * `CodegenFallback` row-at-a-time generator — `GenerateExec` compiles
  * a collection generator into the surrounding stage (the `inline`
  * path: the subsets materialize as one `ArrayData` of struct rows per
  * input row), so the enumeration feeds the downstream hash aggregation
  * without a per-row iterator boundary.
  *
  * BOUND: one input row may emit at most [[SubsetsGenerator.MaxRows]]
  * rows (a 16-item array without `k`; the Apriori callers slice to
  * `MaxBasket` = 14 first). A wider input fails the task with an error
  * naming the function and the array width, never a wrapped count.
  *
  * DUPLICATE-INPUT SEMANTICS: subsets are enumerated by POSITION
  * (index combinations), so an input array with value-equal elements
  * emits value-equal subsets once per index combination — `[a, a]`
  * yields "a", "a", "a a". This matches the DuckDB mask-join oracle.
  */
case class SubsetsGenerator(items: Expression, size: Option[Expression])
    extends Expression with CollectionGenerator {

  override def children: Seq[Expression] = items +: size.toSeq

  override def inline: Boolean = true

  override def position: Boolean = false

  override def collectionType: DataType =
    ArrayType(elementSchema, containsNull = false)

  override def elementSchema: StructType = StructType(
    StructField("itemset", StringType, nullable = false) ::
      StructField("k", IntegerType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult =
    (items.dataType, size) match {
      case (ArrayType(StringType, _), None) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), Some(k))
          if k.dataType == IntegerType && k.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (t, k) => TypeCheckResult.TypeCheckFailure(
        "graft_subsets expects (array<string> [, foldable int k]), got " +
          s"($t${k.map(e => s", ${e.dataType} foldable=${e.foldable}")
            .getOrElse("")})")
    }

  override def prettyName: String = "graft_subsets"

  /** The subset sizes to emit: every size, exactly `k`, or none (null k). */
  private lazy val (lo, hi): (Int, Int) = size match {
    case None => (1, Int.MaxValue)
    case Some(e) => e.eval() match {
      case null => (1, 0)
      case k: Int => (k, k)
    }
  }

  /** Interpreted path (GenerateExec outside codegen): the codegen
    * collection, iterated.
    */
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val out = SubsetsGenerator.subsetsOf(
      items.eval(input).asInstanceOf[ArrayData], lo, hi)
    Iterator.tabulate(out.numElements())(out.getStruct(_, 2))
  }

  /** Codegen path: `GenerateExec.codeGenCollection` consumes the
    * generated `ArrayData` of (itemset, k) struct rows inline in the
    * surrounding whole-stage-codegen loop. The collection must NEVER
    * be null (GenerateExec's collection loop reads `numElements()`
    * unguarded) — a null input array yields the EMPTY collection,
    * matching the interpreted path's zero rows.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val c = items.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(collectionType)
    ev.copy(
      code = c.code + code"""
        $javaType ${ev.value} = graft.functions.SubsetsGenerator.subsetsOf(
          ${c.isNull} ? null : ${c.value}, $lo, $hi);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SubsetsGenerator =
    copy(items = newChildren.head, size = size.map(_ => newChildren(1)))
}

/** SQL `graft_antecedents(items)`: one output row per (antecedent,
  * consequent) split of a frequent itemset — every non-empty PROPER
  * subset X of the input as the antecedent, its positional complement
  * as the consequent, both space-joined. The rule-expansion step of
  * [[graft.operators.Apriori.assocRules]]/`assocRulesMetrics` as a
  * codegen'd [[CollectionGenerator]]. Same positional duplicate
  * semantics and row bound as [[SubsetsGenerator]]; inputs are split
  * canonical itemsets (distinct by construction), where positional
  * complement = value complement.
  */
case class AntecedentsGenerator(child: Expression)
    extends UnaryExpression with CollectionGenerator {

  override def inline: Boolean = true

  override def position: Boolean = false

  override def collectionType: DataType =
    ArrayType(elementSchema, containsNull = false)

  override def elementSchema: StructType = StructType(
    StructField("antecedent", StringType, nullable = false) ::
      StructField("consequent", StringType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_antecedents expects array<string>, got $t")
  }

  override def prettyName: String = "graft_antecedents"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val out = SubsetsGenerator.antecedentsOf(
      child.eval(input).asInstanceOf[ArrayData])
    Iterator.tabulate(out.numElements())(out.getStruct(_, 2))
  }

  /** Null input → EMPTY collection (GenerateExec reads the collection
    * unguarded — see [[SubsetsGenerator.doGenCode]]).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val c = child.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(collectionType)
    ev.copy(
      code = c.code + code"""
        $javaType ${ev.value} =
          graft.functions.SubsetsGenerator.antecedentsOf(
            ${c.isNull} ? null : ${c.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): AntecedentsGenerator = copy(child = newChild)
}

object AntecedentsGenerator {

  private val ident = FunctionIdentifier("graft_antecedents")

  private val info = new ExpressionInfo(
    classOf[AntecedentsGenerator].getName, null, "graft_antecedents")

  private[functions] val builder: Seq[Expression] => Expression = {
    case Seq(c) => AntecedentsGenerator(c)
    case other => throw new IllegalArgumentException(
      s"graft_antecedents expects 1 argument, got ${other.size}")
  }

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(ident, info, builder)
}

object SubsetsGenerator {

  /** Most rows one input row may emit: the collection is materialized
    * per row, so this caps its memory (2^16 rows ≈ 10 MB of keys for a
    * 16-item array). 4× the Apriori callers' 2^14 − 1.
    */
  val MaxRows: Int = 1 << 16

  /** Space separator, built once (the key join below is byte-level). */
  private val Space = UTF8String.fromString(" ")

  private val Empty = new GenericArrayData(new Array[Any](0))

  private def itemsOf(arr: ArrayData): Array[UTF8String] = {
    // stay in UTF8String space end-to-end: the fan-out means the
    // per-SUBSET cost dominates — a decode/encode per subset would
    // dwarf the enumeration; concatWs is a byte copy
    val n = arr.numElements()
    val items = new Array[UTF8String](n)
    var i = 0
    while (i < n) { items(i) = arr.getUTF8String(i); i += 1 }
    items
  }

  /** Σ C(n, k) over k in [from, to], or an error naming `fn` and the
    * width `n` once the sum passes [[MaxRows]]. Each C(n, k) is built up
    * to its smaller side, where the running product is non-decreasing,
    * so it stops the moment it passes the bound and never overflows.
    */
  private def rowCount(fn: String, n: Int, from: Int, to: Int): Int = {
    var total = 0L
    var k = from
    while (k <= to && total <= MaxRows) {
      val kk = math.min(k, n - k)
      var c = 1L
      var i = 0
      while (i < kk && c <= MaxRows) { c = c * (n - i) / (i + 1); i += 1 }
      total += c
      k += 1
    }
    if (total > MaxRows) throw new IllegalArgumentException(
      s"$fn: a $n-item input array emits more than $MaxRows rows" +
        (if (from == to) s" of size $from" else "") +
        "; slice the array before enumerating it")
    total.toInt
  }

  /** The generator's walk: every subset of sizes [lo, hi] of `items`,
    * k ascending then lexicographic over positions, passed to `emit` as
    * (space-joined key, k). [[subsetsOf]] collects it into the codegen
    * collection; the level-wise Apriori loop counts it directly.
    */
  def foreachSubset(items: Array[UTF8String], lo: Int, hi: Int)(
      emit: (UTF8String, Int) => Unit): Unit = {
    val n = items.length
    val idx = new Array[Int](n)
    var k = math.max(lo, 1)
    val to = math.min(hi, n)
    while (k <= to) {
      val sel = new Array[UTF8String](k)
      var j = 0
      while (j < k) { idx(j) = j; j += 1 }
      var more = true
      while (more) {
        j = 0
        while (j < k) { sel(j) = items(idx(j)); j += 1 }
        emit(UTF8String.concatWs(Space, sel: _*), k)
        // advance: the rightmost position that can still move
        var p = k - 1
        while (p >= 0 && idx(p) == n - k + p) p -= 1
        if (p < 0) more = false
        else {
          idx(p) += 1
          var q = p + 1
          while (q < k) { idx(q) = idx(q - 1) + 1; q += 1 }
        }
      }
      k += 1
    }
  }

  /** The subsets of sizes [lo, hi] of `arr` as one ArrayData of
    * (itemset, k) struct rows, in [[foreachSubset]] order — the codegen
    * collection.
    */
  def subsetsOf(arr: ArrayData, lo: Int, hi: Int): ArrayData = {
    if (arr == null) return Empty
    val items = itemsOf(arr)
    val n = items.length
    val out = new Array[Any](
      rowCount("graft_subsets", n, math.max(lo, 1), math.min(hi, n)))
    var row = 0
    foreachSubset(items, lo, hi) { (key, k) =>
      out(row) = new GenericInternalRow(Array[Any](key, k))
      row += 1
    }
    new GenericArrayData(out)
  }

  /** The (antecedent, consequent) row of bitmask `m` over `items`:
    * set-bit positions joined as the antecedent, clear-bit positions
    * as the consequent, both in input order.
    */
  private def antecedentRow(items: Array[UTF8String], m: Int)
      : InternalRow = {
    val n = items.length
    val ka = Integer.bitCount(m)
    val a = new Array[UTF8String](ka)
    val c = new Array[UTF8String](n - ka)
    var i = 0
    var ja = 0
    var jc = 0
    while (i < n) {
      if (((m >>> i) & 1) != 0) { a(ja) = items(i); ja += 1 }
      else { c(jc) = items(i); jc += 1 }
      i += 1
    }
    InternalRow(
      UTF8String.concatWs(Space, a: _*),
      UTF8String.concatWs(Space, c: _*))
  }

  /** All (antecedent, consequent) splits of `arr` as one ArrayData of
    * 2-field struct rows — the [[AntecedentsGenerator]] collection:
    * 2^n − 2 rows (masks 1 .. 2^n − 2, non-empty proper subsets).
    */
  def antecedentsOf(arr: ArrayData): ArrayData = {
    if (arr == null) return Empty
    val items = itemsOf(arr)
    val total = rowCount("graft_antecedents", items.length, 1,
      items.length - 1)
    val out = new Array[Any](total)
    var m = 1
    while (m <= total) { out(m - 1) = antecedentRow(items, m); m += 1 }
    new GenericArrayData(out)
  }

  private val ident = FunctionIdentifier("graft_subsets")

  private val info = new ExpressionInfo(
    classOf[SubsetsGenerator].getName, null, "graft_subsets")

  private[functions] val builder: Seq[Expression] => Expression = {
    case Seq(c) => SubsetsGenerator(c, None)
    case Seq(c, k) => SubsetsGenerator(c, Some(k))
    case other => throw new IllegalArgumentException(
      s"graft_subsets expects 1 or 2 arguments, got ${other.size}")
  }

  /** Idempotent per-session registration, for sessions not built with
    * [[GraftExtensions]].
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(ident, info, builder)
}
