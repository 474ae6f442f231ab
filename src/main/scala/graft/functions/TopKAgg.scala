package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keeps the k best (score, id) pairs per
  * group in a fixed-size heap — `graft_topk(score, id, k)` →
  * `ARRAY<STRUCT<neighbor_id, cos_sim, rank>>` ordered by
  * (score DESC, id ASC).
  *
  * This is the scale refinement of window-ranked top-k: a window must
  * shuffle EVERY scored row to its group's partition before ranking,
  * while a TypedImperativeAggregate participates in partial aggregation
  * — each map task forwards at most k pairs per group, so the shuffle
  * volume drops from O(corpus) to O(groups × k). Tie order matches the
  * ranking window exactly (score descending, id ascending), so the
  * results are row-identical to the `row_number` formulation and share
  * its DuckDB oracle.
  *
  * Buffer state is O(k); serialization is a flat (count, score, id)*
  * byte stream.
  *
  * Input contract, checked at analysis: score DOUBLE, id BIGINT, k a
  * foldable INT ≥ 1 (the heap size is fixed before the first row).
  */
case class TopKAgg(
    scoreExpr: Expression,
    idExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  override def checkInputDataTypes(): TypeCheckResult =
    (scoreExpr.dataType, idExpr.dataType, kExpr.dataType) match {
      case (DoubleType, LongType, IntegerType) if kExpr.foldable =>
        kExpr.eval() match {
          case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
          case n => TypeCheckResult.TypeCheckFailure(
            s"graft_topk expects k >= 1, got $n")
        }
      case (st, it, kt) => TypeCheckResult.TypeCheckFailure(
        "graft_topk expects (double score, bigint id, foldable int " +
          s"k >= 1), got ($st, $it, $kt foldable=${kExpr.foldable})")
    }

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  // head = the WORST kept pair (lowest score; among ties, highest id),
  // so exceeding size k evicts correctly in O(log k).
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.by { case (s, id) => (-s, id) }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null) {
      buf.enqueue((s.asInstanceOf[Double], id.asInstanceOf[Long]))
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)])
      : mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { p =>
      buf.enqueue(p)
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val best = buf.toArray.sortBy { case (s, id) => (-s, id) }
    new GenericArrayData(best.zipWithIndex.map { case ((s, id), i) =>
      new GenericInternalRow(Array[Any](id, s, i + 1))
    })
  }

  override def serialize(
      buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, id) => out.writeDouble(s); out.writeLong(id) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(
      bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.enqueue((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = false),
    StructField("rank", IntegerType, nullable = false))))

  override def nullable: Boolean = false

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr)

  override def prettyName: String = "graft_topk"

  override def withNewMutableAggBufferOffset(offset: Int): TopKAgg =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): TopKAgg =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1),
      kExpr = newChildren(2))
}

object TopKAgg {

  private val ident = FunctionIdentifier("graft_topk")

  private val info =
    new ExpressionInfo(classOf[TopKAgg].getName, null, "graft_topk")

  private[functions] val builder: Seq[Expression] => Expression = {
    case Seq(s, id, k) => TopKAgg(s, id, k)
    case other => throw new IllegalArgumentException(
      s"graft_topk expects 3 arguments, got ${other.size}")
  }

  /** Idempotent per-session registration (mirrors [[DotProduct]]). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(ident, info, builder)
}
