package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k state: at most `k` (score, id) pairs, best-k by
  * (score DESC, id ASC). The heap keeps the WORST retained pair at the
  * root so insert is O(log k) and memory is O(k) — the property that
  * makes the aggregate scale: a task scoring 10M candidate pairs for a
  * query carries k rows of state, not 10M (collect_list+slice carries
  * all of them until the final slice). */
final class TopKState(val k: Int) {
  // "worst first": lower score is greater (dequeued first); on score
  // ties the HIGHER id is worse (tie-break contract is id ASC)
  private val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }
  private val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst)

  def insert(score: Double, id: Long): Unit =
    if (pq.size < k) pq.enqueue((score, id))
    else {
      val w = pq.head
      if (score > w._1 || (score == w._1 && id < w._2)) {
        pq.dequeue()
        pq.enqueue((score, id))
      }
    }

  def mergeFrom(o: TopKState): Unit = o.pairs.foreach(p => insert(p._1, p._2))

  def pairs: Array[(Double, Long)] = pq.toArray

  /** Best-k in output order (score DESC, id ASC). */
  def sorted: Array[(Double, Long)] =
    pairs.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
}

/** `graft_topk(score, id, k)` — native bounded-heap top-k aggregate
  * (TypedImperativeAggregate, plans into ObjectHashAggregate with a real
  * partial/merge split). Returns ARRAY<STRUCT<score: DOUBLE, id: BIGINT>>
  * ordered score DESC, id ASC.
  *
  * This is THE scale shape for per-key top-k: partial state is O(k) per
  * group per task and the shuffle carries ≤ tasks·k rows per group,
  * against a window's full shuffle of every scored row into one
  * partition per key. Reference analog: the aggregate expression layer
  * (catalyst/expressions/aggregates.scala) — the reference had no
  * bounded-state aggregate; this is the §7 extension path applied to
  * aggregation. Null score/id pairs are skipped (standard aggregate
  * input-null semantics). */
case class TopKPairs(
    first: Expression, second: Expression, third: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKState] with TernaryLike[Expression] {

  private lazy val k: Int = third.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_topk: k must be an integer literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == DoubleType && second.dataType == LongType &&
        third.foldable &&
        (third.dataType == IntegerType || third.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_topk requires (DOUBLE, BIGINT, literal INT), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(b: TopKState, input: InternalRow): TopKState = {
    val s = first.eval(input)
    val i = second.eval(input)
    if (s != null && i != null) b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKState, o: TopKState): TopKState = { b.mergeFrom(o); b }

  override def eval(b: TopKState): Any =
    new GenericArrayData(b.sorted.map(p => InternalRow(p._1, p._2)))

  override def serialize(b: TopKState): Array[Byte] = {
    val ps = b.pairs
    val buf = ByteBuffer.allocate(4 + ps.length * 16)
    buf.putInt(ps.length)
    ps.foreach { p => buf.putDouble(p._1); buf.putLong(p._2) }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val st = new TopKState(k)
    var i = 0
    while (i < n) { st.insert(buf.getDouble, buf.getLong); i += 1 }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKPairs =
    copy(first = newFirst, second = newSecond, third = newThird)
}
