package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Bounded top-k buffer: parallel (score, id) arrays kept sorted under
  * the total order (score DESC, id ASC), at most k entries. */
final class TopKBuf(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** True iff (s1, i1) ranks strictly better than (s2, i2) under
    * (score DESC, id ASC). Double.compare semantics order NaN above
    * every value — the same placement Spark's descending sort gives
    * NaN, so the aggregate and the rank-window formulation agree on
    * every input. */
  private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    if (c != 0) c > 0 else i1 < i2
  }

  def insert(s: Double, id: Long): Unit = {
    if (size == k && !better(s, id, scores(k - 1), ids(k - 1))) return
    // find insertion slot (k ≤ 16: linear scan beats binary search)
    var pos = if (size == k) k - 1 else size
    while (pos > 0 && better(s, id, scores(pos - 1), ids(pos - 1))) pos -= 1
    var j = (if (size == k) k - 1 else size)
    while (j > pos) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(pos) = s; ids(pos) = id
    if (size < k) size += 1
  }
}

/** Combinable bounded top-k aggregate — the per-group rank window
  * (`row_number() OVER (PARTITION BY g ORDER BY score DESC, id) <= k`)
  * re-expressed as a TypedImperativeAggregate so it PARTIALLY
  * AGGREGATES: each scan partition reduces to one ≤ k-entry buffer per
  * group BEFORE the exchange, so the shuffle carries groups·k rows
  * instead of every candidate row. The window form has no partial step
  * — at a 100× study point the kNN-graph top-M window
  * shuffled 353M candidate rows; this buffer caps it at n·16. Output:
  * the ids in rank order (the consumers only use the set). Top-k under
  * a total order is merge-order-insensitive, so the result is
  * deterministic at any partitioning — hash-gate safe.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] {

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val sv = score.eval(input)
    val iv = id.eval(input)
    if (sv != null && iv != null)
      buf.insert(sv.asInstanceOf[Double], iv.asInstanceOf[Long])
    buf
  }

  override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = {
    var i = 0
    while (i < b2.size) { b1.insert(b2.scores(i), b2.ids(i)); i += 1 }
    b1
  }

  override def eval(buf: TopKBuf): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf.ids, buf.size))

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKBuf(k)
    var i = 0
    // entries arrive already rank-ordered; insert preserves the order
    while (i < n) { buf.insert(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKAgg {
  /** topk(score, id, k): the ids of the k best (score DESC, id ASC)
    * rows of the group, in rank order, as an aggregate Column. */
  def topk(score: Column, id: Column, k: Int): Column =
    bridge.column(
      TopKAgg(bridge.expression(score), bridge.expression(id), k)
        .toAggregateExpression())
}
