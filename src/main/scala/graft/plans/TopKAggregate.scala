package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-memory top-k per group: keeps the k best (score desc, id
  * asc) pairs in a heap, with map-side partial aggregation.
  *
  * This is the scale-shape for distributed kNN: the window-function
  * formulation (`row_number() OVER (PARTITION BY query ORDER BY sim)`)
  * shuffles EVERY scored candidate row to sort it, while this aggregate
  * reduces each input partition to <= k rows per group before the
  * exchange — on a 10^9-row corpus the shuffle shrinks from the corpus
  * size to (partitions x k) per query. (The reference's HNSW answers
  * top-k from a single-node graph walk, reference:
  * embeddinghub/embeddingstore/index.h approx_nearest; a bounded
  * mergeable heap is the distributed equivalent of its result list.)
  *
  * Result: array<struct<id, score>> sorted best-first; ties broken by
  * ascending id so results are deterministic and oracle-comparable.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, "k must be positive")

  // "greater" = worse: head of the queue is the current worst entry.
  private val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    override def compare(x: (Double, Long), y: (Double, Long)): Int = {
      val c = java.lang.Double.compare(y._1, x._1)
      if (c != 0) c else java.lang.Long.compare(x._2, y._2)
    }
  }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](worstFirst)

  override def update(
      buffer: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      add(buffer, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    }
    buffer
  }

  override def merge(
      buffer: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(e => add(buffer, e))
    buffer
  }

  private def add(
      buffer: mutable.PriorityQueue[(Double, Long)], e: (Double, Long)): Unit = {
    if (buffer.size < k) buffer.enqueue(e)
    else if (worstFirst.compare(e, buffer.head) > 0) () // e is worse than the worst
    else { buffer.dequeue(); buffer.enqueue(e) }
  }

  override def eval(buffer: mutable.PriorityQueue[(Double, Long)]): Any = {
    // worstFirst orders "greater = worse", so an ascending sort is
    // best-first already.
    val sorted = buffer.toArray.sorted(worstFirst)
    new GenericArrayData(sorted.map(e => InternalRow(e._2, e._1)): Array[Any])
  }

  override def serialize(buffer: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    buffer.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType), StructField("score", DoubleType))))

  override def nullable: Boolean = false

  override def children: Seq[Expression] = Seq(score, id)

  override def prettyName: String = "graft_topk"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKByScore {
  /** The aggregate over any numeric score and integral id: both are
    * cast here, at analysis time, instead of ClassCastException-ing
    * inside the aggregate buffer at execution time.
    */
  def coerced(score: Expression, id: Expression, k: Int): TopKByScore =
    TopKByScore(Cast(score, DoubleType), Cast(id, LongType), k)
}
