package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct sketch (Beyer et al. SIGMOD'07):
  * keeps the k smallest DISTINCT hash values per group in a bounded
  * ordered set, with map-side partial aggregation. From the result
  * array (ascending), D̂ = (k−1)·M/h_k where M is the hash space; two
  * sketches MERGE by keeping the k smallest of their union, which is
  * what makes set-operation cardinalities (union / intersection via
  * the Jaccard of the merged sketch) computable WITHOUT re-scanning —
  * the audience-overlap question a 100 TB event log cannot answer by
  * `count(DISTINCT)` joins.
  *
  * Deduplication happens inside the buffer (a duplicate hash is a
  * no-op), so the input needs NO distinct shuffle first — each input
  * partition reduces to ≤ k longs before the exchange. Unlike HLL,
  * the sketch is exact when the group has < k distinct values.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k > 0, "k must be positive")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buffer: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (buffer.size < k) { buffer.add(v); () }
    else if (v < buffer.last) {
      if (buffer.add(v)) { buffer.remove(buffer.last); () }
    }
  }

  override def update(
      buffer: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def merge(
      buffer: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    other.forEach(v => add(buffer, v))
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Any](buffer.size)
    var i = 0
    val it = buffer.iterator()
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 8)
    bb.putInt(buffer.size)
    buffer.forEach(v => { bb.putLong(v); () })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_kmv"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren(0))
}

object KmvSketch {
  /** The sketch over any integral hash, cast to bigint at analysis time. */
  def coerced(hash: Expression, k: Int): KmvSketch = KmvSketch(Cast(hash, LongType), k)
}
