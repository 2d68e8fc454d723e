package graft.plans

import java.math.{BigInteger, RoundingMode, BigDecimal => JBigDecimal}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.DecimalErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact per-cell sums of `round(v, 12).cast("decimal(38,12)")` — the
  * buffer of [[VectorMoments]]. Each cell holds the running sum of the
  * unscaled decimal(38,12) terms as a 128-bit two's-complement integer
  * (`hi`, `lo`), so a sum is exact and independent of the order rows and
  * partial buffers are added in.
  *
  * The replaced `sum` over that cast is reproduced rule for rule:
  *  - a term is Spark's round (HALF_UP on the double's shortest decimal
  *    string) followed by Spark's cast (the same rule on the rounded
  *    double); most terms take a double fast path that is only used when
  *    the result cannot be a rounding tie, every other term takes
  *    Spark's own BigDecimal steps;
  *  - a NaN or infinite term casts to null and is skipped, as is a term
  *    past decimal(38,12) without ANSI mode (with it, the cast throws);
  *  - a running sum that reaches 10^38 unscaled (the decimal(38,12)
  *    limit of the grouped sum's buffer, checked after every add) stays
  *    null: the result is null, or the ANSI overflow error;
  *  - a cell that saw no non-null term is null.
  */
final class FixedSums(val cells: Int) {
  import FixedSums._

  val hi = new Array[Long](cells)
  val lo = new Array[Long](cells)
  /** Per cell, the terms skipped as null (null until one is). */
  var skipped: Array[Long] = _
  /** Per cell, whether the running sum overflowed (null until one does). */
  var overflow: Array[Boolean] = _

  /** Add the term of `v` to cell `c`. */
  def add(c: Int, v: Double, failOnOverflow: Boolean): Unit = {
    val x = v * 1e12
    if (x > -FastLimit && x < FastLimit) {
      // x is within |x|·3e-16 of the decimal the slow path rounds; away
      // from a tie both round to the same integer, and below 10^15 the
      // round-trip through the rounded double gives that integer back.
      val fl = math.floor(x)
      val f = x - fl
      if (math.abs(f - 0.5) > math.abs(x) * 1e-15 + 1e-9) {
        addLong(c, (if (f > 0.5) fl + 1 else fl).toLong)
        return
      }
    }
    if (v.isNaN || v.isInfinite) { skip(c); return }
    val rounded = JBigDecimal.valueOf(v).setScale(Scale, RoundingMode.HALF_UP).doubleValue
    val u = JBigDecimal.valueOf(rounded).setScale(Scale, RoundingMode.HALF_UP).unscaledValue
    if (u.abs.compareTo(Limit) >= 0) {
      if (failOnOverflow) throw DecimalErrors.termOutOfRange(rounded, Precision, Scale)
      skip(c)
    } else setChecked(c, value(c).add(u))
  }

  private def addLong(c: Int, u: Long): Unit = {
    val l = lo(c) + u
    val h = hi(c) + (u >> 63) + (if (java.lang.Long.compareUnsigned(l, lo(c)) < 0) 1L else 0L)
    lo(c) = l
    hi(c) = h
    if (h >= LimitHi || h < -LimitHi) setChecked(c, value(c))
  }

  private def skip(c: Int): Unit = {
    if (skipped == null) skipped = new Array[Long](cells)
    skipped(c) += 1
  }

  private def markOverflow(c: Int): Unit = {
    if (overflow == null) overflow = new Array[Boolean](cells)
    overflow(c) = true
    hi(c) = 0L
    lo(c) = 0L
  }

  def overflowed(c: Int): Boolean = overflow != null && overflow(c)

  def value(c: Int): BigInteger =
    BigInteger.valueOf(hi(c)).shiftLeft(64).add(
      new BigInteger(1, ByteBuffer.allocate(8).putLong(lo(c)).array()))

  private def setChecked(c: Int, s: BigInteger): Unit =
    if (s.abs.compareTo(Limit) >= 0) markOverflow(c)
    else { lo(c) = s.longValue; hi(c) = s.shiftRight(64).longValue }

  def merge(other: FixedSums): Unit = {
    var c = 0
    while (c < cells) {
      if (other.overflowed(c)) markOverflow(c)
      else if (!overflowed(c)) {
        val l = lo(c) + other.lo(c)
        val h = hi(c) + other.hi(c) + (if (java.lang.Long.compareUnsigned(l, lo(c)) < 0) 1L else 0L)
        // both magnitudes are below 10^38 < 2^127: the 128-bit sum wraps
        // only where both signs agree and the result's differs
        if (((hi(c) ^ h) & (other.hi(c) ^ h)) < 0) markOverflow(c)
        else {
          lo(c) = l
          hi(c) = h
          if (h >= LimitHi || h < -LimitHi) setChecked(c, value(c))
        }
      }
      c += 1
    }
    if (other.skipped != null) {
      if (skipped == null) skipped = new Array[Long](cells)
      c = 0
      while (c < cells) { skipped(c) += other.skipped(c); c += 1 }
    }
  }

  /** Cell `c` as the replaced `sum(...).cast("double")` reads it after
    * `terms` added terms: null when empty or overflowed (ANSI: throws).
    */
  def result(c: Int, terms: Long, failOnOverflow: Boolean): java.lang.Double =
    if (overflowed(c)) {
      if (failOnOverflow) throw DecimalErrors.sumOverflow()
      null
    } else if (terms - (if (skipped == null) 0L else skipped(c)) <= 0) null
    else if ((hi(c) == 0L && lo(c) >= 0L) || (hi(c) == -1L && lo(c) < 0L))
      JBigDecimal.valueOf(lo(c), Scale).doubleValue
    else new JBigDecimal(value(c), Scale).doubleValue

  def serializedSize: Int =
    4 + 16 * cells + 1 + (if (skipped == null) 0 else 8 * cells) +
      1 + (if (overflow == null) 0 else cells)

  def write(bb: ByteBuffer): Unit = {
    bb.putInt(cells)
    bb.asLongBuffer().put(hi).put(lo)
    bb.position(bb.position() + 16 * cells)
    bb.put((if (skipped == null) 0 else 1).toByte)
    if (skipped != null) { bb.asLongBuffer().put(skipped); bb.position(bb.position() + 8 * cells) }
    bb.put((if (overflow == null) 0 else 1).toByte)
    if (overflow != null) overflow.foreach(o => bb.put((if (o) 1 else 0).toByte))
  }
}

object FixedSums {
  val Precision = 38
  val Scale = 12
  /** 10^38: the smallest unscaled magnitude past decimal(38,12). */
  val Limit: BigInteger = BigInteger.TEN.pow(Precision)
  /** The high word of 10^38: below it in magnitude no check is needed. */
  val LimitHi: Long = Limit.shiftRight(64).longValue
  private val FastLimit = 1e15

  def read(bb: ByteBuffer): FixedSums = {
    val s = new FixedSums(bb.getInt)
    bb.asLongBuffer().get(s.hi).get(s.lo)
    bb.position(bb.position() + 16 * s.cells)
    if (bb.get() == 1) {
      s.skipped = new Array[Long](s.cells)
      bb.asLongBuffer().get(s.skipped)
      bb.position(bb.position() + 8 * s.cells)
    }
    if (bb.get() == 1) s.overflow = Array.fill(s.cells)(bb.get() == 1)
    s
  }
}

/** Shared input rules of the vector-fit aggregates. */
private[plans] object VectorFit {
  def isVector(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  def checkVectors(name: String, inputs: Seq[Expression]): TypeCheckResult =
    inputs.find(e => !isVector(e.dataType)) match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"$name: input must be array<float|double>, got ${e.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  def doubles(values: Array[java.lang.Double]): ArrayData =
    if (values.contains(null)) new GenericArrayData(Array.tabulate[Any](values.length)(values(_)))
    else UnsafeArrayData.fromPrimitiveArray(values.map(_.doubleValue))
}

/** Buffer of [[VectorMoments]]: the row counts plus d cells of Σx and
  * d·d cells of Σx·yᵀ (row-major) after them.
  */
final class MomentsBuffer(val sums: FixedSums) {
  var n = 0L
  var wrongLength = 0L
  var nullElements = 0L
}

/** Exact first and second moments of vectors in one pass: n, Σx and
  * Σx·yᵀ over the rows where both `x` and `y` are non-null, with every
  * term summed as `sum(round(t, 12).cast("decimal(38,12)")).cast("double")`
  * sums it — bit for bit, overflow included ([[FixedSums]]) — but with
  * no row per term: each row folds its d + d² terms into a 128-bit
  * fixed-point buffer and partial buffers merge map-side, so the plan
  * carries n rows where the explode it replaces carried n·d².
  *
  * Contract: both vectors have exactly `dims` elements and no null
  * element. A row that breaks it adds nothing to the sums; it is counted
  * in `wrong_length` or `null_elements` so the caller can reject the
  * input by name. The result is a struct (n, wrong_length, null_elements,
  * sum_x, sum_xy), `sum_xy` the d·d matrix row-major; a cell is null
  * where the replaced sum is null. Because the sums are exact, the result
  * does not depend on partitioning or merge order — except whether a sum
  * that passes the decimal(38,12) limit on the way overflows, which
  * depends on the add order for the replaced sum too.
  */
case class VectorMoments(
    x: Expression,
    y: Expression,
    dims: Int,
    failOnOverflow: Boolean = SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MomentsBuffer] {

  require(dims > 0, s"dims must be positive, got $dims")

  private lazy val xFloat = CentroidTable.elemIsFloat(x, prettyName)
  private lazy val yFloat = CentroidTable.elemIsFloat(y, prettyName)
  /** x·xᵀ is symmetric: fold the upper triangle and mirror it at eval. */
  private lazy val symmetric = x.semanticEquals(y)

  override def checkInputDataTypes(): TypeCheckResult = VectorFit.checkVectors(prettyName, children)

  override def createAggregationBuffer(): MomentsBuffer =
    new MomentsBuffer(new FixedSums(dims + dims * dims))

  private def valid(a: ArrayData, buffer: MomentsBuffer): Boolean =
    if (a.numElements() != dims) { buffer.wrongLength += 1; false }
    else if (CentroidTable.hasNull(a, 0, dims)) { buffer.nullElements += 1; false }
    else true

  override def update(buffer: MomentsBuffer, input: InternalRow): MomentsBuffer = {
    val xa = x.eval(input).asInstanceOf[ArrayData]
    val ya = if (symmetric) xa else y.eval(input).asInstanceOf[ArrayData]
    if (xa != null && ya != null && valid(xa, buffer) && (symmetric || valid(ya, buffer))) {
      val xv = CentroidTable.toDoubles(xa, xFloat)
      val yv = if (symmetric) xv else CentroidTable.toDoubles(ya, yFloat)
      val s = buffer.sums
      buffer.n += 1
      var i = 0
      while (i < dims) {
        s.add(i, xv(i), failOnOverflow)
        val xi = xv(i)
        val row = dims + i * dims
        var j = if (symmetric) i else 0
        while (j < dims) { s.add(row + j, xi * yv(j), failOnOverflow); j += 1 }
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: MomentsBuffer, other: MomentsBuffer): MomentsBuffer = {
    buffer.n += other.n
    buffer.wrongLength += other.wrongLength
    buffer.nullElements += other.nullElements
    buffer.sums.merge(other.sums)
    buffer
  }

  override def eval(buffer: MomentsBuffer): Any = {
    val s = buffer.sums
    def cell(c: Int) = s.result(c, buffer.n, failOnOverflow)
    val sumX = Array.tabulate(dims)(cell)
    val sumXY = Array.tabulate(dims * dims) { c =>
      val (i, j) = (c / dims, c % dims)
      cell(dims + (if (symmetric && j < i) j * dims + i else c))
    }
    InternalRow(buffer.n, buffer.wrongLength, buffer.nullElements,
      VectorFit.doubles(sumX), VectorFit.doubles(sumXY))
  }

  override def serialize(buffer: MomentsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(24 + buffer.sums.serializedSize)
    bb.putLong(buffer.n).putLong(buffer.wrongLength).putLong(buffer.nullElements)
    buffer.sums.write(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MomentsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val (n, wrongLength, nullElements) = (bb.getLong, bb.getLong, bb.getLong)
    val buffer = new MomentsBuffer(FixedSums.read(bb))
    buffer.n = n
    buffer.wrongLength = wrongLength
    buffer.nullElements = nullElements
    buffer
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("wrong_length", LongType, nullable = false),
    StructField("null_elements", LongType, nullable = false),
    StructField("sum_x", ArrayType(DoubleType, containsNull = true), nullable = false),
    StructField("sum_xy", ArrayType(DoubleType, containsNull = true), nullable = false)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(x, y)
  override def prettyName: String = "graft_vector_moments"

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMoments =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMoments =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorMoments =
    copy(x = newChildren(0), y = newChildren(1))
}

/** Buffer of [[VectorMean]]: per position, the double sum and the count
  * of non-null elements, as long as the longest vector seen.
  */
final class MeanBuffer {
  var sums: Array[Double] = Array.emptyDoubleArray
  var counts: Array[Long] = Array.emptyLongArray

  def ensure(len: Int): Unit = if (len > sums.length) {
    sums = java.util.Arrays.copyOf(sums, len)
    counts = java.util.Arrays.copyOf(counts, len)
  }
}

/** Elementwise mean of the vectors in a group — the k-means and PQ
  * M-step — without a row per element: it is `avg` per (group, position)
  * over the posexploded vectors, re-collected in position order, folded
  * into one double sum and one count per position. Null vectors and null
  * elements are skipped as `avg` skips them; a position where every
  * element is null is null; a group with no element at all is null (the
  * exploded form has no row for it). The sums are doubles, added in row
  * order within a partition and merged in arrival order, as `avg` adds
  * them, so on one partition the result is bit-identical to `avg`.
  */
case class VectorMean(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MeanBuffer] {

  private lazy val isFloat = CentroidTable.elemIsFloat(child, prettyName)

  override def checkInputDataTypes(): TypeCheckResult = VectorFit.checkVectors(prettyName, children)

  override def createAggregationBuffer(): MeanBuffer = new MeanBuffer

  override def update(buffer: MeanBuffer, input: InternalRow): MeanBuffer = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (v != null) {
      val len = v.numElements()
      buffer.ensure(len)
      var i = 0
      while (i < len) {
        if (!v.isNullAt(i)) {
          buffer.sums(i) += CentroidTable.get(v, i, isFloat)
          buffer.counts(i) += 1
        }
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: MeanBuffer, other: MeanBuffer): MeanBuffer = {
    buffer.ensure(other.sums.length)
    var i = 0
    while (i < other.sums.length) {
      buffer.sums(i) += other.sums(i)
      buffer.counts(i) += other.counts(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: MeanBuffer): Any =
    if (buffer.sums.isEmpty) null
    else VectorFit.doubles(Array.tabulate(buffer.sums.length) { i =>
      if (buffer.counts(i) == 0) null
      else java.lang.Double.valueOf(buffer.sums(i) / buffer.counts(i).toDouble)
    })

  override def serialize(buffer: MeanBuffer): Array[Byte] = {
    val len = buffer.sums.length
    val bb = ByteBuffer.allocate(4 + 16 * len)
    bb.putInt(len)
    bb.asDoubleBuffer().put(buffer.sums)
    bb.position(4 + 8 * len)
    bb.asLongBuffer().put(buffer.counts)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MeanBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buffer = new MeanBuffer
    buffer.ensure(bb.getInt)
    bb.asDoubleBuffer().get(buffer.sums)
    bb.position(4 + 8 * buffer.sums.length)
    bb.asLongBuffer().get(buffer.counts)
    buffer
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_vector_mean"

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMean =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMean =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorMean =
    copy(child = newChildren(0))
}
