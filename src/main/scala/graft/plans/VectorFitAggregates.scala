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

/** Exact per-cell sums of `round(v, 12).cast("decimal(38,12)")` and
  * the count of those terms — the buffer of [[VectorMoments]] and
  * [[VectorMean]]. Each cell holds the running sum of the unscaled
  * decimal(38,12) terms as a 128-bit two's-complement integer (`hi`,
  * `lo`), so a sum is exact and independent of the order rows and
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
  *    a skipped term is not counted;
  *  - a running sum that reaches 10^38 unscaled (the decimal(38,12)
  *    limit of the grouped sum's buffer, checked after every add) stays
  *    null: the result is null, or the ANSI overflow error;
  *  - a cell that saw no non-null term is null.
  *
  * Cells are added on demand ([[ensure]]), so a buffer can sum vectors
  * of different lengths.
  */
final class FixedSums(initialCells: Int) {
  import FixedSums._

  var cells: Int = initialCells
  var hi = new Array[Long](cells)
  var lo = new Array[Long](cells)
  /** Per cell, the non-null terms added. */
  var counts = new Array[Long](cells)
  /** Per cell, whether the running sum overflowed (null until one does). */
  var overflow: Array[Boolean] = _

  /** Grow to at least `len` cells; a new cell has no term. */
  def ensure(len: Int): Unit = if (len > cells) {
    hi = java.util.Arrays.copyOf(hi, len)
    lo = java.util.Arrays.copyOf(lo, len)
    counts = java.util.Arrays.copyOf(counts, len)
    if (overflow != null) overflow = java.util.Arrays.copyOf(overflow, len)
    cells = len
  }

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
        counts(c) += 1
        return
      }
    }
    if (v.isNaN || v.isInfinite) return
    val rounded = JBigDecimal.valueOf(v).setScale(Scale, RoundingMode.HALF_UP).doubleValue
    val u = JBigDecimal.valueOf(rounded).setScale(Scale, RoundingMode.HALF_UP).unscaledValue
    if (u.abs.compareTo(Limit) >= 0) {
      if (failOnOverflow) throw DecimalErrors.termOutOfRange(rounded, Precision, Scale)
    } else {
      setChecked(c, value(c).add(u))
      counts(c) += 1
    }
  }

  private def addLong(c: Int, u: Long): Unit = {
    val l = lo(c) + u
    val h = hi(c) + (u >> 63) + (if (java.lang.Long.compareUnsigned(l, lo(c)) < 0) 1L else 0L)
    lo(c) = l
    hi(c) = h
    if (h >= LimitHi || h < -LimitHi) setChecked(c, value(c))
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
    ensure(other.cells)
    var c = 0
    while (c < other.cells) {
      counts(c) += other.counts(c)
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
  }

  /** Cell `c` as the replaced `sum(...).cast("double")` reads it: null
    * when empty or overflowed (ANSI: throws).
    */
  def result(c: Int, failOnOverflow: Boolean): java.lang.Double =
    if (overflowed(c)) {
      if (failOnOverflow) throw DecimalErrors.sumOverflow()
      null
    } else if (counts(c) == 0) null
    else if ((hi(c) == 0L && lo(c) >= 0L) || (hi(c) == -1L && lo(c) < 0L))
      JBigDecimal.valueOf(lo(c), Scale).doubleValue
    else new JBigDecimal(value(c), Scale).doubleValue

  def serializedSize: Int = 4 + 24 * cells + 1 + (if (overflow == null) 0 else cells)

  def write(bb: ByteBuffer): Unit = {
    bb.putInt(cells)
    bb.asLongBuffer().put(hi).put(lo).put(counts)
    bb.position(bb.position() + 24 * cells)
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
    bb.asLongBuffer().get(s.hi).get(s.lo).get(s.counts)
    bb.position(bb.position() + 24 * s.cells)
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
    def cell(c: Int) = s.result(c, failOnOverflow)
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

/** Elementwise mean of the vectors in a group — the k-means and PQ
  * M-step — without a row per element: per position, the exact
  * [[FixedSums]] sum of its elements' terms over their count, which is
  * `sum(t).cast("double") / count(t)` with `t = round(x, 12)
  * .cast("decimal(38,12)")` per (group, position) over the posexploded
  * vectors, re-collected in position order. Null vectors and null, NaN
  * or infinite elements add no term; a position with no term is null;
  * the result is as long as the longest vector seen, and null for a
  * group with no element at all. Overflow and ANSI errors follow
  * [[FixedSums]]. The sums are exact, so the mean does not depend on
  * partitioning or merge order.
  */
case class VectorMean(
    child: Expression,
    failOnOverflow: Boolean = SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FixedSums] {

  private lazy val isFloat = CentroidTable.elemIsFloat(child, prettyName)

  override def checkInputDataTypes(): TypeCheckResult = VectorFit.checkVectors(prettyName, children)

  override def createAggregationBuffer(): FixedSums = new FixedSums(0)

  override def update(buffer: FixedSums, input: InternalRow): FixedSums = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (v != null) {
      val len = v.numElements()
      buffer.ensure(len)
      var i = 0
      while (i < len) {
        if (!v.isNullAt(i)) buffer.add(i, CentroidTable.get(v, i, isFloat), failOnOverflow)
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: FixedSums, other: FixedSums): FixedSums = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: FixedSums): Any =
    if (buffer.cells == 0) null
    else VectorFit.doubles(Array.tabulate(buffer.cells) { i =>
      val sum = buffer.result(i, failOnOverflow)
      if (sum == null) null else java.lang.Double.valueOf(sum / buffer.counts(i).toDouble)
    })

  override def serialize(buffer: FixedSums): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.serializedSize)
    buffer.write(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): FixedSums = FixedSums.read(ByteBuffer.wrap(bytes))

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
