package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/** A small centroid matrix — IVF cells, k-means centroids, or the
  * sub-centroids of one PQ subspace — collected once on the driver and
  * held by the nearest-centroid kernels below as a reference object
  * (the way [[MatrixApply]] holds its matrix). Collecting it is the
  * same driver-side read `broadcast()` made for the centroid cross-join
  * these kernels replace, so the matrix size limit is unchanged.
  *
  * Rows are kept in ascending id order, so "ties go to the smaller id"
  * is "ties go to the earlier row". A score against one centroid is
  * null when the input or the centroid is null, has a null element, or
  * the two lengths differ — the null rule of [[CosineSimilarity]] and
  * [[L2SquaredDistance]]. Scores are ranked by Spark's own ordering of
  * nullable doubles (null below everything, NaN above everything,
  * -0.0 == 0.0), the ordering the replaced max_by / min_by / row_number
  * forms ranked by; cosine and L2 accumulate in ascending index order
  * exactly as those kernels do, so every choice is bit-identical.
  */
final class CentroidTable private (
    val ids: Array[Long],
    val idType: DataType,
    rows: Array[Array[Double]], // null: the centroid array itself is null
    nullAt: Array[Array[Boolean]], // null: the centroid has no null element
    norms: Array[Double] // sqrt(Σ c_i²), the centroid half of the cosine denominator
) extends Serializable {
  import CentroidTable._

  def size: Int = ids.length
  def isEmpty: Boolean = ids.isEmpty

  private def scorable(j: Int, len: Int): Boolean =
    rows(j) != null && nullAt(j) == null && rows(j).length == len

  private def cosine(x: Array[Double], xNorm: Double, j: Int): Double = {
    val c = rows(j)
    var dot = 0.0
    var i = 0
    while (i < c.length) { dot += x(i) * c(i); i += 1 }
    dot / (xNorm * norms(j))
  }

  private def l2(x: Array[Double], off: Int, j: Int): Double = {
    val c = rows(j)
    var acc = 0.0
    var i = 0
    while (i < c.length) { val d = x(off + i) - c(i); acc += d * d; i += 1 }
    acc
  }

  /** Positions of the `n` centroids most cosine-similar to `x`, best
    * first (`x` null: the input is null or has a null element, so
    * every score is null and the first `n` rows win).
    */
  private[plans] def topCosine(x: Array[Double], n: Int): Array[Int] = {
    val keep = math.max(0, math.min(n, size))
    val best = new Array[Int](keep)
    val bestScore = new Array[Double](keep)
    val bestNull = new Array[Boolean](keep)
    var filled = 0
    val xNorm = if (x == null) 0.0 else { var s = 0.0; x.foreach(v => s += v * v); math.sqrt(s) }
    var j = 0
    while (j < size && keep > 0) {
      val isNull = x == null || !scorable(j, x.length)
      val s = if (isNull) 0.0 else cosine(x, xNorm, j)
      // insertion point: after every kept entry that ranks >= this one
      var p = filled
      while (p > 0 && compare(bestNull(p - 1), bestScore(p - 1), isNull, s) < 0) p -= 1
      if (p < keep) {
        val last = math.min(filled, keep - 1)
        System.arraycopy(best, p, best, p + 1, last - p)
        System.arraycopy(bestScore, p, bestScore, p + 1, last - p)
        System.arraycopy(bestNull, p, bestNull, p + 1, last - p)
        best(p) = j; bestScore(p) = s; bestNull(p) = isNull
        if (filled < keep) filled += 1
      }
      j += 1
    }
    best
  }

  /** Position of the centroid nearest in squared L2 to the subvector
    * x[off, off + len) (`valid` false: the subvector is null or has a
    * null element). A null score ranks lowest, so it wins an argmin.
    */
  private[plans] def nearestL2(x: Array[Double], off: Int, len: Int, valid: Boolean): Int = {
    var best = 0
    var bestNull = true
    var bestScore = 0.0
    var j = 0
    while (j < size) {
      val isNull = !valid || !scorable(j, len)
      val s = if (isNull) 0.0 else l2(x, off, j)
      if (j == 0 || compare(isNull, s, bestNull, bestScore) < 0) {
        best = j; bestNull = isNull; bestScore = s
      }
      j += 1
    }
    best
  }

  /** Squared L2 from the subvector x[off, off + len) to every centroid,
    * in id order, null where the pair is not scorable.
    */
  private[plans] def l2Row(x: Array[Double], off: Int, len: Int, valid: Boolean): ArrayData =
    if (valid && (0 until size).forall(scorable(_, len)))
      UnsafeArrayData.fromPrimitiveArray(Array.tabulate(size)(l2(x, off, _)))
    else new GenericArrayData(Array.tabulate[Any](size)(j =>
      if (valid && scorable(j, len)) l2(x, off, j) else null))

  /** Elementwise `x - centroid(cell)` with zip_with's null rule: the
    * shorter side is padded with nulls, a null element gives a null
    * element, and an unknown cell or a null centroid gives null.
    */
  private[plans] def residual(x: ArrayData, isFloat: Boolean, cell: Long): ArrayData = {
    val j = java.util.Arrays.binarySearch(ids, cell)
    if (j < 0 || rows(j) == null) return null
    val c = rows(j)
    val n = math.max(x.numElements(), c.length)
    def isNull(i: Int) = i >= x.numElements() || i >= c.length || x.isNullAt(i) ||
      (nullAt(j) != null && nullAt(j)(i))
    if ((0 until n).exists(isNull))
      new GenericArrayData(Array.tabulate[Any](n)(i => if (isNull(i)) null else get(x, i, isFloat) - c(i)))
    else UnsafeArrayData.fromPrimitiveArray(Array.tabulate(n)(i => get(x, i, isFloat) - c(i)))
  }

  private[plans] def idArray(positions: Array[Int]): ArrayData =
    if (idType == IntegerType) UnsafeArrayData.fromPrimitiveArray(positions.map(p => ids(p).toInt))
    else UnsafeArrayData.fromPrimitiveArray(positions.map(ids(_)))

  /** Centroid `j` as collected: null elements and a null vector restored. */
  private[plans] def centroid(j: Int): Seq[java.lang.Double] =
    if (rows(j) == null) null
    else rows(j).indices.map(i =>
      if (nullAt(j) != null && nullAt(j)(i)) null else java.lang.Double.valueOf(rows(j)(i)))

  /** The same centroids with ids 0..size-1 in id order. */
  private[plans] def redensified: CentroidTable =
    CentroidTable(idType, ids.indices.map(j => j.toLong -> centroid(j)))

  /** The table as a small local relation (idCol, vecCol array<double>),
    * rows in id order — the k-row result of a fit, with no plan behind it.
    */
  def toFrame(spark: SparkSession, idCol: String, vecCol: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ids.indices.map(j => Row(idValue(j), centroid(j))): _*),
      StructType(Seq(
        StructField(idCol, idType, nullable = false),
        StructField(vecCol, ArrayType(DoubleType, containsNull = true)))))

  private[plans] def idValue(j: Int): Any = if (idType == IntegerType) ids(j).toInt else ids(j)

  override def toString: String = s"CentroidTable(${ids.length} centroids)"
}

object CentroidTable {

  /** Spark's ordering of nullable doubles: null lowest, then
    * SQLOrderingUtil.compareDoubles (NaN highest, -0.0 == 0.0).
    */
  private[plans] def compare(aNull: Boolean, a: Double, bNull: Boolean, b: Double): Int =
    if (aNull) { if (bNull) 0 else -1 }
    else if (bNull) 1
    else SQLOrderingUtil.compareDoubles(a, b)

  /** Whether a kernel's vector input is array<float> (else array<double>). */
  private[plans] def elemIsFloat(e: Expression, kernel: String): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"$kernel: input must be array<float|double>, got $other")
  }

  private[plans] def get(x: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)

  private[plans] def hasNull(x: ArrayData, from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) { if (x.isNullAt(i)) return true; i += 1 }
    false
  }

  /** `x` as doubles (null elements read as 0.0; callers check them). */
  private[plans] def toDoubles(x: ArrayData, isFloat: Boolean): Array[Double] = {
    val out = new Array[Double](x.numElements())
    var i = 0
    while (i < out.length) { if (!x.isNullAt(i)) out(i) = get(x, i, isFloat); i += 1 }
    out
  }

  /** The vector of a row for whole-vector scoring: null when the input
    * is null or has a null element (every score is then null).
    */
  private[plans] def scoringVector(x: ArrayData, isFloat: Boolean): Array[Double] =
    if (x == null || hasNull(x, 0, x.numElements())) null else toDoubles(x, isFloat)

  private[plans] def idOf(v: Any, what: String): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case null => throw new IllegalArgumentException(s"$what has a null id")
    case other => throw new IllegalArgumentException(
      s"$what ids must be int or bigint, got ${other.getClass.getSimpleName}")
  }

  private[plans] def toBoxed(v: Any): java.lang.Double = v match {
    case null => null
    case f: Float => java.lang.Double.valueOf(f.toDouble)
    case d: Double => java.lang.Double.valueOf(d)
    case other => throw new IllegalArgumentException(
      s"centroid vectors must be array<float|double>, got ${other.getClass.getSimpleName}")
  }

  /** Build from (id, centroid) pairs; ids must be int/bigint. */
  private[plans] def apply(
      idType: DataType, centroids: Seq[(Long, Seq[java.lang.Double])]): CentroidTable = {
    require(idType == IntegerType || idType == LongType,
      s"centroid ids must be int or bigint, got ${idType.catalogString}")
    val sorted = centroids.sortBy(_._1)
    val rows = sorted.map { case (_, c) =>
      if (c == null) null else c.map(v => if (v == null) 0.0 else v.doubleValue).toArray
    }.toArray
    val nullAt = sorted.map { case (_, c) =>
      if (c == null || !c.contains(null)) null else c.map(_ == null).toArray
    }.toArray
    val norms = rows.map { c =>
      if (c == null) 0.0 else { var s = 0.0; c.foreach(v => s += v * v); math.sqrt(s) }
    }
    new CentroidTable(sorted.map(_._1).toArray, idType, rows, nullAt, norms)
  }

  /** Collect `df`'s (idCol, vecCol) rows — a centroid relation, small by
    * construction — into a table. The vector column may be
    * array<float> or array<double>.
    */
  def collect(df: DataFrame, idCol: String, vecCol: String): CentroidTable = {
    val rows = df.select(idCol, vecCol).collect().map { r =>
      idOf(r.get(0), s"centroid column $idCol") -> vector(r, 1)
    }
    apply(df.schema(idCol).dataType, rows.toSeq)
  }

  /** Column `i` of `r`, an array<float|double> or null, as doubles. */
  private[plans] def vector(r: Row, i: Int): Seq[java.lang.Double] =
    if (r.isNullAt(i)) null else r.getSeq[Any](i).map(toBoxed)

  /** The (key, vector) rows of the `k` smallest non-null keys, in key
    * order — the deterministic Lloyd seeds, one TakeOrdered job.
    */
  private[plans] def smallestKeys(df: DataFrame, keyCol: String, vecCol: String, k: Int): Seq[Row] =
    if (k <= 0) Seq.empty
    else df.select(keyCol, vecCol).where(col(keyCol).isNotNull)
      .orderBy(col(keyCol)).limit(k).collect().toSeq

  /** k-means seeds: the vectors of the `k` smallest non-null keys as
    * doubles, ids 0..k-1 in key order.
    */
  def seeds(df: DataFrame, keyCol: String, vecCol: String, k: Int): CentroidTable =
    apply(IntegerType, smallestKeys(df, keyCol, vecCol, k).zipWithIndex.map { case (r, id) =>
      id.toLong -> vector(r, 1)
    })
}

/** The m per-subspace codebooks of a product quantizer, subspace j
  * scored against x[j·dsub, (j+1)·dsub) — the `slice` the replaced
  * subvector explode took, including its clipping at the end of a short
  * vector (a clipped subvector mismatches every centroid's length).
  */
final class PqCodebook private (subspaces: Array[CentroidTable], val idType: DataType)
    extends Serializable {
  def m: Int = subspaces.length
  def isEmpty: Boolean = subspaces.isEmpty

  private def subLen(n: Int, j: Int, dsub: Int): Int = math.max(0, math.min(dsub, n - j * dsub))

  /** Codes: per subspace, the id of the nearest sub-centroid. */
  private[plans] def encode(x: ArrayData, isFloat: Boolean, dsub: Int): ArrayData = {
    val v = if (x == null) Array.emptyDoubleArray else CentroidTable.toDoubles(x, isFloat)
    val pos = Array.tabulate(m) { j =>
      val len = subLen(v.length, j, dsub)
      val valid = x != null && !CentroidTable.hasNull(x, j * dsub, j * dsub + len)
      subspaces(j).nearestL2(v, j * dsub, len, valid)
    }
    if (idType == IntegerType)
      UnsafeArrayData.fromPrimitiveArray(Array.tabulate(m)(j => subspaces(j).ids(pos(j)).toInt))
    else UnsafeArrayData.fromPrimitiveArray(Array.tabulate(m)(j => subspaces(j).ids(pos(j))))
  }

  /** ADC lookup tables: per subspace, the squared L2 from the subvector
    * to every sub-centroid in id order (so a dense id indexes its
    * distance), null where the pair is not scorable.
    */
  private[plans] def tables(x: ArrayData, isFloat: Boolean, dsub: Int): ArrayData = {
    val v = if (x == null) Array.emptyDoubleArray else CentroidTable.toDoubles(x, isFloat)
    new GenericArrayData(Array.tabulate[Any](m) { j =>
      val len = subLen(v.length, j, dsub)
      val valid = x != null && !CentroidTable.hasNull(x, j * dsub, j * dsub + len)
      subspaces(j).l2Row(v, j * dsub, len, valid)
    })
  }

  /** The sub-centroids the codes name, concatenated in subspace order:
    * code j is looked up in subspace j, and a null or unknown code (or
    * one past the m-th) adds nothing. Null codes or a null sub-centroid
    * give null, as the replaced flatten did.
    */
  private[plans] def decode(codes: ArrayData, isLong: Boolean): ArrayData = {
    if (codes == null) return null
    val parts = (0 until math.min(codes.numElements(), m)).flatMap { j =>
      val p = if (codes.isNullAt(j)) -1
        else java.util.Arrays.binarySearch(subspaces(j).ids, if (isLong) codes.getLong(j) else codes.getInt(j).toLong)
      if (p < 0) None else Some(subspaces(j).centroid(p))
    }
    if (parts.contains(null)) null
    else if (parts.exists(_.contains(null))) new GenericArrayData(parts.flatten.toArray[Any])
    else UnsafeArrayData.fromPrimitiveArray(parts.flatten.map(_.doubleValue).toArray)
  }

  /** The same codebook with ids 0..n-1 per subspace, in id order. */
  def redensified: PqCodebook = new PqCodebook(subspaces.map(_.redensified), idType)

  /** The codebook as a small local relation (subspace, centroid_id,
    * centroid array<double>), rows in (subspace, id) order.
    */
  def toFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(subspaces.indices.flatMap(s => (0 until subspaces(s).size).map(j =>
        Row(s, subspaces(s).idValue(j), subspaces(s).centroid(j)))): _*),
      StructType(Seq(
        StructField("subspace", IntegerType, nullable = false),
        StructField("centroid_id", idType, nullable = false),
        StructField("centroid", ArrayType(DoubleType, containsNull = true)))))

  override def toString: String = s"PqCodebook($m subspaces)"
}

object PqCodebook {

  /** Collect a (subspace, centroid_id, centroid) codebook relation with
    * subspaces 0..m-1, m inferred. Every subspace must have a centroid;
    * an empty relation gives the empty codebook (nothing to encode
    * against).
    */
  def collect(df: DataFrame): PqCodebook = {
    val idType = df.schema("centroid_id").dataType
    val bySub = df.select("subspace", "centroid_id", "centroid").collect()
      .groupBy(r => CentroidTable.idOf(r.get(0), "codebook subspace").toInt)
    val m = if (bySub.isEmpty) 0 else bySub.keys.max + 1
    require(bySub.keySet == (0 until m).toSet,
      s"codebook must cover subspaces 0..${m - 1}, got ${bySub.keys.toSeq.sorted.mkString(",")}")
    new PqCodebook(Array.tabulate(m) { j =>
      CentroidTable(idType, bySub(j).toSeq.map { r =>
        CentroidTable.idOf(r.get(1), s"codebook subspace $j") ->
          (if (r.isNullAt(2)) null else r.getSeq[Any](2).map(CentroidTable.toBoxed))
      })
    }, idType)
  }

  /** PQ seeds: per subspace j, the slice [j·dsub, (j+1)·dsub) of the
    * vectors of the `ksub` smallest non-null keys (clipped at the end of a
    * short vector; a null vector gives null sub-centroids), ids 0..ksub-1
    * in key order.
    */
  def seeds(df: DataFrame, keyCol: String, vecCol: String, m: Int, dsub: Int, ksub: Int): PqCodebook = {
    val vecs = CentroidTable.smallestKeys(df, keyCol, vecCol, ksub).map(CentroidTable.vector(_, 1))
    // no seed, no codebook (nothing to encode against), as collecting an empty relation gives
    new PqCodebook(Array.tabulate(if (vecs.isEmpty) 0 else m) { j =>
      CentroidTable(IntegerType, vecs.zipWithIndex.map { case (v, id) =>
        id.toLong -> (if (v == null) null else v.slice(j * dsub, (j + 1) * dsub))
      })
    }, IntegerType)
  }

  /** [[collect]], checked against the subspace count the caller uses. */
  def collect(df: DataFrame, m: Int): PqCodebook = {
    val cb = collect(df)
    require(cb.isEmpty || cb.m == m, s"codebook has ${cb.m} subspaces, expected m=$m")
    cb
  }
}

/** A kernel over one array column (a vector, or PQ codes) whose value
  * is `compute(array)`, a method of the expression itself: the generated
  * code calls it on the expression held as a reference object, so the
  * interpreted and the generated path run the same loop (the
  * [[LaneHashes]] pattern). A null array reaches `compute` as null; a
  * nullable kernel's null result is a null value.
  */
private[plans] abstract class VectorKernel extends UnaryExpression {

  protected lazy val isFloat: Boolean = CentroidTable.elemIsFloat(child, prettyName)

  def compute(x: ArrayData): Any

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this, getClass.getName)
    val x = child.genCode(ctx)
    ev.copy(code = code"""
      ${x.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        (${CodeGenerator.boxedType(dataType)}) $kernel.compute(${x.isNull} ? null : ${x.value});
    """, isNull = if (nullable) JavaCode.isNullExpression(s"${ev.value} == null") else FalseLiteral)
  }
}

/** Nearest centroid by cosine (argmax, ties to the smaller id) — the
  * IVF cell assignment and the k-means E-step as a per-row projection.
  * A null or malformed vector scores null against every centroid and so
  * goes to the smallest id, as under the replaced max_by.
  */
case class NearestCentroid(child: Expression, table: CentroidTable) extends VectorKernel {
  require(!table.isEmpty, "graft_nearest_centroid needs at least one centroid")

  override def dataType: DataType = table.idType
  override def prettyName: String = "graft_nearest_centroid"

  override def compute(x: ArrayData): Any = {
    val id = table.ids(table.topCosine(CentroidTable.scoringVector(x, isFloat), 1)(0))
    if (dataType == IntegerType) id.toInt else id
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** The `n` nearest centroids by cosine, best first (ties to the smaller
  * id; null scores last) — the IVF probe's top-nProbe cells as one
  * array per query instead of a ranking window over query x cell rows.
  */
case class NearestCentroids(child: Expression, table: CentroidTable, n: Int)
    extends VectorKernel {

  override def dataType: DataType = ArrayType(table.idType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  override def compute(x: ArrayData): Any =
    table.idArray(table.topCosine(CentroidTable.scoringVector(x, isFloat), n))

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** PQ encoding straight to codes: per subspace, the nearest
  * sub-centroid by squared L2 (argmin, ties to the smaller id). A null
  * or malformed subvector scores null everywhere and takes the smallest
  * id, as under the replaced min_by.
  */
case class PqEncode(child: Expression, codebook: PqCodebook, dsub: Int) extends VectorKernel {

  override def dataType: DataType = ArrayType(codebook.idType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def compute(x: ArrayData): Any = codebook.encode(x, isFloat, dsub)

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** PQ decoding: the concatenated sub-centroids the codes name — the
  * reconstruction as a per-row lookup instead of a codes explode, a
  * codebook join and a per-vector collect_list. Codes are array<int> or
  * array<bigint>.
  */
case class PqDecode(child: Expression, codebook: PqCodebook) extends VectorKernel {

  private lazy val isLong: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case ArrayType(IntegerType, _) => false
    case other => throw new IllegalArgumentException(
      s"$prettyName: codes must be array<int|bigint>, got $other")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_decode"

  override def compute(x: ArrayData): Any = codebook.decode(x, isLong)

  override protected def withNewChildInternal(newChild: Expression): PqDecode =
    copy(child = newChild)
}

/** Per-query ADC lookup tables (m x ksub squared L2 distances, in
  * subspace then id order) — the input of [[AdcDistance]], built per
  * row instead of by a codebook join and two collect_list group-bys.
  */
case class AdcTables(child: Expression, codebook: PqCodebook, dsub: Int) extends VectorKernel {

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)
  override def prettyName: String = "graft_adc_tables"

  override def compute(x: ArrayData): Any = codebook.tables(x, isFloat, dsub)

  override protected def withNewChildInternal(newChild: Expression): AdcTables =
    copy(child = newChild)
}

/** `vec - centroid(cell)` as doubles with zip_with's null rule — the IVF
  * residual, read from the table instead of a join on the cell id.
  */
case class CentroidResidual(left: Expression, right: Expression, table: CentroidTable)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_centroid_residual"

  private lazy val isFloat = CentroidTable.elemIsFloat(left, prettyName)

  override def nullSafeEval(x: Any, cell: Any): Any =
    table.residual(x.asInstanceOf[ArrayData], isFloat, cell.asInstanceOf[Number].longValue)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (x, cell) => s"""
      ${ev.value} = (ArrayData) $kernel.nullSafeEval($x, java.lang.Long.valueOf((long) $cell));
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidResidual =
    copy(left = newLeft, right = newRight)
}
