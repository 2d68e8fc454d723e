package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}
import org.apache.spark.sql.functions._

import graft.plans.{AdcDistance, AdcTables, CentroidResidual, CentroidTable, CosineSimilarity, DotProduct, L2SquaredDistance, MatrixApply, NearestCentroid, NearestCentroids, PqCodebook, PqDecode, PqEncode, TopKByScore, VectorMean, VectorMoments}

/** Vector math over `array<float>` embedding columns — the compute core
  * of the embeddinghub surface (reference:
  * embeddinghub/embeddingstore/index.h approx_nearest over a cosine
  * space; space.cc distance kernels).
  *
  * Implementation note: these are built from Spark's higher-order
  * functions (`zip_with`/`aggregate`), evaluated entirely on the JVM
  * with no UDF serialization boundary, and they stay inside the single
  * projected stage. Inputs are cast to double before multiply so the
  * accumulation matches a double-precision oracle to ~1e-14 (float
  * multiplies would diverge at ~1e-7, enough to flip near-tied ranks).
  */
object VectorFunctions {

  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Σ a_i * b_i */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  /** Inner product via the native codegen'd expression
    * (graft.plans.DotProduct) — the hnswlib ip-space kernel; [[dot]]
    * is its HOF twin.
    */
  def dotNative(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1], via the native codegen'd Catalyst
    * expression (graft.plans.CosineSimilarity).
    */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Higher-order-function cosine: same sequential double accumulation,
    * no codegen. Kept as the cross-check for the native expression in
    * tests.
    */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Squared euclidean distance, via the native codegen'd expression
    * (graft.plans.L2SquaredDistance).
    */
  def l2Sq(a: Column, b: Column): Column =
    column(L2SquaredDistance(expression(a), expression(b)))

  /** PQ asymmetric distance: sum_j tables(j)(codes(j)) via the native
    * codegen'd expression (graft.plans.AdcDistance).
    */
  def adc(tables: Column, codes: Column): Column =
    column(AdcDistance(expression(tables), expression(codes)))

  /** Higher-order-function ADC: the same sequential subspace-order
    * fold, no codegen. The cross-check for the native expression in
    * tests. `m` is the subspace count.
    */
  def adcHof(tables: Column, codes: Column, m: Int): Column =
    aggregate(
      sequence(lit(1), lit(m)),
      lit(0.0),
      (acc, j) => acc + element_at(element_at(tables, j), element_at(codes, j) + lit(1)))

  /** Higher-order-function squared euclidean distance: same sequential
    * double accumulation, no codegen. The cross-check for the native
    * expression in tests.
    */
  def l2SqHof(a: Column, b: Column): Column = {
    val d = zip_with(asDouble(a), asDouble(b), (x, y) => x - y)
    aggregate(d, lit(0.0), (acc, x) => acc + x * x)
  }

  /** `mat · vec` (graft.plans.MatrixApply): the matrix rides in the
    * expression as a JVM object, not as a per-row literal.
    */
  def matrixApply(vec: Column, mat: Array[Array[Double]]): Column =
    column(MatrixApply(expression(vec), mat))

  /** Per group, the `k` best (score, id) as array<struct<id, score>>,
    * best first, ties to the smaller id (graft.plans.TopKByScore).
    */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    column(TopKByScore.coerced(expression(score), expression(id), k).toAggregateExpression())

  // Nearest-centroid kernels (graft.plans.CentroidExpressions): each
  // holds its driver-collected centroid or codebook matrix, so they
  // have no SQL name.

  /** Id of the centroid most cosine-similar to `vec`. */
  def nearestCentroidId(vec: Column, cents: CentroidTable): Column =
    column(NearestCentroid(expression(vec), cents))

  /** Ids of the `n` centroids most cosine-similar to `vec`, best first. */
  def nearestCentroidIds(vec: Column, cents: CentroidTable, n: Int): Column =
    column(NearestCentroids(expression(vec), cents, n))

  /** `vec - centroid(cell)` as array<double> (the IVF residual). */
  def centroidResidual(vec: Column, cell: Column, cents: CentroidTable): Column =
    column(CentroidResidual(expression(vec), expression(cell), cents))

  /** PQ codes of `vec`: per subspace, the nearest sub-centroid's id. */
  def pqEncode(vec: Column, codebook: PqCodebook, dsub: Int): Column =
    column(PqEncode(expression(vec), codebook, dsub))

  /** The concatenated sub-centroids PQ `codes` name (the reconstruction). */
  def pqDecode(codes: Column, codebook: PqCodebook): Column =
    column(PqDecode(expression(codes), codebook))

  /** ADC lookup tables of `vec` (m x ksub squared L2), the input of [[adc]]. */
  def adcTables(vec: Column, codebook: PqCodebook, dsub: Int): Column =
    column(AdcTables(expression(vec), codebook, dsub))

  // Vector-fit aggregates (graft.plans.VectorFitAggregates).

  /** Exact n, Σx and Σx·yᵀ of `dims`-element vectors, one row per group
    * (graft.plans.VectorMoments).
    */
  def vectorMoments(x: Column, y: Column, dims: Int): Column =
    column(VectorMoments(expression(x), expression(y), dims).toAggregateExpression())

  /** Elementwise mean of the group's vectors (graft.plans.VectorMean). */
  def vectorMean(vec: Column): Column =
    column(VectorMean(expression(vec)).toAggregateExpression())
}
