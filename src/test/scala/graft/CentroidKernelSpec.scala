package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.{Quantization, Similarity}
import graft.plans.{AdcTables, CentroidResidual, CentroidTable, NearestCentroid, NearestCentroids, PqCodebook, PqEncode}
import graft.sources.Tables

/** The nearest-centroid kernels (graft.plans.CentroidExpressions) against
  * the declarative forms they replaced — broadcast cross-join + max_by /
  * min_by / row_number / collect_list, kept here only as the reference —
  * bit for bit, on random rows and on the edges: exact ties, zero
  * vectors and NaN (Spark's double ordering), null elements, null
  * vectors, short and long vectors, array<float> and array<double>
  * input, and codebooks whose ids have gaps (Lloyd emptied a cell).
  */
class CentroidKernelSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = GraftTestSession.spark

  private val Dims = 8
  private val M = 4
  private val Dsub = Dims / M

  private def vecRow(id: Long, v: Seq[java.lang.Double]): Row = Row(id, v)
  private def boxed(xs: Double*): Seq[java.lang.Double] = xs.map(java.lang.Double.valueOf)

  /** Random rows plus every edge case, as (vec_id, v array<double>). */
  private def rows(seed: Int, n: Int, centroidLike: Seq[Seq[java.lang.Double]]): Seq[Row] = {
    val rnd = new Random(seed)
    val random = (0 until n).map(i => vecRow(i.toLong, boxed(Seq.fill(Dims)(rnd.nextGaussian()): _*)))
    val nan = boxed(Seq.tabulate(Dims)(i => if (i == 3) Double.NaN else 1.0): _*)
    val withNull = boxed(Seq.fill(Dims)(0.5): _*).updated(5, null)
    val edges = Seq(
      boxed(Seq.fill(Dims)(0.0): _*), // zero vector: every cosine is NaN
      nan,
      withNull,
      null, // null vector
      boxed(1.0, 2.0, 3.0), // short: length mismatch, clipped subvectors
      boxed(Seq.fill(Dims + 3)(0.25): _*), // long
      boxed() // empty
    ) ++ centroidLike // exactly on a centroid: exact ties where centroids repeat
    random ++ edges.zipWithIndex.map { case (v, i) => vecRow(10000L + i, v) }
  }

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType, containsNull = true))))

  private def frame(rs: Seq[Row], elem: DataType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), VecSchema)
      .select(col("vec_id"), col("v").cast(ArrayType(elem, containsNull = true)).as("v"))

  /** Centroids with id gaps; ids 7 and 11 are the same vector (an exact
    * tie the smaller id must win).
    */
  private def centroids(seed: Int, dims: Int): Seq[(Int, Seq[java.lang.Double])] = {
    val rnd = new Random(seed)
    val base = Seq(2, 3, 7, 12, 20).map(id => id -> boxed(Seq.fill(dims)(rnd.nextGaussian()): _*))
    base :+ (11 -> base(2)._2)
  }

  private def centroidFrame(cs: Seq[(Int, Seq[java.lang.Double])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(cs.map { case (id, c) => Row(id, c) }: _*),
      StructType(Seq(
        StructField("centroid_id", IntegerType),
        StructField("centroid", ArrayType(DoubleType, containsNull = true)))))

  /** Bitwise view of a collected value: doubles by their (NaN-canonical)
    * bits, so NaN == NaN and 0.0 != -0.0.
    */
  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  private def keyed(df: DataFrame): Map[Any, Any] =
    df.collect().map(r => bits(r.get(0)) -> bits(r.toSeq.tail)).toMap

  private def assertSame(kernel: DataFrame, reference: DataFrame, what: String): Unit = {
    val (got, want) = (keyed(kernel), keyed(reference))
    assert(got.keySet == want.keySet, s"$what: key sets differ")
    val diff = want.keySet.filter(k => got(k) != want(k))
    assert(diff.isEmpty, s"$what: ${diff.size} rows differ, e.g. ${diff.take(3).map(k =>
      s"$k kernel=${got(k)} reference=${want(k)}")}")
  }

  private val ElemTypes = Seq(FloatType, DoubleType)

  test("nearestCentroid == broadcast cross-join + max_by(struct(sim, -id)), float and double") {
    graft.plans.GraftFunctions.register(spark)
    val cs = centroids(1, Dims)
    val cents = centroidFrame(cs)
    // a zero centroid scores NaN against every vector — NaN ranks above
    // every number, so it wins everything; pinned in its own table
    val withZero = centroidFrame(cs :+ (30 -> boxed(Seq.fill(Dims)(0.0): _*)))
    for (elem <- ElemTypes; table <- Seq(cents, withZero)) {
      val space = frame(rows(7, 300, cs.map(_._2)), elem)
      val reference = space
        .crossJoin(broadcast(table))
        .withColumn("sim", VectorFunctions.cosine(col("v"), col("centroid")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("centroid_id"), struct(col("sim"), -col("centroid_id"))).as("assigned"))
      assertSame(Similarity.nearestCentroid(space, "vec_id", "v", table), reference, s"argmax $elem")
    }
  }

  test("nearest n cells == row_number over (sim desc, id), nulls last, ties to the smaller id") {
    graft.plans.GraftFunctions.register(spark)
    val cs = centroids(2, Dims)
    val cents = centroidFrame(cs)
    val table = CentroidTable.collect(cents, "centroid_id", "centroid")
    for (elem <- ElemTypes; n <- Seq(1, 3, 6, 9)) {
      val q = frame(rows(8, 60, cs.map(_._2)), elem)
      val reference = q
        .crossJoin(broadcast(cents))
        .withColumn("sim", VectorFunctions.cosine(col("v"), col("centroid")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("centroid_id"))))
        .where(col("rk") <= n)
        .groupBy(col("vec_id"))
        .agg(array_sort(collect_list(struct(col("rk"), col("centroid_id")))).as("r"))
        .select(col("vec_id"), transform(col("r"), _.getField("centroid_id")).as("cells"))
      val kernel = q.select(col("vec_id"),
        VectorFunctions.nearestCentroidIds(col("v"), table, n).as("cells"))
      assertSame(kernel, reference, s"top-$n $elem")
    }
  }

  /** A codebook with a different id set per subspace, gaps included,
    * and a repeated sub-centroid (exact L2 tie) in subspace 1.
    */
  private def codebook(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val idsBySub = Seq(Seq(0, 2, 5), Seq(1, 3, 4, 8), Seq(0, 1), Seq(6))
    val rs = idsBySub.zipWithIndex.flatMap { case (ids, j) =>
      ids.map(id => Row(j, id, boxed(Seq.fill(Dsub)(rnd.nextGaussian()): _*)))
    }
    val tie = rs.filter(_.getInt(0) == 1).head
    spark.createDataFrame(
      java.util.Arrays.asList(rs :+ Row(1, 9, tie.get(2)): _*),
      StructType(Seq(
        StructField("subspace", IntegerType),
        StructField("centroid_id", IntegerType),
        StructField("centroid", ArrayType(DoubleType, containsNull = true)))))
  }

  private def subCentroidRows(cb: DataFrame): Seq[Seq[java.lang.Double]] = {
    // whole vectors built from sub-centroids: exact-tie and exact-hit rows
    val bySub = cb.collect().groupBy(_.getInt(0)).map { case (j, r) => j -> r.head.getSeq[java.lang.Double](2) }
    Seq((0 until M).flatMap(bySub))
  }

  test("pqEncode == subspace join + min_by(struct(d, id)) + collect_list, gaps in ids") {
    graft.plans.GraftFunctions.register(spark)
    val cb = codebook(3)
    for (elem <- ElemTypes) {
      val space = frame(rows(9, 300, subCentroidRows(cb)), elem)
      val reference = Quantization.subVectors(space, "vec_id", "v", M, Dims)
        .join(broadcast(cb), "subspace")
        .withColumn("d", VectorFunctions.l2Sq(col("subvec"), col("centroid")))
        .groupBy(col("vec_id"), col("subspace"))
        .agg(min_by(col("centroid_id"), struct(col("d"), col("centroid_id"))).as("cell"))
        .groupBy(col("vec_id"))
        .agg(array_sort(collect_list(struct(col("subspace"), col("cell")))).as("sc"))
        .select(col("vec_id"), transform(col("sc"), _.getField("cell")).as("codes"))
      assertSame(Quantization.pqEncode(space, "vec_id", "v", M, Dims, cb), reference, s"encode $elem")
    }
  }

  test("ADC tables == subspace join + l2Sq + two collect_list group-bys") {
    graft.plans.GraftFunctions.register(spark)
    val cb = codebook(4)
    val pq = PqCodebook.collect(cb, M)
    for (elem <- ElemTypes) {
      val q = frame(rows(10, 80, subCentroidRows(cb)), elem)
      val reference = Quantization.subVectors(q, "vec_id", "v", M, Dims)
        .join(broadcast(cb), "subspace")
        .withColumn("d", VectorFunctions.l2Sq(col("subvec"), col("centroid")))
        .groupBy(col("vec_id"), col("subspace"))
        .agg(array_sort(collect_list(struct(col("centroid_id"), col("d")))).as("cd"))
        .select(col("vec_id"), col("subspace"), transform(col("cd"), _.getField("d")).as("dists"))
        .groupBy(col("vec_id"))
        .agg(array_sort(collect_list(struct(col("subspace"), col("dists")))).as("sd"))
        .select(col("vec_id"), transform(col("sd"), _.getField("dists")).as("tables"))
      val kernel = q.select(col("vec_id"), VectorFunctions.adcTables(col("v"), pq, Dsub).as("tables"))
      assertSame(kernel, reference, s"tables $elem")
    }
  }

  test("centroid residual == cell join + zip_with(x - c), nulls and lengths included") {
    graft.plans.GraftFunctions.register(spark)
    val cs = centroids(5, Dims) :+ (40 -> boxed(1.0, 2.0)) :+ (41 -> boxed(1.0, 2.0, 3.0).updated(1, null))
    val cents = centroidFrame(cs)
    val table = CentroidTable.collect(cents, "centroid_id", "centroid")
    for (elem <- ElemTypes) {
      val withCell = frame(rows(11, 100, Nil), elem)
        .withColumn("cell", element_at(typedLit(cs.map(_._1)),
          (pmod(col("vec_id"), lit(cs.size)) + 1).cast("int")))
      val reference = withCell
        .join(broadcast(cents.withColumnRenamed("centroid_id", "cell")), "cell")
        .select(col("vec_id"),
          zip_with(col("v"), col("centroid"), (x, y) => x.cast("double") - y).as("r"))
      val kernel = withCell.select(col("vec_id"),
        VectorFunctions.centroidResidual(col("v"), col("cell"), table).as("r"))
      assertSame(kernel, reference, s"residual $elem")
    }
  }

  test("a duplicated key is assigned and encoded once per input row") {
    graft.plans.GraftFunctions.register(spark)
    val cs = centroids(6, Dims)
    val dup = frame(Seq(
      vecRow(1L, cs(0)._2), vecRow(1L, cs(3)._2), vecRow(2L, cs(4)._2)), FloatType)
    val assigned = Similarity.nearestCentroid(dup, "vec_id", "v", centroidFrame(cs))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // each key-1 row goes to its own centroid; the old first(v) kept one
    assert(assigned == Seq((1L, cs(0)._1), (1L, cs(3)._1), (2L, cs(4)._1)))
    val codes = Quantization.pqEncode(dup, "vec_id", "v", M, Dims, codebook(3))
    assert(codes.where(col("vec_id") === 1L).count() == 2L)
  }

  test("codebooks must cover exactly the subspaces the caller encodes with") {
    val err = intercept[IllegalArgumentException](
      PqCodebook.collect(codebook(3).where(col("subspace") =!= 2), M))
    assert(err.getMessage.contains("codebook must cover subspaces"), err.getMessage)
    val wrongM = intercept[IllegalArgumentException](PqCodebook.collect(codebook(3), M + 1))
    assert(wrongM.getMessage.contains("expected m=5"), wrongM.getMessage)
  }

  test("every kernel compiles to generated code that equals its interpreted eval") {
    val cs = centroids(12, Dims) :+ (41 -> boxed(Seq.fill(Dims)(1.0): _*).updated(2, null))
    val table = CentroidTable.collect(centroidFrame(cs), "centroid_id", "centroid")
    val pq = PqCodebook.collect(codebook(13), M)
    val vectors = rows(14, 20, cs.map(_._2)).map(r => Option(r.getSeq[java.lang.Double](1)))
    for (elem <- ElemTypes) {
      val v = BoundReference(0, ArrayType(elem, containsNull = true), nullable = true)
      val cell = BoundReference(1, IntegerType, nullable = true)
      val kernels = Seq(
        NearestCentroid(v, table), NearestCentroids(v, table, 3), PqEncode(v, pq, Dsub),
        AdcTables(v, pq, Dsub), CentroidResidual(v, cell, table))
      // compiled directly: a Janino failure throws here instead of
      // falling back to interpretation
      val generated = GenerateUnsafeProjection.generate(kernels)
      for (vec <- vectors; c <- Seq(Some(cs.head._1), Some(41), None)) {
        val arr = vec.map(xs => new GenericArrayData(xs.map(x =>
          if (x == null) null
          else if (elem == FloatType) (x.floatValue: Any)
          else (x.doubleValue: Any)).toArray[Any]))
        val row = InternalRow(arr.orNull, c.map(Int.box).orNull)
        val types = kernels.map(_.dataType)
        val got = generated(row).copy().toSeq(types).zip(types).map((toScala _).tupled)
        val want = kernels.map(_.eval(row)).zip(types).map((toScala _).tupled)
        assert(bits(got) == bits(want), s"$elem $vec cell $c")
      }
    }
  }

  private def toScala(x: Any, dt: DataType): Any = (x, dt) match {
    case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et).map(toScala(_, et))
    case (other, _) => other
  }

  private def shuffleLike(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case p @ (_: Exchange | _: CartesianProductExec | _: BroadcastNestedLoopJoinExec) => p
  }

  test("plan shape: assignment, encoding and the probe's query side are narrow") {
    graft.plans.GraftFunctions.register(spark)
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val cents = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 6, iterations = 1)
    val assign = Similarity.nearestCentroidWithVec(emb, "vec_id", "embedding", cents)
    assign.collect()
    assert(shuffleLike(assign.queryExecution.executedPlan).isEmpty,
      assign.queryExecution.executedPlan.toString)
    val plan = assign.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("graft_nearest_centroid") && l.contains("*(")),
      s"assignment is not in whole-stage codegen:\n$plan")

    val idx = Quantization.buildIvfPq(emb, "vec_id", "embedding",
      m = 8, dims = 64, ksub = 8, iterations = 1, nCells = 6, coarseIterations = 1)
    val enc = Quantization.pqEncode(emb, "vec_id", "embedding", 8, 64, idx.codebooks)
    enc.collect()
    assert(shuffleLike(enc.queryExecution.executedPlan).isEmpty,
      enc.queryExecution.executedPlan.toString)

    val probe = Quantization.probeIvfPq(idx, emb.where(col("vec_id") < 20), "vec_id", "embedding",
      m = 8, dims = 64, nProbe = 2, k = 5)
    probe.collect()
    val probePlan = probe.queryExecution.executedPlan
    // the query side is what the (query, cell, tables) broadcast carries
    val querySide = collect(probePlan) {
      case b: BroadcastExchangeLike if b.child.output.exists(_.name == "tables") => b.child
    }
    assert(querySide.size == 1, probePlan.toString)
    assert(shuffleLike(querySide.head).isEmpty, querySide.head.toString)
  }
}
