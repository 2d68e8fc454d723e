package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
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
import graft.operators.{Graph, Quantization, Similarity}
import graft.plans.{AdcTables, CentroidResidual, CentroidTable, NearestCentroid, NearestCentroids, PqCodebook, PqDecode, PqEncode}
import graft.sources.Tables

/** The nearest-centroid kernels (graft.plans.CentroidExpressions) and
  * the operators built on them against the declarative forms they
  * replaced — broadcast cross-join + max_by / min_by / row_number /
  * collect_list, posexplode means, the codebook-join decode, kept here
  * only as the reference ([[DeclarativeCentroids]]) — bit for bit, on
  * random rows and on the edges: exact ties, zero vectors and NaN
  * (Spark's double ordering), null elements, null vectors, short and
  * long vectors, array<float> and array<double> input, and codebooks
  * whose ids have gaps (Lloyd emptied a cell).
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

  /** Bitwise view of a collected value: floats and doubles by their
    * (NaN-canonical) bits, so NaN == NaN and 0.0 != -0.0.
    */
  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
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
    val cs = centroids(6, Dims)
    val dup = frame(Seq(
      vecRow(1L, cs(0)._2), vecRow(1L, cs(3)._2), vecRow(2L, cs(4)._2)), FloatType)
    val assigned = Similarity.nearestCentroid(dup, "vec_id", "v", centroidFrame(cs))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // each key-1 row goes to its own centroid; the old first(v) kept one
    assert(assigned == Seq((1L, cs(0)._1), (1L, cs(3)._1), (2L, cs(4)._1)))
    val codes = Quantization.pqEncode(dup, "vec_id", "v", M, Dims, codebook(3))
    assert(codes.where(col("vec_id") === 1L).count() == 2L)
    val clusters = Similarity.clusterAssign(dup, "vec_id", "v", k = 3, iterations = 1)
    assert(clusters.where(col("vec_id") === 1L).count() == 2L)
    // decoding: one row per input row, where the join merged key 1's two
    // code rows into one 2m-subvector vector; null codes decode to null
    val withNull = codes.unionByName(spark.createDataFrame(
      java.util.Arrays.asList(Row(3L, null)),
      StructType(Seq(StructField("vec_id", LongType), StructField("codes", ArrayType(IntegerType))))))
    val recon = Quantization.pqReconstruct(withNull, codebook(3))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1)).map(_.size)).sorted.toSeq
    assert(recon == Seq(1L -> Some(Dims), 1L -> Some(Dims), 2L -> Some(Dims), 3L -> None))
    val merged = DeclarativeCentroids.pqReconstruct(withNull, codebook(3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).size).sorted.toSeq
    assert(merged == Seq(1L -> 2 * Dims, 2L -> Dims))
  }

  test("codebooks must cover exactly the subspaces the caller encodes with") {
    val err = intercept[IllegalArgumentException](
      PqCodebook.collect(codebook(3).where(col("subspace") =!= 2), M))
    assert(err.getMessage.contains("codebook must cover subspaces"), err.getMessage)
    val wrongM = intercept[IllegalArgumentException](PqCodebook.collect(codebook(3), M + 1))
    assert(wrongM.getMessage.contains("expected m=5"), wrongM.getMessage)
  }

  // --- the five sites that kept a declarative copy of these kernels ---

  /** [[rows]] on seven partitions: random vectors plus every edge. The
    * means are exact sums, so the layout does not change them.
    */
  private def grouped(seed: Int, elem: DataType): DataFrame =
    frame(rows(seed, 200, Nil), elem).repartition(7)

  test("centroids == posexplode + exact mean per (group, pos) + collect_list, seven partitions") {
    for (elem <- ElemTypes) {
      // group 9: only the null and the empty vector; null key: three rows
      val space = grouped(15, elem).withColumn("g",
        when(col("vec_id").isin(10003L, 10006L), lit(9L))
          .when(col("vec_id").isin(1L, 2L, 10002L), lit(null).cast("long"))
          .otherwise(pmod(col("vec_id"), lit(5L))))
      val kernel = Similarity.centroids(space, "g", "v")
      assertSame(kernel, DeclarativeCentroids.centroids(space, "g", "v"), s"centroids $elem")
      val keys = kernel.collect().map(r => Option(r.get(0))).toSet
      assert(keys.contains(None) && !keys.contains(Some(9L)), keys)
    }
  }

  test("centroidDrift == two posexplode means + counts + joins, exact decimal shift") {
    val extra = Seq(
      vecRow(20000L, null), vecRow(20001L, boxed(1.0, 2.0, 3.0)), // label 11: old slice all null
      vecRow(20002L, boxed(1.0, 2.0, 3.0, 4.0, 5.0)), vecRow(20004L, boxed(1.0, 2.0)),
      vecRow(20003L, boxed(0.5, 0.5, 0.5)), // label 12: ragged sides
      vecRow(20006L, Seq[java.lang.Double](null, null)), vecRow(20005L, boxed(1.0, 2.0)), // 13: null means
      vecRow(20008L, boxed(1.0, 1.0)), vecRow(20007L, boxed(2.0, 2.0)), // null label
      vecRow(20010L, boxed(9.0)), vecRow(20012L, boxed(8.0))) // label 14: old slice only
    for (elem <- ElemTypes) {
      val space = grouped(16, elem).unionByName(frame(extra, elem)).repartition(7)
        .withColumn("label",
          when(col("vec_id") < 20000L, pmod(col("vec_id"), lit(3L)))
            .when(col("vec_id") < 20002L, lit(11L)).when(col("vec_id") < 20005L, lit(12L))
            .when(col("vec_id") < 20007L, lit(13L)).when(col("vec_id") < 20010L, lit(null).cast("long"))
            .otherwise(lit(14L)))
      val oldSide = col("vec_id") % 2 === 0
      val kernel = Similarity.centroidDrift(space, "vec_id", "v", "label", oldSide)
      assertSame(kernel, DeclarativeCentroids.centroidDrift(space, "v", "label", oldSide), s"drift $elem")
      val labels = kernel.collect().map(r => Option(r.get(0))).toSet
      assert(labels == Set(0L, 1L, 2L, 12L, 13L).map(Option(_)), labels)
    }
  }

  test("clusterAssign == kmeans codebook cross-join + max_by(struct(sim, -id))") {
    for (elem <- ElemTypes) {
      // key -1 repeats key 0's vector: two equal seeds, an exact tie
      val base = grouped(17, elem)
      val space = base.unionByName(base.where(col("vec_id") === 0L).select(lit(-1L).as("vec_id"), col("v")))
      for (s <- Seq(space, space.limit(0)))
        assertSame(Similarity.clusterAssign(s, "vec_id", "v", k = 5, iterations = 2),
          DeclarativeCentroids.clusterAssign(s, "vec_id", "v", k = 5, iterations = 2), s"clusterAssign $elem")
    }
  }

  test("ivfCandidateSource == cross-join + bounded-heap cell probe, nProbe < cells") {
    val cents = centroidFrame(centroids(18, Dims))
    for (elem <- ElemTypes; nProbe <- Seq(1, 2, 4)) {
      val space = frame(rows(19, 150, centroids(18, Dims).map(_._2)), elem)
      val kernel = Graph.ivfCandidateSource("vec_id", "v", cents, nProbe)(space, 5)
      val reference = DeclarativeCentroids.ivfCandidateSource("vec_id", "v", cents, nProbe)(space, 5)
      def lists(df: DataFrame) = df.groupBy(col("query_id"))
        .agg(array_sort(collect_list(struct(col("rank"), col("neighbor_id")))).as("nb"))
      assertSame(lists(kernel), lists(reference), s"candidates $elem nProbe=$nProbe")
    }
  }

  test("ivfCandidateSource: a ±0.0 cell tie goes to the smaller id, not to +0.0 as the heap ranked") {
    // x's norm overflows to infinity, so it scores -0.0 against cell 1
    // and +0.0 against cell 2: Spark's ordering ties them, Double.compare
    // ranks +0.0 first
    val cents = centroidFrame(Seq(1 -> boxed(0.0, -1.0), 2 -> boxed(0.0, 1.0)))
    val space = frame(Seq(
      vecRow(100L, boxed(1e300, java.lang.Double.MIN_VALUE)),
      vecRow(101L, boxed(0.0, -1.0)), vecRow(102L, boxed(0.0, 1.0))), DoubleType)
    def top(source: (DataFrame, Int) => DataFrame) =
      source(space, 1).where(col("query_id") === 100L).collect().map(_.getLong(1)).toSeq
    assert(top(Graph.ivfCandidateSource("vec_id", "v", cents, nProbe = 1)) == Seq(101L))
    assert(top(DeclarativeCentroids.ivfCandidateSource("vec_id", "v", cents, nProbe = 1)) == Seq(102L))
  }

  /** Encoded rows with id gaps (the codebook's) and hand-made codes: an
    * unknown code, a null code, and a code past the m-th subspace.
    */
  private def encoded(cb: DataFrame, elem: DataType): DataFrame = {
    val space = frame(rows(20, 100, subCentroidRows(cb)), elem)
    val hand = Seq(
      Row(20000L, Seq[Integer](0, 99, 1, 6)), Row(20001L, Seq[Integer](2, null, 0, 6)),
      Row(20002L, Seq[Integer](5, 8, 1, 6, 3)))
    Quantization.pqEncode(space, "vec_id", "v", M, Dims, cb).unionByName(spark.createDataFrame(
      java.util.Arrays.asList(hand: _*),
      StructType(Seq(StructField("vec_id", LongType), StructField("codes", ArrayType(IntegerType))))))
  }

  test("pqReconstruct == codes posexplode + codebook join + collect_list, gaps in ids") {
    val cb = codebook(21)
    for (elem <- ElemTypes) {
      val enc = encoded(cb, elem)
      assertSame(Quantization.pqReconstruct(enc, cb), DeclarativeCentroids.pqReconstruct(enc, cb), s"decode $elem")
    }
  }

  test("every kernel compiles to generated code that equals its interpreted eval") {
    val cs = centroids(12, Dims) :+ (41 -> boxed(Seq.fill(Dims)(1.0): _*).updated(2, null))
    val table = CentroidTable.collect(centroidFrame(cs), "centroid_id", "centroid")
    val pq = PqCodebook.collect(codebook(13), M)
    val vectors = rows(14, 20, cs.map(_._2)).map(r => Option(r.getSeq[java.lang.Double](1)))
    for (elem <- ElemTypes) {
      val v = BoundReference(0, ArrayType(elem, containsNull = true), nullable = true)
      val cell = BoundReference(1, IntegerType, nullable = true)
      val codes = BoundReference(2, ArrayType(IntegerType, containsNull = true), nullable = true)
      val kernels = Seq(
        NearestCentroid(v, table), NearestCentroids(v, table, 3), PqEncode(v, pq, Dsub),
        AdcTables(v, pq, Dsub), CentroidResidual(v, cell, table), PqDecode(codes, pq))
      // compiled directly: a Janino failure throws here instead of
      // falling back to interpretation
      val generated = GenerateUnsafeProjection.generate(kernels)
      // valid codes; a null and an unknown code; null codes
      val codeRows = Seq(Some(Seq[Any](0, 3, 1, 6)), Some(Seq[Any](2, null, 99, 6)), None)
      for (vec <- vectors; (c, cc) <- Seq(Some(cs.head._1), Some(41), None).zip(codeRows)) {
        val arr = vec.map(xs => new GenericArrayData(xs.map(x =>
          if (x == null) null
          else if (elem == FloatType) (x.floatValue: Any)
          else (x.doubleValue: Any)).toArray[Any]))
        val row = InternalRow(arr.orNull, c.map(Int.box).orNull, cc.map(xs => new GenericArrayData(xs.toArray)).orNull)
        val types = kernels.map(_.dataType)
        val got = generated(row).copy().toSeq(types).zip(types).map((toScala _).tupled)
        val want = kernels.map(_.eval(row)).zip(types).map((toScala _).tupled)
        assert(bits(got) == bits(want), s"$elem $vec cell $c codes $cc")
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

/** The declarative forms five operator sites used before they moved onto
  * the shared centroid kernels — posexplode means, a centroid cross-join
  * scored and reduced by a shuffle, and a codebook-join decode — kept
  * only as bit-identity references for CentroidKernelSpec and as the
  * plans PlanLintSpec's guard must reject.
  */
object DeclarativeCentroids {

  /** The exact mean of graft.plans.VectorMean: `sum(t).cast("double") /
    * count(t)`, t = `round(x, 12).cast("decimal(38,12)")`.
    */
  def exactMean(x: Column): Column = {
    val t = round(x.cast("double"), 12).cast("decimal(38,12)")
    sum(t).cast("double") / count(t)
  }

  def centroids(space: DataFrame, groupCol: String, vecCol: String): DataFrame =
    space
      .select(col(groupCol).as("centroid_id"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(exactMean(col("v")).as("c"))
      .groupBy(col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("centroid_id"), transform(col("pc"), _.getField("c")).as("centroid"))

  def centroidDrift(space: DataFrame, vecCol: String, groupCol: String, oldSide: Column): DataFrame = {
    val base = space
      .select(col(groupCol).as("label"), oldSide.as("is_old"), posexplode(col(vecCol)).as(Seq("pos", "xf")))
      .select(col("label"), col("is_old"), col("pos"), col("xf").cast("double").as("x"))
    val means = base.groupBy(col("label"), col("is_old"), col("pos")).agg(exactMean(col("x")).as("m"))
    val o = means.where(col("is_old")).select(col("label"), col("pos"), col("m").as("mo"))
    val n = means.where(!col("is_old")).select(col("label"), col("pos"), col("m").as("mn"))
    val counts = space.groupBy(col(groupCol).as("label")).agg(
      sum(when(oldSide, 1L).otherwise(0L)).as("n_old"),
      sum(when(oldSide, 0L).otherwise(1L)).as("n_new"))
    o.join(n, Seq("label", "pos"))
      .withColumn("d2",
        round((col("mo") - col("mn")) * (col("mo") - col("mn")), 12).cast("decimal(28,12)"))
      .groupBy(col("label"))
      .agg(sqrt(sum(col("d2")).cast("double")).as("centroid_shift"))
      .join(counts, "label")
  }

  def clusterAssign(space: DataFrame, keyCol: String, vecCol: String, k: Int, iterations: Int): DataFrame = {
    val cb = Similarity.kmeansCodebook(space, keyCol, vecCol, k, iterations)
    space
      .select(col(keyCol).as("vec_id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(cb))
      .withColumn("sim", VectorFunctions.cosine(col("vec"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(
        first(col("vec")).as("vec"),
        max_by(
          struct(col("centroid_id"), col("sim")),
          struct(col("sim"), (-col("centroid_id")).as("nid"))).as("best"))
      .select(
        col("vec_id"), col("vec"),
        col("best.centroid_id").as("cluster"), col("best.sim").as("csim"))
  }

  def ivfCandidateSource(
      keyCol: String, vecCol: String, cents: DataFrame, nProbe: Int): (DataFrame, Int) => DataFrame =
    (sub, candK) => {
      val corpusCells = Similarity.nearestCentroidWithVec(sub, keyCol, vecCol, cents)
        .select(col("vec_id").as("neighbor_id"), col("v").as("n_vec"), col("assigned").as("cell"))
      val cellScores = sub
        .select(col(keyCol).as("query_id"), col(vecCol).as("q_vec"))
        .crossJoin(broadcast(cents))
        .withColumn("csim", VectorFunctions.cosine(col("q_vec"), col("centroid")))
      val probes = Similarity
        .topKPerGroup(cellScores, "query_id", "csim", "centroid_id", nProbe)
        .select(col("query_id"), col("neighbor_id").as("cell"))
        .join(sub.select(col(keyCol).as("query_id"), col(vecCol).as("q_vec")), "query_id")
      val scored = probes
        .join(corpusCells, Seq("cell"))
        .where(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", VectorFunctions.cosine(col("q_vec"), col("n_vec")))
      Similarity.topKPerGroup(scored, "query_id", "sim", "neighbor_id", candK)
    }

  def pqReconstruct(encoded: DataFrame, codebooks: DataFrame): DataFrame =
    encoded
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("subspace", "cell")))
      .join(codebooks.withColumnRenamed("centroid_id", "cell"), Seq("subspace", "cell"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("subspace"), col("centroid")))).as("sc"))
      .select(col("vec_id"), flatten(transform(col("sc"), _.getField("centroid"))).as("recon"))
}
