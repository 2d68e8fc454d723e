package graft

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.DeclarativeCentroids.exactMean
import graft.functions.VectorFunctions
import graft.operators.{Quantization, Similarity}
import graft.plans.{CentroidTable, PqCodebook}

/** The vector-fit aggregates (graft.plans.VectorFitAggregates) against
  * the declarative forms they replaced, kept here only as the reference,
  * bit for bit (doubles compared by their NaN-canonical bits):
  *  - VectorMoments against posexplode² + `sum(round(v, 12)
  *    .cast("decimal(38,12)")).cast("double")` per cell, on random rows,
  *    negative values, rounding ties at the 12th decimal, zeros, NaN and
  *    infinite terms, magnitudes past the 64-bit range of the
  *    fixed-point sum, and the two overflows, with and without ANSI mode;
  *  - VectorMean against the exact mean `sum(t).cast("double") /
  *    count(t)`, t = `round(x, 12).cast("decimal(38,12)")`, per (group,
  *    position) re-collected in position order, on ragged input, and
  *    its overflows, with and without ANSI mode;
  *  - kmeansCodebook and pqCodebooks — driver-side seeds, VectorMean
  *    M-steps, driver-side re-densify — against the window / explode
  *    Lloyd schedules they replaced, with that exact mean as M-step.
  * The means are exact sums, so every mean and fit is checked on one
  * partition and on seven.
  */
class VectorFitKernelSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  private val Dims = 8
  private val M = 4
  private val Dsub = Dims / M

  private def boxed(xs: Double*): Seq[java.lang.Double] = xs.map(java.lang.Double.valueOf)

  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType, containsNull = true))))

  private def frame(rs: Seq[(Long, Seq[java.lang.Double])], elem: DataType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs.map { case (k, v) => Row(k, v) }: _*), VecSchema)
      .select(col("vec_id"), col("v").cast(ArrayType(elem, containsNull = true)).as("v"))

  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  private def keyed(df: DataFrame): Map[Any, Any] =
    df.collect().map(r => bits(r.get(0)) -> bits(r.toSeq.tail)).toMap

  private def assertSame(got: Map[Any, Any], want: Map[Any, Any], what: String): Unit = {
    assert(got.keySet == want.keySet, s"$what: key sets differ: ${got.keySet} vs ${want.keySet}")
    val diff = want.keySet.filter(k => got(k) != want(k))
    assert(diff.isEmpty, s"$what: ${diff.size} cells differ, e.g. ${diff.take(3).map(k =>
      s"$k kernel=${got(k)} reference=${want(k)}")}")
  }

  private val ElemTypes = Seq(FloatType, DoubleType)

  private val Layouts: Seq[(String, DataFrame => DataFrame)] =
    Seq("coalesce(1)" -> (_.coalesce(1)), "repartition(7)" -> (_.repartition(7)))

  /** Per (group, position) exact means, re-collected in position order. */
  private def referenceMean(df: DataFrame, g: String): DataFrame = df
    .select(col(g), posexplode(col("v")).as(Seq("pos", "x")))
    .groupBy(col(g), col("pos")).agg(exactMean(col("x")).as("c"))
    .groupBy(col(g)).agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
    .select(col(g), transform(col("pc"), _.getField("c")).as("mean"))

  /** Well-formed moments inputs, each kept to one magnitude so that a
    * one-unit (1e-12) difference in a cell still shows in its double:
    * exact 12th-decimal ties (as the double's shortest decimal string;
    * times 1e12 each lands exactly on .5, where a double rounds the other
    * way half the time); random rows with zeros, NaN and an infinity;
    * and products past a long's range, inside decimal(38,12).
    */
  private def momentRows(seed: Int): Seq[(String, Seq[(Long, Seq[java.lang.Double])])] = {
    val rnd = new Random(seed)
    def parsed(xs: String*) = boxed(xs.map(_.toDouble): _*)
    val ties = Seq(
      parsed("0.0000000000005", "-0.0000000000005", "0.1234567890125", "-2.5000000000005",
        "0.0000000000015", "1.0000000000005", "3.0000000000025", "-0.5"),
      parsed("0.7071067811865", "0.0000001", "-0.0000001", "1e-13", "5e-13", "-5e-13",
        "2.5e-7", "-4e-7"),
      parsed("0.0000000000025", "0.0000000000035", "-0.0000000000045", "0.5",
        "0.2500000000005", "-0.7500000000005", "2e-6", "0.0000000000095"))
    val random = (0 until 120).map(_ => boxed(Seq.fill(Dims)(rnd.nextGaussian() * 3): _*)) ++ Seq(
      boxed(Seq.fill(Dims)(0.0): _*),
      boxed(Seq.fill(Dims)(-0.0): _*),
      boxed(Seq.tabulate(Dims)(i => if (i == 2) Double.NaN else if (i == 5) Double.NegativeInfinity else i): _*),
      null)
    val big = Seq(
      // products up to ~6e15 (unscaled ~6e27) and ~2e9 (unscaled ~2e21)
      boxed(Seq.tabulate(Dims)(i => (if (i % 2 == 0) 1 else -1) * 9.876543e6 * (i + 1)): _*),
      boxed(Seq.tabulate(Dims)(i => 4.4e4 + i): _*),
      boxed(Seq.tabulate(Dims)(i => -3.3e4 * (i + 1)): _*))
    Seq("ties" -> ties, "random" -> random, "big" -> big).map { case (name, vs) =>
      name -> vs.zipWithIndex.map { case (v, i) => (i.toLong, v) } }
  }

  /** The replaced per-cell decimal sums: (-1, i) for Σx, (i, j) for Σx·yᵀ. */
  private def referenceMoments(df: DataFrame, x: String, y: String): Map[Any, Any] = {
    def exact(c: org.apache.spark.sql.Column) = sum(round(c, 12).cast("decimal(38,12)")).cast("double")
    val xs = df.select(transform(col(x), _.cast("double")).as("x"), transform(col(y), _.cast("double")).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
    val first = xs.select(posexplode(col("x")).as(Seq("i", "xi")))
      .groupBy(col("i")).agg(exact(col("xi")).as("s"))
      .select(struct(lit(-1), col("i")), col("s"))
    val second = xs.select(posexplode(col("x")).as(Seq("i", "xi")), col("y"))
      .select(col("i"), posexplode(transform(col("y"), yj => col("xi") * yj)).as(Seq("j", "v")))
      .groupBy(col("i"), col("j")).agg(exact(col("v")).as("s"))
      .select(struct(col("i"), col("j")), col("s"))
    keyed(first) ++ keyed(second)
  }

  private def kernelMoments(df: DataFrame, x: String, y: String): (Long, Map[Any, Any]) = {
    val r = Quantization.momentsPlan(df, x, y, Dims).head()
    val sx = r.getSeq[Any](3)
    val sxy = r.getSeq[Any](4)
    val cells = sx.indices.map(i => bits(Row(-1, i)) -> bits(Seq(sx(i)))) ++
      sxy.indices.map(c => bits(Row(c / Dims, c % Dims)) -> bits(Seq(sxy(c))))
    (r.getLong(0), cells.toMap)
  }

  test("VectorMoments == posexplode² + decimal(38,12) sums, x·xᵀ and x·yᵀ, float and double") {
    for (elem <- ElemTypes; (name, rows) <- momentRows(1)) {
      val df = frame(rows, elem).repartition(5)
      val (n, got) = kernelMoments(df, "v", "v")
      assert(n == df.where(col("v").isNotNull).count(), s"n $name $elem")
      assertSame(got, referenceMoments(df, "v", "v"), s"symmetric $name $elem")
      // the OPQ form: x against a different y (here x reversed and scaled)
      val pairs = df.withColumn("w", transform(reverse(col("v")), e => e * lit(1.5).cast(elem)))
      assertSame(kernelMoments(pairs, "v", "w")._2, referenceMoments(pairs, "v", "w"), s"x·yᵀ $name $elem")
    }
  }

  test("VectorMoments overflows where the decimal sum does: ANSI error, else null") {
    // one partition: a running sum's overflow depends on the add order
    def rows(vs: Seq[Double]*) =
      frame(vs.zipWithIndex.map { case (v, i) => (i.toLong, boxed(v ++ Seq.fill(Dims - v.size)(1.0): _*)) },
        DoubleType).coalesce(1)
    // (0,0) reaches 10^26 on the 4th row; (0,1) passes it on the 3rd row
    // and comes back under it on the 4th, which must not clear it
    val runningSum = rows(Seq(5e12, 7e12), Seq(5e12, 7e12), Seq(5e12, 7e12), Seq(5e12, -7e12))
    // 2e13² = 4e26 does not fit decimal(38,12) as one term
    val bigTerm = rows(Seq(2e13, 1.0))
    // Σx(0) = 9e25 + 9e24 + ... + 9e2 = 10^26 - 100, then + 100 reaches
    // 10^26 on a small term and - 100 comes back under it, which must
    // not clear it (x·0ᵀ keeps the second moments at zero)
    val lastSmallTerm = rows((25 to 2 by -1).map(k => Seq(s"9e$k".toDouble)) ++ Seq(Seq(100.0), Seq(-100.0)): _*)
      .withColumn("w", transform(col("v"), _ * 0.0))
    val cases = Seq(
      (runningSum, "v", "ARITHMETIC_OVERFLOW"),
      (bigTerm, "v", "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION"),
      (lastSmallTerm, "w", "ARITHMETIC_OVERFLOW"))
    for ((df, y, want) <- cases) {
      def condition(f: => Any) = intercept[ArithmeticException](f) match {
        case e: SparkThrowable => e.getCondition
        case e => fail(s"not a Spark error: $e")
      }
      val (k, r) = (condition(kernelMoments(df, "v", y)), condition(referenceMoments(df, "v", y)))
      assert(k == want && r == want, s"kernel $k, reference $r")
    }
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for ((df, y, _) <- cases) {
        val (_, got) = kernelMoments(df, "v", y)
        val want = referenceMoments(df, "v", y)
        assert(want.values.exists(_ == List(null)), "the reference has a null cell")
        assertSame(got, want, "without ANSI")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  /** Ragged mean input: null elements, NaN, null and empty vectors, and
    * a group (3) whose vectors are all null or empty.
    */
  private def meanRows(seed: Int): Seq[(Long, Seq[java.lang.Double])] = {
    val rnd = new Random(seed)
    val random = (0 until 200).map(i => (i.toLong * 5 + (if (i % 2 == 0) 0 else 4)) -> boxed(Seq.fill(1 + rnd.nextInt(Dims))(rnd.nextGaussian()): _*))
    val edges = Seq(
      1L -> boxed(1.0, 2.0, 3.0).updated(1, null),
      6L -> boxed(Double.NaN, 1.0),
      11L -> null,
      3L -> null,
      8L -> boxed(),
      16L -> boxed(-0.0, -0.0, 0.0),
      2L -> boxed(Seq.fill(Dims + 2)(0.25): _*).updated(4, null),
      7L -> boxed(Seq.fill(Dims + 2)(0.5): _*).updated(4, null))
    random ++ edges
  }

  test("VectorMean == exact decimal mean per (group, position), one partition and seven") {
    for (elem <- ElemTypes; (layout, lay) <- Layouts) {
      val df = lay(frame(meanRows(2), elem)).withColumn("g", pmod(col("vec_id"), lit(5)))
      val kernel = df.groupBy(col("g")).agg(VectorFunctions.vectorMean(col("v")).as("mean"))
        .where(col("mean").isNotNull)
      assertSame(keyed(kernel), keyed(referenceMean(df, "g")), s"mean $elem $layout")
      assert(!keyed(kernel).contains(3L), "an all-null group has no row")
    }
  }

  test("VectorMean overflows where the decimal sum does: ANSI error, else null or skipped") {
    def rows(vs: Seq[Double]*) =
      frame(vs.zipWithIndex.map { case (v, i) => (i.toLong, boxed(v: _*)) }, DoubleType)
        .withColumn("g", lit(0))
    // position 0's running sum passes 10^26; 2e26 does not fit
    // decimal(38,12) as one term
    val cases = Seq(
      (rows(Seq(6e25, 1.0), Seq(6e25, 2.0)), "ARITHMETIC_OVERFLOW"),
      (rows(Seq(1.0, 2e26), Seq(3.0, 4.0)), "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION"))
    def kernel(df: DataFrame) = keyed(df.groupBy(col("g")).agg(VectorFunctions.vectorMean(col("v"))))
    for ((df, want) <- cases) {
      def condition(f: => Any) = intercept[ArithmeticException](f) match {
        case e: SparkThrowable => e.getCondition
        case e => fail(s"not a Spark error: $e")
      }
      val (k, r) = (condition(kernel(df)), condition(keyed(referenceMean(df, "g"))))
      assert(k == want && r == want, s"kernel $k, reference $r")
    }
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val Seq(sumOverflow, termSkipped) = cases.map(c => kernel(c._1))
      for ((df, _) <- cases) assertSame(kernel(df), keyed(referenceMean(df, "g")), "without ANSI")
      assert(sumOverflow == Map(0 -> List(List(null, 1.5).map(bits))))
      assert(termSkipped == Map(0 -> List(List(2.0, 4.0).map(bits))))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  /** Lloyd input: random rows, an exact duplicate of the first seed (its
    * cell ties to the smaller id and stays empty), a zero vector, and a
    * null vector and a null element under keys `nullKeys`. Keys have gaps
    * and arrive out of order.
    */
  private def lloydRows(seed: Int, nullKeys: (Long, Long)): Seq[(Long, Seq[java.lang.Double])] = {
    val rnd = new Random(seed)
    val random = rnd.shuffle((0 until 150).map(i => (i * 3 + 10).toLong ->
      boxed(Seq.fill(Dims)(rnd.nextGaussian()): _*)))
    val first = random.minBy(_._1)._2
    random ++ Seq(
      1L -> first, // a seed equal to the seed after it
      2L -> boxed(Seq.fill(Dims)(0.0): _*),
      nullKeys._1 -> null,
      nullKeys._2 -> boxed(Seq.fill(Dims)(0.5): _*).updated(3, null))
  }

  /** The replaced kmeansCodebook: window-numbered seeds, posexplode +
    * exact mean per (cell, pos) + array_sort(collect_list) per iteration.
    */
  private def referenceKmeans(space: DataFrame, k: Int, iterations: Int): DataFrame = {
    val keyed = space.select(col("vec_id"), col("v"))
    var cents = keyed.orderBy(col("vec_id")).limit(k)
      .select(
        (row_number().over(Window.partitionBy(pmod(col("vec_id"), lit(1))).orderBy(col("vec_id"))) - 1)
          .cast("int").as("centroid_id"),
        transform(col("v"), _.cast("double")).as("centroid"))
    for (_ <- 0 until iterations) {
      val table = CentroidTable.collect(cents, "centroid_id", "centroid")
      cents = Similarity.nearestCentroidWithVec(keyed, "vec_id", "v", table)
        .select(col("assigned").as("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("centroid_id"), col("pos")).agg(exactMean(col("x")).as("c"))
        .groupBy(col("centroid_id")).agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("centroid_id"), transform(col("pc"), _.getField("c")).as("centroid"))
    }
    cents
  }

  test("kmeansCodebook == window seeds + posexplode/exact-mean Lloyd, one partition and seven") {
    for (elem <- ElemTypes; iterations <- Seq(0, 1, 3); (layout, lay) <- Layouts) {
      // null seeds: a null centroid scores null and never wins an argmax
      val space = lay(frame(lloydRows(3, (3L, 4L)), elem))
      assertSame(
        keyed(Similarity.kmeansCodebook(space, "vec_id", "v", k = 5, iterations)),
        keyed(referenceKmeans(space, 5, iterations)), s"kmeans $elem x$iterations $layout")
    }
  }

  /** The replaced pqCodebooks: seed keys joined to the posexploded
    * subvectors and numbered by a window per subspace, posexplode +
    * exact mean per (subspace, cell, pos) per iteration, and a final
    * row_number re-densify per subspace.
    */
  private def referencePq(space: DataFrame, ksub: Int, iterations: Int): DataFrame = {
    val sub = Quantization.subVectors(space, "vec_id", "v", M, Dims)
    val seedKeys = space.select(col("vec_id")).orderBy(col("vec_id")).limit(ksub)
    var cents = sub.join(broadcast(seedKeys), "vec_id")
      .select(col("subspace"), col("vec_id"), col("subvec").as("centroid"))
      .withColumn("centroid_id",
        (row_number().over(Window.partitionBy(col("subspace")).orderBy(col("vec_id"))) - 1).cast("int"))
      .select(col("subspace"), col("centroid_id"), col("centroid"))
    for (_ <- 0 until iterations) {
      val codebook = PqCodebook.collect(cents, M)
      cents = space
        .select(posexplode(VectorFunctions.pqEncode(col("v"), codebook, Dsub)).as(Seq("subspace", "cell")),
          col("v"))
        .select(col("subspace"), col("cell"),
          posexplode(transform(slice(col("v"), col("subspace") * Dsub + 1, lit(Dsub)), _.cast("double")))
            .as(Seq("pos", "x")))
        .groupBy(col("subspace"), col("cell"), col("pos")).agg(exactMean(col("x")).as("c"))
        .groupBy(col("subspace"), col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("subspace"), col("cell").as("centroid_id"), transform(col("pc"), _.getField("c")).as("centroid"))
    }
    cents.withColumn("centroid_id",
      (row_number().over(Window.partitionBy(col("subspace")).orderBy(col("centroid_id"))) - 1).cast("int"))
  }

  private def byCell(df: DataFrame): DataFrame =
    df.select(struct(col("subspace"), col("centroid_id")).as("key"), col("centroid"))

  test("pqCodebooks == window seeds + posexplode/exact-mean Lloyd + window re-densify, one partition and seven") {
    for (elem <- ElemTypes; iterations <- Seq(0, 1, 2); (layout, lay) <- Layouts) {
      // null parts stay out of the seeds: a null sub-centroid would win
      // every L2 argmin, so every code would be the same
      val space = lay(frame(lloydRows(4, (10000L, 10001L)), elem))
      val got = Quantization.pqCodebooks(space, "vec_id", "v", M, Dims, ksub = 6, iterations)
      assertSame(keyed(byCell(got)), keyed(byCell(referencePq(space, 6, iterations))),
        s"pq $elem x$iterations $layout")
      if (iterations > 0) {
        // the duplicated seed's cell emptied: ids were re-densified
        val ids = got.where(col("subspace") === 0).collect().map(_.getInt(1)).sorted.toSeq
        assert(ids == ids.indices, s"dense ids $ids")
      }
    }
  }
}
