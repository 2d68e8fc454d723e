package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for cosine similarity over
  * `array<float>` / `array<double>` columns.
  *
  * This is the hot kernel of every embedding operator (knn, IVF
  * assignment, near-dup): the higher-order-function formulation
  * (`aggregate(zip_with(...))`) is interpreted per element, while this
  * expression participates in whole-stage codegen — the generated loop
  * is a tight primitive `for` over the two arrays. Accumulation is
  * sequential double precision, bit-identical to the HOF version and
  * the external double-precision oracle.
  *
  * (The reference's equivalent kernel is hnswlib's cosine space,
  * reference: embeddinghub/embeddingstore/index.h — a SIMD C++ loop;
  * codegen is the Spark-native analog.)
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Null input arrays, mismatched lengths, and null elements all yield
  // null — the same semantics as the zip_with/aggregate HOF fallback,
  // so the two paths agree exactly where inputs are malformed.
  override def nullable: Boolean = true

  override def prettyName: String = "graft_cosine"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case other =>
        throw new IllegalArgumentException(s"graft_cosine: unsupported element type $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
          for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            double $xi = (double) $a.$lGet($i);
            double $yi = (double) $b.$rGet($i);
            $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
          }
          if (!${ev.isNull}) {
            ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
          }
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native inner product Σ a_i·b_i — the third hnswlib space.
  *
  * The reference's index is built over a pluggable hnswlib space;
  * graft covers all three: cosine (above), l2 (below), and this ip
  * kernel (reference: embeddinghub/embeddingstore/index.h picks the
  * space; hnswlib ships InnerProductSpace alongside cosine/l2).
  * Max-inner-product ranking is the natural similarity for
  * non-normalized learned embeddings (e.g. recommendation towers).
  * Same codegen rationale and null semantics as [[CosineSimilarity]];
  * accumulation is sequential double precision, bit-identical to the
  * HOF fold and a list-ordered SQL oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case other =>
        throw new IllegalArgumentException(s"graft_dot: unsupported element type $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xi * yi
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $acc = 0.0;
          for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            $acc += (double) $a.$lGet($i) * (double) $b.$rGet($i);
          }
          if (!${ev.isNull}) {
            ${ev.value} = $acc;
          }
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native squared euclidean distance — the PQ / L2-kmeans kernel.
  * Same rationale as [[CosineSimilarity]]: the HOF formulation
  * (`aggregate(zip_with(...))`) is CodegenFallback (interpreted per
  * row, with a per-row intermediate diff array), which dominates the
  * quantizer's assignment step at |corpus| x ksub evaluations. The
  * sequential ascending-index accumulation is bit-identical to the HOF
  * version and the list-ordered SQL oracle.
  */
case class L2SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_l2sq"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case other =>
        throw new IllegalArgumentException(s"graft_l2sq: unsupported element type $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xi - yi
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $acc = 0.0;
          for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            double $d = (double) $a.$lGet($i) - (double) $b.$rGet($i);
            $acc += $d * $d;
          }
          if (!${ev.isNull}) {
            ${ev.value} = $acc;
          }
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredDistance =
    copy(left = newLeft, right = newRight)
}

/** Native asymmetric-distance computation (ADC) — the inner loop of PQ
  * search: given a query's per-subspace lookup tables
  * (`array<array<double>>`, m x ksub) and a corpus row's codes
  * (`array<int>`, m entries), returns sum_j tables[j][codes[j]].
  *
  * This runs once per (query, corpus-code-row) pair — the dominant
  * cost of a PQ/IVF-PQ scan. The higher-order-function formulation
  * (`aggregate(sequence(1, m), ...)` with nested `element_at`) is
  * CodegenFallback: interpreted per row with per-step boxing. This
  * expression is the tight generated loop. Accumulation is sequential
  * in subspace order — bit-identical to the HOF fold and the unrolled
  * SQL oracle.
  *
  * Null semantics: null arrays, length mismatch, null elements, and
  * out-of-range codes all yield null. (Stricter than the HOF fold
  * under Spark 4 defaults, where `element_at` THROWS on an
  * out-of-range index — a malformed code row should drop from a
  * top-k, not kill the job.) Type misuse is rejected at analysis
  * time via checkInputDataTypes.
  */
case class AdcDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_adc"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _),
            ArrayType(org.apache.spark.sql.types.IntegerType | LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "graft_adc requires (array<array<double>>, array<int|bigint>), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }

  private def codeIsLong: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType match {
      case LongType => true
      case org.apache.spark.sql.types.IntegerType => false
      case other =>
        throw new IllegalArgumentException(s"graft_adc: unsupported code type $other")
    }

  private def validateTables(): Unit =
    left.dataType.asInstanceOf[ArrayType].elementType match {
      case ArrayType(DoubleType, _) => ()
      case other =>
        throw new IllegalArgumentException(s"graft_adc: tables must be array<array<double>>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    validateTables()
    val tables = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    if (tables.numElements() != codes.numElements()) return null
    val m = tables.numElements()
    val longCodes = codeIsLong
    var acc = 0.0
    var j = 0
    while (j < m) {
      if (tables.isNullAt(j) || codes.isNullAt(j)) return null
      val t = tables.getArray(j)
      val c = if (longCodes) codes.getLong(j).toInt else codes.getInt(j)
      if (c < 0 || c >= t.numElements() || t.isNullAt(c)) return null
      acc += t.getDouble(c)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    validateTables()
    val cGet = if (codeIsLong) "(int) $B$.getLong($J$)" else "$B$.getInt($J$)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      val c = ctx.freshName("c")
      val getCode = cGet.replace("$B$", b).replace("$J$", j)
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $m = $a.numElements();
          double $acc = 0.0;
          for (int $j = 0; $j < $m && !${ev.isNull}; $j++) {
            if ($a.isNullAt($j) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
            org.apache.spark.sql.catalyst.util.ArrayData $t = $a.getArray($j);
            int $c = $getCode;
            if ($c < 0 || $c >= $t.numElements() || $t.isNullAt($c)) {
              ${ev.isNull} = true; break;
            }
            $acc += $t.getDouble($c);
          }
          if (!${ev.isNull}) {
            ${ev.value} = $acc;
          }
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDistance =
    copy(left = newLeft, right = newRight)
}

/** The SQL names of graft's native expressions, and their runtime
  * registration into an already-built session's function registry (the
  * standalone-library analog of the `spark.sql.extensions` route,
  * graft.GraftExtensions). Registration serves SQL text only: operators
  * build the expressions directly as typed columns.
  */
object GraftFunctions {
  val CosineName = "graft_cosine"
  val TopKName = "graft_topk"
  val SimHashName = "graft_simhash64"
  val L2SqName = "graft_l2sq"
  val AdcName = "graft_adc"
  val DotName = "graft_dot"
  val MinHashBandsName = "graft_minhash_bands"
  val RpName = "graft_rp"
  val MatApplyName = "graft_matapply"
  val KmvName = "graft_kmv"
  val SortedInterName = "graft_sorted_inter"
  val PairSampleName = "graft_pair_sample"
  val LaneHashesName = "graft_lane_hashes"

  def register(spark: SparkSession): Unit = {
    val registry =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
    graft.GraftExtensions.injectables.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
