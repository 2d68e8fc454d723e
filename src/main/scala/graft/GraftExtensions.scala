package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.plans._

/** The SQL-text surface of graft's native expressions: set
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (spark-submit / spark-defaults.conf / SparkSession.builder.config)
  * and every `graft_*` name below resolves in ANY SQL surface of the
  * session — spark-sql shell, JDBC, `spark.sql(...)` — with no graft
  * code on the driver path. `GraftFunctions.register` installs the same
  * builders into an already-built session (`GraftSession.local` /
  * `cluster` call it once).
  *
  * Only SQL text goes through these names. graft's operators build
  * the expressions directly as typed columns (graft.functions), so
  * none of them needs a registered session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.injectables.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name),
          builder))
    }
}

object GraftExtensions {

  private def intLit(fn: String, what: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn $what must be an int literal, got $other")
  }

  /** Name -> expression builder for every graft SQL function. Each
    * builds the same expression as its kernel's typed column builder
    * (graft.functions), so SQL text and Scala callers get one plan.
    */
  private[graft] val injectables: Seq[(String, Seq[Expression] => Expression)] = Seq(
    GraftFunctions.CosineName -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    GraftFunctions.L2SqName -> (exprs => L2SquaredDistance(exprs(0), exprs(1))),
    GraftFunctions.AdcName -> (exprs => AdcDistance(exprs(0), exprs(1))),
    GraftFunctions.DotName -> (exprs => DotProduct(exprs(0), exprs(1))),
    GraftFunctions.SimHashName -> (exprs => SimHash64(exprs(0))),
    GraftFunctions.SortedInterName -> (exprs => SortedIntersectSize(exprs(0), exprs(1))),
    GraftFunctions.PairSampleName -> (exprs => PairSampleMatch(exprs(0), exprs(1))),
    GraftFunctions.LaneHashesName -> (exprs =>
      LaneHashes(exprs(0), intLit(GraftFunctions.LaneHashesName, "lanes", exprs(1)))),
    GraftFunctions.MinHashBandsName -> (exprs => MinHashBands(
      exprs(0),
      intLit(GraftFunctions.MinHashBandsName, "bands", exprs(1)),
      intLit(GraftFunctions.MinHashBandsName, "rowsPerBand", exprs(2)))),
    GraftFunctions.RpName -> (exprs => {
      val seed = exprs(3) match {
        case Literal(s, _) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"${GraftFunctions.RpName} seed must be a string literal, got $other")
      }
      SignedProjection(
        exprs(0),
        intLit(GraftFunctions.RpName, "dims", exprs(1)),
        intLit(GraftFunctions.RpName, "outDims", exprs(2)),
        seed)
    }),
    GraftFunctions.MatApplyName -> (exprs => {
      // The constant array<array<double>> matrix (a literal, or SQL's
      // array(array(..), ..)) is evaluated here, at analysis time: the
      // built expression carries it as a JVM object, so no per-row
      // literal walk survives in the plan.
      val mat = (exprs(1), exprs(1).dataType) match {
        case (e, ArrayType(ArrayType(DoubleType, _), _)) if e.foldable => e.eval() match {
          case ad: ArrayData if (0 until ad.numElements()).forall(!ad.isNullAt(_)) =>
            Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
          case other => throw new IllegalArgumentException(
            s"${GraftFunctions.MatApplyName} matrix must be non-null with no null rows, got $other")
        }
        case (other, _) => throw new IllegalArgumentException(
          s"${GraftFunctions.MatApplyName} matrix must be a constant array<array<double>>, got $other")
      }
      MatrixApply(exprs(0), mat)
    }),
    GraftFunctions.TopKName -> (exprs => TopKByScore.coerced(
      exprs(0), exprs(1), intLit(GraftFunctions.TopKName, "k", exprs(2)))),
    GraftFunctions.KmvName -> (exprs =>
      KmvSketch.coerced(exprs(0), intLit(GraftFunctions.KmvName, "k", exprs(1))))
  )
}
