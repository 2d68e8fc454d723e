package graft

import java.nio.file.{Files, Paths}
import java.util.{Collections, IdentityHashMap}

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FileSourceScanLike, FormattedMode, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec

/** The physical-plan audit of the registered surface:
  *
  *   runMain graft.Explain <sfDir> [<out> [<query>...]]
  *
  * With no query names it writes the plan ledger (default
  * `LedgerFile`, PLANS.tsv): one `name<TAB>fingerprint` line per
  * registered query, sorted by name. `PlanLedgerSpec` rebuilds it on
  * the sf0.001 corpus and fails on any difference, so a plan change
  * shows up as a one-line diff in the change that caused it. With
  * query names it writes those queries' full `explain(formatted)` text
  * instead.
  */
object Explain {

  /** The ledger's session shape, `local[Cores]` with `Cores` shuffle
    * partitions (the test session's too): widths decide some plan
    * shapes.
    */
  val Cores = 4

  /** The committed ledger, relative to the repo root. */
  val LedgerFile = "PLANS.tsv"

  /** An id-free structural summary of one query's unexecuted physical
    * plan, read from AQE's initial plan with its subqueries and, under
    * each persisted frame's `InMemoryTableScan`, the cached plan.
    * `windowGlobal` counts windows with an empty partition spec;
    * `aggPartial` counts map-side aggregates (no required child
    * distribution), `aggFinal` the rest; `pushedScans` counts scans
    * with pushed filters; `natives` are the `graft.plans` expressions
    * present, by SQL name.
    */
  final case class Fingerprint(
      exchange: Int, bhj: Int, smj: Int, shj: Int, bnlj: Int, cartesian: Int,
      generate: Int, window: Int, windowGlobal: Int, aggPartial: Int, aggFinal: Int,
      scalaUdf: Int, pushedScans: Int, natives: Seq[String]) {
    override def toString: String =
      s"exchange=$exchange bhj=$bhj smj=$smj shj=$shj bnlj=$bnlj cartesian=$cartesian " +
        s"generate=$generate window=$window window_global=$windowGlobal " +
        s"agg_partial=$aggPartial agg_final=$aggFinal scala_udf=$scalaUdf " +
        s"pushed_scans=$pushedScans native=${natives.mkString(",")}"
  }

  /** The plan's nodes. A persisted frame's cached plan is walked at its
    * first scan only: its work runs once however many scans read it.
    */
  private def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val cached = Collections.newSetFromMap(new IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case m: InMemoryTableScanExec if cached.add(m.relation.cachedPlan) =>
        m +: walk(m.relation.cachedPlan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
    }
    walk(root)
  }

  def fingerprint(df: DataFrame): Fingerprint = {
    val ps = nodes(df.queryExecution.executedPlan)
    def count[T <: SparkPlan](implicit t: ClassTag[T]): Int = ps.count(t.runtimeClass.isInstance)
    val exprs = ps.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val aggs = ps.collect { case a: BaseAggregateExec => a }
    Fingerprint(
      exchange = count[Exchange],
      bhj = count[BroadcastHashJoinExec],
      smj = count[SortMergeJoinExec],
      shj = count[ShuffledHashJoinExec],
      bnlj = count[BroadcastNestedLoopJoinExec],
      cartesian = count[CartesianProductExec],
      generate = count[GenerateExec],
      window = count[WindowExec],
      windowGlobal = ps.count { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false },
      aggPartial = aggs.count(_.requiredChildDistributionExpressions.isEmpty),
      aggFinal = aggs.count(_.requiredChildDistributionExpressions.isDefined),
      scalaUdf = exprs.count(_.isInstanceOf[ScalaUDF]),
      pushedScans = ps.count {
        case s: FileSourceScanLike => s.metadata.get("PushedFilters").exists(_ != "[]")
        case _ => false
      },
      natives = exprs.filter(_.getClass.getPackageName == "graft.plans")
        .map(_.prettyName).distinct.sorted)
  }

  /** Every registered query's fingerprint, sorted by name. */
  def ledger(spark: SparkSession, sfDir: String): Seq[(String, Fingerprint)] =
    SparkEntry.queries.keys.toSeq.sorted.map(name =>
      name -> fingerprint(SparkEntry.queries(name).build(spark, sfDir)))

  /** The ledger's lines: `name<TAB>fingerprint`. */
  def render(ledger: Seq[(String, Fingerprint)]): Seq[String] =
    ledger.map { case (name, fp) => s"$name\t$fp" }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Explain <sfDir> [<out> [<query>...]]")
    val sfDir = args(0)
    val named = SparkEntry.requireKnown(args.drop(2).toSeq)
    val out = if (args.length > 1) args(1) else LedgerFile
    val spark = Bench.session(Cores)
    val text =
      if (named.isEmpty)
        render(ledger(spark, sfDir)).map(_ + "\n").mkString
      else named.map { name =>
        val plan = SparkEntry.queries(name).build(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        s"## $name\n\n```\n$plan\n```\n\n"
      }.mkString
    Files.writeString(Paths.get(out), text)
    println(s"wrote $out")
    spark.stop()
  }
}
