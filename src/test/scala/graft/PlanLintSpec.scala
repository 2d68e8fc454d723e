package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** Plan guards on operator-internal frames that the queries' own plans
  * do not show (pinned sketch frames, fit steps, kernel sites) and on
  * two scans' pushdown. The whole-inventory plan audit is
  * [[PlanLedgerSpec]].
  */
class PlanLintSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  private lazy val spark = GraftTestSession.spark

  test("KMV sketch aggregates map-side (partial before the exchange)") {
    // the whole point of the bounded sketch is that each partition
    // reduces to <= k longs BEFORE the shuffle; a final-only aggregate
    // would shuffle every event row. The shipped query pins the
    // sketch frame (localCheckpoint) so its agg plan is not visible
    // from the outer DF — lint the sketch-build plan directly.
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.load(spark, GraftTestSession.Sf0001, "events")
    val df = ev.groupBy(col("event_type")).agg(
      call_function("graft_kmv",
        graft.functions.TextFunctions.md5Long60(col("user_id").cast("string")),
        lit(128)).as("sk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_kmv"),
      s"KMV aggregate is not partial (map-side) in:\n${plan.take(2000)}")
  }

  test("vector-fit aggregates aggregate map-side (partial before the exchange)") {
    // each partition must reduce to one buffer per group BEFORE the
    // shuffle; a final-only aggregate would shuffle every vector
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val df = emb.groupBy(pmod(col("vec_id"), lit(3))).agg(
      graft.functions.VectorFunctions.vectorMoments(col("embedding"), col("embedding"), 64).as("m"),
      graft.functions.VectorFunctions.vectorMean(col("embedding")).as("mean"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val belowExchange = collectWithSubqueries(plan) { case e: Exchange => e.child.toString }.mkString
    for (agg <- Seq("partial_graft_vector_moments", "partial_graft_vector_mean"))
      assert(belowExchange.contains(agg), s"$agg is not below an exchange in:\n$plan")
  }

  /** Generators over an array<float|double>: a row per vector element. */
  private def vectorGenerates(df: DataFrame): Seq[String] = df.queryExecution.optimizedPlan.collect {
    case g: Generate if g.generator.children.exists(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }) => g.generator.toString
  }

  test("vector fits explode no vector elements (no n·d or n·d² Generate)") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Quantization, Similarity}
    import graft.plans.{CentroidTable, PqCodebook}
    val emb = graft.sources.Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    // the guard catches the explode the fits replaced
    assert(vectorGenerates(emb.select(posexplode(col("embedding")))).nonEmpty)
    val cents = CentroidTable.seeds(emb, "vec_id", "embedding", 6)
    val codebook = PqCodebook.seeds(emb, "vec_id", "embedding", 8, 8, 8)
    val fits = Map(
      "pcaWhitening" -> Quantization.momentsPlan(emb, "embedding", "embedding", 64),
      "kmeansCodebook M-step" -> Similarity.kmeansStep(emb, "vec_id", "embedding", cents),
      "pqCodebooks M-step" -> Quantization.pqStep(emb, "embedding", codebook, 8),
      "oodScores distances" -> Similarity.oodDistances(emb, "vec_id", "embedding"))
    for ((name, df) <- fits)
      assert(vectorGenerates(df).isEmpty, s"$name explodes vector elements:\n${df.queryExecution.optimizedPlan}")
  }

  test("centroid sites run on the kernels: no cross join, no vector explode, a narrow decode") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.functions._
    import graft.operators.{Graph, Quantization, Similarity}
    val emb = graft.sources.Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    /** Why `df` is not on the kernels: a centroid cross-join, a row per
      * vector element, or (`narrow`) any join, aggregate or generator.
      */
    def offenses(df: DataFrame, narrow: Boolean): Seq[String] = {
      val crossJoins = df.queryExecution.sparkPlan.collect {
        case p @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) => p.nodeName
      }
      val wide = if (!narrow) Nil else df.queryExecution.optimizedPlan.collect {
        case p @ (_: Join | _: Aggregate | _: Generate) => p.nodeName
      }
      crossJoins ++ vectorGenerates(df) ++ wide
    }
    val cents = Similarity.centroids(emb, "label", "embedding")
    val codebooks = Quantization.pqCodebooks(emb, "vec_id", "embedding", 8, 64, 8, 1)
    val codes = Quantization.pqEncode(emb, "vec_id", "embedding", 8, 64, codebooks)
    val oldSide = col("vec_id") % 2 === 0
    // (site, its plan, the declarative copy it replaced, narrow)
    val sites = Seq(
      ("centroids", cents, DeclarativeCentroids.centroids(emb, "label", "embedding"), false),
      ("centroidDrift", Similarity.centroidDrift(emb, "vec_id", "embedding", "label", oldSide),
        DeclarativeCentroids.centroidDrift(emb, "embedding", "label", oldSide), false),
      ("clusterAssign", Similarity.clusterAssign(emb, "vec_id", "embedding", 4, 1),
        DeclarativeCentroids.clusterAssign(emb, "vec_id", "embedding", 4, 1), false),
      ("ivfCandidateSource", Graph.ivfCandidateSource("vec_id", "embedding", cents, 2)(emb, 5),
        DeclarativeCentroids.ivfCandidateSource("vec_id", "embedding", cents, 2)(emb, 5), false),
      ("pqReconstruct", Quantization.pqReconstruct(codes, codebooks),
        DeclarativeCentroids.pqReconstruct(codes, codebooks), true))
    for ((name, df, replaced, narrow) <- sites) {
      assert(offenses(df, narrow).isEmpty,
        s"$name: ${offenses(df, narrow).mkString(", ")}\n${df.queryExecution.optimizedPlan}")
      // the guard catches the copy the site replaced
      assert(offenses(replaced, narrow).nonEmpty, s"$name: the guard misses the declarative form")
    }
  }

  test("events scans push filters and prune columns (restored family plan audit)") {
    // fs_training_set_pit filters events by event_type: the predicate
    // must reach the parquet scan, not evaluate post-scan
    val pit = SparkEntry.queries("fs_training_set_pit").build(spark, GraftTestSession.Sf0001)
    val pitScan = pit.queryExecution.executedPlan.toString
    assert(
      pitScan.contains("PushedFilters: [") &&
        pitScan.matches("(?s).*PushedFilters: \\[[^\\]]*event_type[^\\]]*\\].*"),
      "event_type filter not pushed to the events scan")
    // fs_materialize_latest touches 4 of events' columns: the scan's
    // ReadSchema must NOT include the unused JSON properties payload
    val mat = SparkEntry.queries("fs_materialize_latest").build(spark, GraftTestSession.Sf0001)
    val matScans = mat.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(matScans.nonEmpty, "no parquet scan found")
    assert(!matScans.contains("properties"),
      s"materialize scan reads the unused properties column:\n$matScans")
  }
}
