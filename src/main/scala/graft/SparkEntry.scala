package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.surface._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Numeric-exactness conventions (so every SQL-expressible operator is
  * a *hash*-matchable oracle, not a tolerance compare):
  *  - money/metric sums run in DECIMAL (exact, order-independent) and
  *    are emitted as `CAST(dec AS DOUBLE)` — both engines cast the same
  *    exact decimal, giving bit-identical doubles with no rounding;
  *  - averages are emitted as sum-decimal-double / count (same rule);
  *  - genuinely floating results (cosine, norms) are rounded to 6dp and
  *    the oracle recomputes them with the same double-precision
  *    accumulation order;
  *  - timestamps are emitted as unix microseconds (BIGINT).
  */
object SparkEntry {

  /** Every declared query, family by family. */
  val declared: Seq[(String, Query)] =
    FeatureStoreQueries.queries ++ EmbeddingQueries.queries ++ DedupQueries.queries ++
      TextQueries.queries ++ AnalyticsQueries.queries ++ MiscQueries.queries

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, Query] = declared.toMap

  /** `names`, if every one is declared; otherwise one
    * IllegalArgumentException that names each unknown one. The entry
    * tools call it before they start a session.
    */
  def requireKnown(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, "unknown queries: " + unknown.mkString(", "))
    names
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg").build(spark, "/root/testdata/sf0.001")
}
