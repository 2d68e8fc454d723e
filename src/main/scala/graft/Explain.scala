package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain(formatted)` for every registered query — the plan
  * audit artifact (PLANS.md) — or for the named ones only:
  *
  *   runMain graft.Explain [<sfDir> [<out> [<query>...]]]
  *
  * Run after operator changes to confirm:
  * filters/projections reach the parquet scan (PushedFilters,
  * ReadSchema), small dims broadcast, aggregates partial-combine, and
  * hot expressions stay inside WholeStageCodegen.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // With no query names the audit covers the ENTIRE registered
    // surface, sorted, so a new query can never ship without a committed
    // physical plan. (Queries that materialize eagerly at construction
    // time — exports, count-derived sampling moduli — run their jobs
    // here too; sf0.01 keeps that cheap.)
    val named = SparkEntry.requireKnown(args.drop(2).toSeq)
    val picks = if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
    // Pinned at 8 cores, not the host's: shuffle partition counts are
    // part of the plan text, which must not depend on the machine.
    val spark = Bench.session(8)
    val sb = new StringBuilder
    sb.append("# Physical plan audit (generated by graft.Explain)\n")
    sb.append(s"# sf dir: $sfDir\n")
    sb.append(s"# coverage: ${picks.size} queries" +
      (if (named.isEmpty) " (the full registered surface)\n" else " (named)\n"))
    sb.append("# note: queries that materialize eagerly at construction (emb_hnsw_export,\n")
    sb.append("# emb_index_persist-style artifact round-trips, count-derived sampling moduli)\n")
    sb.append("# show only their residual stats frame here (LocalTableScan); their\n")
    sb.append("# distributed build side is the lineage they share with a non-eager twin —\n")
    sb.append("# emb_hnsw_export's build is emb_hnsw_ivf_build's audited plan (shared\n")
    sb.append("# ivfCandidateSource + diverseFromCandidates), whose cells and probe cells\n")
    sb.append("# are native nearest-centroid projections: no plan holds an n x nCells frame.\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name).build(spark, sfDir)
      sb.append(s"\n\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
