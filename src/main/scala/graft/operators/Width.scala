package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Input width for per-row kernels. A kernel that is pure per-row CPU
  * (regex scrub, quality signals, MinHash sketches) runs with whatever
  * partitioning its input brings, and a compact parquet corpus arrives
  * in fewer splits than there are cores: one row group is one task
  * doing every row while the other cores idle.
  */
object Width {

  /** `df` round-robin repartitioned to `defaultParallelism` when it is
    * a batch frame planned with fewer partitions than that; `df`
    * unchanged otherwise. Never narrows an input: a frame whose plan
    * does not tell its partition count is left as it is.
    */
  def spread(df: DataFrame): DataFrame = {
    val width = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) df
    else plannedPartitions(df.queryExecution.executedPlan) match {
      case Some(n) if n < width => df.repartition(width)
      case _ => df
    }
  }

  /** Partition count of a physical plan, read without running a job:
    * the output partitioning when it is known (an exchange fixes it),
    * else the leaf's RDD under a chain of narrow one-child operators.
    * Adaptive plans are read off their input plan: executing one would
    * run its shuffle stages.
    */
  private def plannedPartitions(plan: SparkPlan): Option[Int] = plan match {
    case a: AdaptiveSparkPlanExec => plannedPartitions(a.inputPlan)
    case p if p.outputPartitioning.numPartitions > 0 => Some(p.outputPartitioning.numPartitions)
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case p => p.children match {
      case Seq(child) => plannedPartitions(child)
      case Seq() => Some(p.execute().getNumPartitions)
      case _ => None
    }
  }
}
