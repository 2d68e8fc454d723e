package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Lineage pinning for iterative and prefix-sum operators — ONE place
  * that decides how a loop-carried / multiply-consumed frame is cut
  * from its lineage.
  *
  * Why pin at all: a frame consumed twice per loop round without a
  * lineage cut re-evaluates its subtree 2^rounds times (measured: the
  * HNSW replay went 53s → 3.2s at sf0.1 once pinned), and the
  * prefix-sum family (globalRowNumbers, skyline, watermark replay)
  * must freeze a sampled range-partitioning so the count job and the
  * numbering job see identical partitions.
  *
  * Why a shared switch: `localCheckpoint` stores the cut on executors
  * — cheap, but on a real cluster a lost executor after the cut aborts
  * the job (lineage is gone). Production runs set either the session
  * conf `graft.pins.durable=true` (plus `sparkContext.setCheckpointDir`
  * to an HDFS/object-store path) or the per-operator `durable` flag,
  * and every pin in the engine switches to a reliable `checkpoint`
  * that survives executor loss. Local/test runs keep the default.
  */
object Pins {

  /** Session conf key: "true" → every [[pin]] uses reliable
    * checkpoint(). Requires a checkpoint dir on the SparkContext.
    */
  val ConfKey = "graft.pins.durable"

  def durableDefault(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ConfKey).exists(_.trim.equalsIgnoreCase("true"))

  /** Pin with an explicit override: operators exposing their own
    * `durable` parameter pass it here; the session conf still forces
    * durability on when set (cluster ops can flip the whole engine
    * without touching call sites).
    */
  def pin(df: DataFrame, durable: Boolean): DataFrame =
    if (durable || durableDefault(df)) {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"durable pins need sparkContext.setCheckpointDir (conf $ConfKey or " +
          "an operator's durable flag is set)")
      df.checkpoint()
    } else df.localCheckpoint()

  /** Conf-driven pin — the default for operators without their own
    * durability parameter.
    */
  def pin(df: DataFrame): DataFrame = pin(df, durable = false)

  /** Pin `df` and read the named aggregates `metric +: metrics` over
    * its rows, keyed by name, in the pin's own job (a
    * `Dataset.observe`), so a loop's decision read costs no second pass
    * over the pinned rows. Both pin kinds evaluate the plan once (an
    * eager checkpoint writes in the job that computes), so each row is
    * counted once.
    */
  def pinObserved(df: DataFrame, durable: Boolean, metric: Column, metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val pinned = pin(df.observe(obs, metric, metrics: _*), durable)
    (pinned, obs.get)
  }

  /** `df.pinned()` syntax so pin sites read like the localCheckpoint
    * calls they replace (and chain the same way).
    */
  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pinned(): DataFrame = Pins.pin(df)
    def pinned(durable: Boolean): DataFrame = Pins.pin(df, durable)
  }
}
