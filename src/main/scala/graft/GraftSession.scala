package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Spark-first equivalents of the reference's engine bootstrap
  * (featureform provider/spark_* + embeddinghub server startup): one
  * SparkSession with AQE enabled so joins/aggs re-plan at runtime
  * (broadcast promotion, skew-split), and a shuffle-partition count
  * sized for the deployment rather than Spark's default 200.
  *
  * At cluster scale the same builder is used with `master` unset (taken
  * from spark-submit) and `shufflePartitions` sized to ~2-3x total
  * cores with partitions targeting 128-256MB post-shuffle.
  */
object GraftSession {

  def builder(
      master: Option[String] = None,
      shufflePartitions: Int = 32,
      initialPartitionNum: Int = 0
  ): SparkSession.Builder = {
    // Shuffle-width start is a DEPLOYMENT knob. AQE only ever COALESCES
    // from the initial count — it never splits an oversized partition
    // (outside skew-join) — so the cluster preset errs high (see
    // [[cluster]]: a 1B-row intermediate on a static low count spills).
    // Locally the opposite holds: a wide start costs real overhead per
    // shuffle even after AQE coalesces (each mapper writes
    // initialPartitionNum shuffle blocks), measured as a 1.5-2.2x tax
    // on the sketch/containment dedup family at sf0.1 (paired builder
    // A/B, SURVEY §7 round-6 notes: initial=32 total 20.3s vs 512's
    // 28.0s over the 10 affected queries). Default (0) leaves the
    // start at `shufflePartitions`; pass a positive value to widen.
    val b0 = SparkSession
      .builder()
      .appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    val b = if (initialPartitionNum > 0)
      b0.config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitionNum.toString)
    else b0
    b
      // 100TB note: parquet scans split at this size; 128MB default is
      // right for the cluster, harmless locally.
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // Runtime filters: when a join's build side is selective, inject
      // a bloom filter on the probe side BEFORE its shuffle/scan — the
      // DPP-class lever that turns "shuffle the 100TB fact table, then
      // join" into "scan-filter it down first". Spark ships the
      // machinery (InjectRuntimeFilter); it just defaults off.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // The generated-class cache defaults to 100 entries; a session
      // running the full graft query surface compiles several hundred
      // codegen units, and evictions re-Janino-compile hot stages at
      // random (measured as multi-second spikes on otherwise-warm
      // queries). Static conf — must be set before session creation.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Catalog-table location (bucketed tables) must not depend on the
      // launcher's cwd; on a cluster this is the real warehouse path.
      .config(
        "spark.sql.warehouse.dir",
        System.getProperty("java.io.tmpdir") + "/graft_warehouse")
      .config("spark.ui.enabled", "false")
    master.fold(b)(b.master)
  }

  /** Local session for tests and benches, with graft's `graft_*` SQL
    * functions registered once for SQL text (operators build the
    * native expressions directly and need no registration).
    */
  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val s = builder(Some(s"local[$cores]"), shufflePartitions).getOrCreate()
    graft.plans.GraftFunctions.register(s)
    s
  }

  /** Cluster deployment preset — the builder a spark-submit driver
    * calls (master/executors come from the submit args). Sizes the
    * shuffle for the fleet and wires the two durability switches the
    * iterative operators need on real hardware:
    *
    *  - `shufflePartitions` ≈ 2-3× total executor cores (AQE coalesces
    *    small ones back down, so err high);
    *  - `initialPartitionNum` = 4× that: AQE only ever coalesces from
    *    the initial shuffle width, never splits (outside skew-join), so
    *    a 1B-row intermediate (4th-decade containment candidates)
    *    starting at a static low count spills before AQE can react.
    *    Erring high is right HERE because executors are many and the
    *    per-mapper block overhead amortizes; locally it is a measured
    *    1.5-2x tax (see [[builder]]), which is why only this preset
    *    widens the start;
    *  - `checkpointDir` (HDFS/S3) backs `sparkContext.setCheckpointDir`
    *    — pass `durable = true` to Dedup.connectedComponents /
    *    buildIvfPq so their per-round pins survive executor loss;
    *  - `warehouseDir` is the catalog root for Tables.writeBucketed's
    *    shuffle-free recurring-join tables;
    *  - graft's `graft_*` SQL functions are registered once on create,
    *    for SQL text only (the spark.sql.extensions=graft.GraftExtensions
    *    config route installs the same names with no code on the driver
    *    path); operators build the native expressions directly.
    */
  def cluster(
      totalCores: Int,
      checkpointDir: String,
      warehouseDir: String
  ): SparkSession = {
    require(totalCores >= 1, "totalCores must be >= 1")
    val s = builder(None, shufflePartitions = totalCores * 3,
        initialPartitionNum = totalCores * 12)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .getOrCreate()
    s.sparkContext.setCheckpointDir(checkpointDir)
    graft.plans.GraftFunctions.register(s)
    s
  }
}
