package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.operators.{Dedup, FeatureStore, Quantization, Sampling, Similarity}
import graft.sources.{Lakehouse, Tables}

/** Task-retry chaos harness: runs representative operators with
  * injected FIRST-ATTEMPT task failures (`local[8,3]` — every task may
  * be attempted 3 times) and asserts results are IDENTICAL to clean
  * runs of the same operators.
  *
  * What this proves, and why it matters on a real cluster: Spark's
  * recovery contract is task re-execution, and re-execution is only
  * correct when every task is deterministic — a `rand()`-based sampler
  * or a zipWithIndex-style numbering silently corrupts results under
  * retries (half the output from attempt 0, half from attempt 1, with
  * different draws). graft's conventions are designed for exactly this
  * (md5-of-key decisions, seeds-from-smallest-keys, prefix-sum
  * numbering over a frozen range partitioning, durable pins), so a
  * fault-injected run must be bit-identical, not just plausible.
  * Failures are injected BOTH scan-side (source stage tasks die on
  * first attempt) and reduce-side (post-exchange tasks die after the
  * shuffle fetch), and the run uses `graft.pins.durable=true` so every
  * lineage pin takes the reliable-checkpoint path a cluster run would.
  *
  * Runs in its own JVM (its SparkContext needs the `local[8,3]`
  * master, and test suites share one context) — ChaosSpec spawns it
  * with the test classpath and asserts the CHAOS_OK line.
  *
  * Usage: runMain graft.ChaosCheck <sfDir> <workDir>
  */
object ChaosCheck {

  /** JVM-global injection counter (valid in local mode: executor
    * threads share the JVM). The check REQUIRES injections to have
    * happened — a chaos harness that never fires is a green light that
    * proves nothing.
    */
  val injected = new AtomicInteger(0)

  /** Fail the first attempt of every third task of the stage this
    * transformation lands in; pass the data through untouched
    * otherwise. Row-encoder passthrough keeps the input schema, so the
    * wrapper drops in front of any operator.
    */
  def chaos(df: DataFrame): DataFrame =
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 3 == 0) {
        injected.incrementAndGet()
        throw new RuntimeException(
          s"[chaos] injected first-attempt failure, partition ${tc.partitionId()}")
      }
      it
    }(Encoders.row(df.schema))

  /** Order-insensitive exact fingerprint: row count + decimal sum of
    * per-row hashes over all columns (sorted by name). Aggregated
    * doubles are rounded to 6dp first — the engine's cross-run float
    * convention (merge order of floating-point partials is
    * nondeterministic in ANY run, chaos or not).
    */
  def fingerprint(df: DataFrame): String = {
    val cols = df.columns.sorted.map { c =>
      df.schema(c).dataType match {
        case DoubleType => round(col(c), 6).as(c)
        case ArrayType(DoubleType, _) =>
          transform(col(c), x => round(x, 6)).as(c)
        case _ => col(c).as(c)
      }
    }
    val r = df
      .select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(
        count(lit(1)).as("n"),
        coalesce(
          sum(col("h").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("s"))
      .head()
    s"n=${r.getLong(0)} h=${r.getDecimal(1)}"
  }

  /** (row, col, bits) of driver-side doubles, for a bit-exact fingerprint. */
  private def bitsFrame(cells: Seq[(Int, Int, Double)]): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    cells.map { case (r, c, v) => (r, c, java.lang.Double.doubleToLongBits(v)) }
      .toDF("r", "c", "bits")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ChaosCheck <sfDir> <workDir>")
    val (sfDir, workDir) = (args(0), args(1))
    val spark = GraftSession
      .builder(Some("local[8,3]"), shufflePartitions = 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$workDir/chaos_ckpt")
    // All pins take the reliable-checkpoint path, as a cluster run would.
    spark.conf.set(graft.operators.Pins.ConfKey, "true")

    def t(name: String) = Tables.load(spark, sfDir, name)
    var failures = List.empty[String]

    /** Run `op` twice — once with `wrap = identity` (the clean
      * baseline) and once with `wrap = chaos` — and require identical
      * fingerprints. `op` receives the wrapper and applies it at the
      * stage under test (scan-side: around the source; reduce-side:
      * after an exchange), so the baseline leg is genuinely fault-free
      * in both cases. A faulty leg that injects zero failures is a
      * FAILURE too: a chaos harness that never fires proves nothing.
      */
    def check(name: String)(op: (DataFrame => DataFrame) => DataFrame): Unit = {
      val clean = fingerprint(op(identity))
      val before = injected.get()
      val faulty = fingerprint(op(chaos))
      val fired = injected.get() - before
      val ok = clean == faulty && fired > 0
      if (clean != faulty) failures ::= s"$name: clean[$clean] != chaos[$faulty]"
      if (fired == 0) failures ::= s"$name: chaos leg injected zero failures"
      println(s"[chaos] $name ${if (ok) "PASS" else "FAIL"} " +
        s"(injected $fired failures; $clean)")
    }

    val lineitem = t("lineitem")
    val events = t("events")
    val docs = t("documents")
    val embs = t("embeddings")

    // 1. scan-side injection under a map-combined aggregate
    check("agg_scan_side")(wrap =>
      wrap(lineitem).groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(20,2)")).as("sum_qty"),
          count(lit(1)).as("n")))

    // 2. reduce-side injection: the chaos stage sits AFTER an exchange,
    // so retried tasks must re-fetch shuffle output deterministically
    // (the clean leg runs the same repartition un-wrapped)
    check("agg_reduce_side")(wrap =>
      wrap(lineitem.repartition(8, col("l_returnflag")))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast("decimal(20,2)")).as("sum_qty")))

    // 3. md5-of-key sampling: the retry-safety poster child (a rand()
    // sampler is silently wrong under exactly this fault)
    check("stratified_sample")(wrap =>
      Sampling.stratifiedSample(
        wrap(events.select(col("event_id"), col("event_type"))),
        "event_type", "event_id",
        Map("view" -> 0.5, "click" -> 0.25), defaultRate = 0.1, seed = 7))

    // 4. prefix-sum numbering over a frozen range partitioning, durable
    // pins on (both the count job and the numbering job see retries)
    check("global_rownum")(wrap =>
      FeatureStore.globalRowNumbers(
        wrap(events.select(col("event_id"), col("ts"))), Seq("ts", "event_id")))

    // 5. iterative fixpoint: MinHash-LSH candidate pairs into
    // large/small-star connected components, pins checkpointed per round
    // (driver finish off: this small graph would skip the rounds)
    val broadcastBound = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    check("minhash_cc")(wrap =>
      Dedup.connectedComponents(
        Dedup.minhashLshNative(wrap(docs), "doc_id", "text")
          .select(col("a"), col("b")),
        docs.select(col("doc_id")), "doc_id", durable = true))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBound)

    // 6. k-means: seeds-from-smallest-keys determinism through 3 Lloyd
    // rounds of exact VectorMean M-steps under dying tasks, bit for bit
    check("kmeans_codebook") { wrap =>
      val cb = Similarity.kmeansCodebook(wrap(embs), "vec_id", "embedding", k = 8, iterations = 3).collect()
      bitsFrame(cb.toSeq.flatMap { r =>
        r.getSeq[Double](1).zipWithIndex.map { case (v, c) => (r.getInt(0), c, v) } })
    }

    // 7. PCA moments: the exact fixed-point aggregate's partial buffers
    // serialized, re-run and merged under dying scan tasks; (μ, W) must
    // match bit for bit (compared as the doubles' bits, not 6dp)
    check("pca_moments") { wrap =>
      val (mu, w) = Quantization.pcaWhitening(wrap(embs), "vec_id", "embedding", dims = 64, k = 8)
      bitsFrame((mu +: w).zipWithIndex.flatMap { case (row, r) =>
        row.zipWithIndex.map { case (v, c) => (r, c, v) } })
    }

    // 8. PQ codebooks: driver-side seeds, two VectorMean M-steps and the
    // driver-side re-densify under dying scan tasks, bit for bit
    check("pq_codebooks") { wrap =>
      val cb = Quantization.pqCodebooks(wrap(embs), "vec_id", "embedding",
        m = 8, dims = 64, ksub = 8, iterations = 2).collect()
      bitsFrame(cb.toSeq.flatMap { r =>
        r.getSeq[Double](2).zipWithIndex.map { case (v, c) => (r.getInt(0) * 1000 + r.getInt(1), c, v) } })
    }

    // 9. the write path: data files land via retried write tasks, the
    // commit publishes once, the snapshot reads back identical
    {
      val before = injected.get()
      val src = lineitem.select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      val clean = fingerprint(src)
      Lakehouse.commit(chaos(src), s"$workDir/chaos_lake", "t", "overwrite")
      val back = fingerprint(Lakehouse.read(spark, s"$workDir/chaos_lake", "t"))
      val fired = injected.get() - before
      val ok = clean == back
      if (!ok) failures ::= s"lakehouse_commit: wrote[$back] != src[$clean]"
      println(s"[chaos] lakehouse_commit ${if (ok) "PASS" else "FAIL"} " +
        s"(injected $fired failures; $clean)")
    }

    val total = injected.get()
    if (failures.isEmpty && total > 0) {
      println(s"CHAOS_OK injected=$total")
      spark.stop()
      sys.exit(0)
    } else {
      println(s"CHAOS_FAIL injected=$total " + failures.mkString(" | "))
      spark.stop()
      sys.exit(1)
    }
  }
}
