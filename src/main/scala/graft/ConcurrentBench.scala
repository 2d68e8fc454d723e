package graft

import java.util.concurrent.{CountDownLatch, Executors}

/** Concurrency-tax probe: the bench discipline measures queries ALONE
  * (correct for per-plan cost), but a shared cluster runs queries
  * CONCURRENTLY — so this main quantifies the interference tax on one
  * JVM directly. Two disjoint query subsets run three ways against the
  * same SparkSession (Spark's scheduler is designed for concurrent
  * jobs from multiple threads; FAIR mode is the multi-tenant setting):
  *
  *   solo_a / solo_b — each subset alone, sequentially (the bench
  *     discipline's number);
  *   concurrent — both subsets at once from two threads, wall-clock of
  *     the slower thread.
  *
  * inflation = concurrent_wall / max(solo_a, solo_b) answers "what do
  * I pay for co-scheduling" — 1.0 would be perfect overlap at zero
  * cost (impossible on a saturated box: two 32-thread jobs share 32
  * cores), 2.0 would mean zero benefit from overlap (pure
  * serialization), and the interesting signal is anything ABOVE
  * (solo_a+solo_b)/max(solo_a,solo_b) — that excess is genuine
  * contention (GC, shuffle-file IO, scheduler, memory-manager locks),
  * the dead-state class the round-3..6 bench cleanup chased.
  *
  * Usage: runMain graft.ConcurrentBench <outJson>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_CONC_A / _B (csv query subsets).
  */
object ConcurrentBench {
  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("CONCURRENCY_probe.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // disjoint defaults spanning scan-, shuffle- and iteration-heavy
    // shapes from different families (no shared pinned frames)
    val setA = sys.env.getOrElse("SPARK_GRAFT_CONC_A",
      "q1_agg,q5_multijoin,text_quality,dedup_exact,fs_materialize_latest,mm_scene_cut")
      .split(",").toSeq
    val setB = sys.env.getOrElse("SPARK_GRAFT_CONC_B",
      "q_window_suite,text_bm25_topk,dedup_minhash_lsh,fs_training_set_pit,sample_stratified,emb_kmeans")
      .split(",").toSeq
    val spark = GraftSession.builder(Some(s"local[$cpus]"), shufflePartitions = cpus)
      // FAIR lets the two concurrent jobs interleave stages instead of
      // FIFO head-of-line blocking — the multi-tenant configuration
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

    // warmup both sets (JIT/codegen out of every timed window)
    (setA ++ setB).foreach { w =>
      try SparkEntry.queries(w)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[conc] warmup $w: ${e.getMessage}") }
    }
    Bench.drain(spark); Thread.sleep(2000)

    def runSet(names: Seq[String]): Double = {
      val t0 = System.nanoTime()
      names.foreach(force)
      (System.nanoTime() - t0) / 1e9
    }
    def timedSolo(names: Seq[String]): Double = { Bench.drain(spark); runSet(names) }

    // solo baselines, two reps each (min), alone on the box
    def minOf2(names: Seq[String]): Double = Seq(timedSolo(names), timedSolo(names)).min
    val soloA = minOf2(setA)
    val soloB = minOf2(setB)

    // concurrent: both sets at once from two threads, two reps
    def concurrentOnce(): Double = {
      Bench.drain(spark)
      val pool = Executors.newFixedThreadPool(2)
      val latch = new CountDownLatch(1)
      val t0 = System.nanoTime()
      val fa = pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = { latch.await(); runSet(setA) } })
      val fb = pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = { latch.await(); runSet(setB) } })
      latch.countDown()
      val (ta, tb) = (fa.get(), fb.get())
      pool.shutdown()
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[conc] concurrent rep: wall=$wall%.2f a=$ta%.2f b=$tb%.2f")
      wall
    }
    val conc = Seq(concurrentOnce(), concurrentOnce()).min

    def ms(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val serialized = soloA + soloB
    val inflVsSlower = conc / math.max(soloA, soloB)
    val speedupVsSerial = serialized / conc
    val json =
      s"""{"sf":"$sfDir","set_a":${setA.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""set_b":${setB.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""solo_a_sec":${ms(soloA)},"solo_b_sec":${ms(soloB)},""" +
        s""""serialized_sec":${ms(serialized)},"concurrent_wall_sec":${ms(conc)},""" +
        s""""inflation_vs_slower_solo":${ms(inflVsSlower)},""" +
        s""""speedup_vs_serialized":${ms(speedupVsSerial)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
