package graft

/** Scaling-curve bench: times a representative query per operator
  * family at several scale factors and fits the per-query scaling
  * exponent alpha where t ~ n^alpha between the two largest SFs —
  * the measured evidence behind SCALING.md's 100-TB extrapolation.
  *
  * Same timing discipline as [[Bench]]: noop sink (full column
  * evaluation), warmup of every query on the smallest supplied dir to
  * amortize JIT/codegen, [[Bench.drain]] before every rep, min of 2
  * reps.
  *
  * Usage: runMain graft.ScalingBench <outJson> <dir1> <dir2> ...
  * (dirs ordered smallest to largest; the exponent uses the last two).
  * Optional env SPARK_GRAFT_SCALE_QUERIES=csv overrides the query set.
  */
object ScalingBench {

  /** One representative per family shape: scan-agg, multi-join, window,
    * top-k, point-in-time join, prefix-sum paging, manifest-diff
    * backfill, hash/banded/prefix-filtered dedup, CC fixpoint, ANN
    * (brute oracle, IVF probe, IVF-PQ ADC, k-means build), text
    * scoring/retrieval/packing, sampling, media scan, watermark replay.
    */
  val DefaultQueries: Seq[String] = Seq(
    "q1_agg", "q5_multijoin", "q_window_suite", "q_topk_per_group",
    "fs_materialize_latest", "fs_training_set_pit", "fs_rolling_features",
    "fs_backfill_days", "fs_materialize_paged",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_containment",
    "dedup_components",
    "emb_knn_brute", "emb_kmeans", "emb_knn_ivf", "emb_knn_ivfpq",
    "text_quality", "text_bm25_topk", "text_tfidf_top_terms", "text_seq_pack",
    "sample_stratified", "mm_scene_cut", "stream_late_events")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScalingBench <outJson> <dir1> <dir2> ...")
    val outJson = args(0)
    val dirs = args.drop(1).toSeq
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val initParts = sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTS", "0").toInt
    val spark = GraftSession.builder(Some(s"local[$cpus]"), shufflePartitions = cpus,
        initialPartitionNum = initParts).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def force(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

    // JIT/codegen warmup (see Bench) on the SMALLEST supplied dir — no
    // hardcoded sandbox path, so the tool works wherever the data lives.
    // A query that throws in warmup is loudly reported, not swallowed:
    // its first timed rep would otherwise silently absorb compile cost.
    for (w <- queries)
      try force(w, dirs.head)
      catch {
        case e: Throwable =>
          System.err.println(s"[scaling] WARN warmup $w failed: ${e.getMessage}")
      }
    Bench.drain(spark)
    Thread.sleep(3000)

    // A failing rep records -1.0 AND the exception, so a broken query at
    // a high SF reads as a failure with a cause in the artifact, never
    // as a bare timing sentinel a scaling table could silently absorb.
    def timed(name: String, dir: String): (Double, Option[String]) = {
      var err: Option[String] = None
      val reps = (1 to 2).map { _ =>
        Bench.drain(spark)
        val t0 = System.nanoTime()
        try { force(name, dir); (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            err = Some(
              (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
                .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200))
            -1.0
        }
      }
      (if (reps.exists(_ < 0)) -1.0 else reps.min, err)
    }

    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val rows = queries.map { q =>
      val ts = dirs.map { d =>
        val (t, err) = timed(q, d)
        System.err.println(f"[scaling] $q%-24s $d%-24s ${t}%8.2f s" +
          err.map(" ERR " + _).getOrElse(""))
        (d, t, err)
      }
      // alpha between the two LARGEST dirs, assuming dir order is
      // ascending SF and each step is 10x (the exponent is
      // log(t2/t1)/log(10))
      val alpha =
        if (ts.length >= 2 && ts.takeRight(2).forall(_._2 > 0)) {
          val Seq(a, b) = ts.takeRight(2).map(_._2)
          math.log(b / a) / math.log(10.0)
        } else Double.NaN
      (q, ts, alpha)
    }
    val json = rows.map { case (q, ts, alpha) =>
      val times = ts.map { case (d, t, _) => "\"" + d + "\":" + ms(t) }.mkString("{", ",", "}")
      val a = if (alpha.isNaN) "null" else ms(alpha)
      val errs = ts.collect { case (d, _, Some(e)) => "\"" + d + "\":\"" + e + "\"" }
      val errField =
        if (errs.isEmpty) "" else errs.mkString(",\"errors\":{", ",", "}")
      "\"" + q + "\":{\"times\":" + times + ",\"alpha\":" + a + errField + "}"
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    System.err.println(s"[scaling] wrote $outJson")
    println(json.take(1900))
    spark.stop()
  }
}
