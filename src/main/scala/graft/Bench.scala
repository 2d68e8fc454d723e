package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink (full evaluation of
  * every output column — `.count()` would let Catalyst prune the
  * projection and under-measure scan-heavy operators). A warmup pass
  * at sf0.001 amortizes JIT/codegen startup out of the first timed
  * query.
  */
object Bench {
  /** A `SPARK_GRAFT_BENCH_TAG` value, if it is safe inside the file name
    * `BENCH_full_<tag>.json`: letters, digits, '.', '_' and '-' only, so
    * no tag can name a path outside the working directory.
    */
  def checkTag(tag: String): String = {
    require(tag.matches("[A-Za-z0-9._-]+"),
      s"SPARK_GRAFT_BENCH_TAG must match ^[A-Za-z0-9._-]+$$ (it names BENCH_full_<tag>.json), got '$tag'")
    tag
  }

  /** Pre-rep teardown, all in the untimed gap: drop the table cache
    * (catalog.clearCache() completes ASYNCHRONOUSLY — it is not relied
    * on for quiescence) and the localCheckpoint pins (the explicit RDD
    * unpersist loop DOES block until block removal), then force a GC
    * so the ContextCleaner's weak refs for dead broadcasts/shuffles
    * enqueue NOW, and settle long enough for the cleaner thread plus
    * any straggling async uncache to finish before the clock starts.
    * Each rep is a full cold evaluation. Every timing tool drains
    * through this one.
    */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(500)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Checked before any work: the tag becomes part of a file name.
    val tag = sys.env.get("SPARK_GRAFT_BENCH_TAG").map(checkTag)
    // The ContextCleaner keeps Spark's defaults: the round-7 A/B
    // (BENCH_AB_r7.json) read blocking off 26.64 s vs on 26.38 s. What
    // keeps prior queries' dead state out of timed windows is drain()'s
    // explicit GC + settle.
    val spark = GraftSession.builder(Some(s"local[$cpus]"), shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // drain() deliberately unpersists localCheckpoint pins; RDD.unpersist
    // WARNs that each one's lineage is gone (true, intended — the next
    // rep re-evaluates from source). ~480 of those per bench pad the
    // stdout tail the driver parses, so silence the rdd PACKAGE — each
    // RDD subclass logs under its own concrete class name
    // (MapPartitionsRDD etc.), so the base-class logger isn't enough.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

    def force(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

    // Optional subset (comma-separated query names) for local A/B runs;
    // the driver never sets it, so official benches time the full surface.
    // Subset runs write their per-query map to BENCH_subset.json, NOT
    // BENCH_full.json: a later A/B subset run used to silently clobber
    // the committed full-surface artifact (bit past rounds twice).
    val (names, fullArtifact) = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(s) =>
        (s.split(',').map(_.trim).filter(_.nonEmpty).toSeq.sorted, "BENCH_subset.json")
      case None => (SparkEntry.queries.keys.toSeq.sorted, "BENCH_full.json")
    }

    // Warmup EVERY query once on the tiny SF: JIT + Janino codegen of
    // each query's generated classes costs seconds per distinct plan
    // shape and lands on whichever query runs a shape first (measured:
    // the first dedup query absorbed ~20s of the whole family's cold
    // compile). Steady-state per-query cost is what a long-running
    // cluster job sees; the warmup pass makes the timed pass measure
    // exactly that.
    for (w <- names)
      try force(w, "/root/testdata/sf0.001") catch { case _: Throwable => }

    // The warmup pass leaves ~200 queries of dead state behind —
    // unreferenced checkpointed RDDs, broadcast blocks, shuffle files.
    // Drain it all before the timed pass starts.
    drain(spark)
    Thread.sleep(3000) // let the cleaner thread finish its queue

    // Two independent reps per query; the MIN is the headline number and
    // BOTH reps are recorded in BENCH_full.json. Local-mode runs show
    // rare multi-second stalls that strike queries at random (concurrent
    // broadcast-build/stage materialization jitter, not plan cost — the
    // same query's other rep runs at full speed); min-of-reps reports
    // the plan's actual cost, which is what the steady state of a
    // long-running cluster job pays, and the recorded spread lets a
    // reader distinguish environment noise from a real regression.
    // drain() runs before every rep so each one is a full cold
    // evaluation with no inherited intermediates.
    val results = names.map { name =>
      val reps = (1 to 2).map { _ =>
        drain(spark)
        val t0 = System.nanoTime()
        val ok = try { force(name, sfDir); true } catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val ok = reps.forall(_._2)
      val dt = reps.map(_._1).min
      System.err.println(f"[bench] $name%-28s ${if (ok) dt else -dt}%8.2f s  " +
        reps.map(r => f"${r._1}%.2f").mkString("(", " ", ")"))
      (name, dt, ok, reps.map(_._1))
    }
    // Failures are reported distinctly (negative time + errors list) so
    // a hard-failing query never shows up as a suspiciously fast pass.
    //
    // The driver keeps only a 2000-char stdout tail and parses the LAST
    // line as JSON — a full ~200-query map is ~5000 chars and overflowed
    // that window every prior round (BENCH_r{1,2,3}.json all record
    // parsed:null). So the stdout line is COMPACT: total, per-family
    // subtotals, the slowest queries, and the full errors list — always
    // under the window — while the complete per-query map (min AND both
    // reps) goes to BENCH_full.json in the working directory for the
    // plan-level audit.
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qmap(rs: Seq[(String, Double, Boolean, Seq[Double])]): String =
      rs.map { case (k, v, ok, _) => "\"" + k + "\":" + ms(if (ok) v else -v) }
        .mkString("{", ",", "}")
    val repsMap = results
      .map { case (k, _, _, rs) => "\"" + k + "\":" + rs.map(ms).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    def family(name: String): String = name.takeWhile(_ != '_') match {
      case "q" | "q1" | "q2" | "q3" | "q4" | "q5" | "q6" | "q7" | "q8" | "q9"
           | "q10" | "q11" | "q12" | "q13" | "q14" | "q15" | "q16" | "q17"
           | "q18" | "q19" | "q20" | "q21" | "q22" => "analytics"
      case f => f
    }
    val fams = results.groupBy(r => family(r._1)).toSeq.sortBy(_._1)
      .map { case (f, rs) => "\"" + f + "\":" + ms(rs.map(_._2).sum) }
      .mkString("{", ",", "}")
    val slowest = qmap(results.sortBy(-_._2).take(12))
    val fullJson =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"queries":${qmap(results)},"reps":$repsMap,"errors":$errs,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullArtifact), fullJson)
    // Optional round-stamped copy (SPARK_GRAFT_BENCH_TAG=r12 ->
    // BENCH_full_r12.json): every run overwrites BENCH_full.json, which
    // has twice left the driver's per-query regression compare with no
    // stable "previous" artifact — a tagged copy committed at end of
    // round preserves the full per-query map per round. The driver
    // never sets the tag, so its runs are byte-identical to before.
    tag.foreach { tag =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_full_$tag.json"), fullJson)
    }
    val line =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"families":$fams,"slowest":$slowest,"errors":$errs,"sf":"$sfDir","full":"$fullArtifact"}"""
    // Hard guarantee: never exceed the driver's tail window. If errors
    // somehow balloon the line, fall back to the minimal contract line.
    println(
      if (line.length <= 1900) line
      else s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"n_errors":${results.count(!_._3)},"sf":"$sfDir","full":"$fullArtifact"}""")
    spark.stop()
  }
}
