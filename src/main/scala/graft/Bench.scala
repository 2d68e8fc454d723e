package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.{ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The timing tools' one core, plus the benchmark main.
  *
  * The core is the session ([[session]]), the forced evaluation
  * ([[force]]), the untimed warm-up ([[warmUp]]), the pre-rep teardown
  * ([[drain]]) and the timed rep with its job/stage/task counts
  * ([[time]]). `Bench.main` and [[AbProbe]] time through it;
  * [[Explain]] and [[GenData]] take its session.
  *
  * `Bench.main` runs every SparkEntry query (or the comma-separated
  * `SPARK_GRAFT_BENCH_ONLY` subset) against `SPARK_GRAFT_SF_DIR`, two
  * reps each, writes a stamped record under `bench_records/` and
  * prints one JSON line. A scaling sweep is one run per SF directory.
  */
object Bench {

  /** Core count of every timing tool: `SPARK_GRAFT_CPUS`, else the host's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The timing tools' session: `local[n]` with n shuffle partitions,
    * WARN logging, and the `org.apache.spark.rdd` package at ERROR.
    * drain() deliberately unpersists localCheckpoint pins, and
    * RDD.unpersist WARNs that each one's lineage is gone (true and
    * intended: the next rep re-evaluates from source). Each RDD
    * subclass logs under its own class name, so the whole package is
    * silenced. The resolved master is printed once, so a pasted log
    * states its core count.
    */
  def session(n: Int = cpus): SparkSession = {
    val spark = GraftSession.local(n, n)
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    System.err.println(s"[graft] local[$n]")
    spark
  }

  /** Evaluates every output column of a query through the `noop` sink
    * (`.count()` would let Catalyst prune the projection and
    * under-measure scan-heavy operators).
    */
  def force(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name).build(spark, dir).write.format("noop").mode("overwrite").save()

  /** Pre-rep teardown, all in the untimed gap: drop the table cache
    * (catalog.clearCache() completes ASYNCHRONOUSLY — it is not relied
    * on for quiescence) and the localCheckpoint pins (the explicit RDD
    * unpersist loop DOES block until block removal), then force a GC
    * so the ContextCleaner's weak refs for dead broadcasts/shuffles
    * enqueue NOW, and settle long enough for the cleaner thread plus
    * any straggling async uncache to finish before the clock starts.
    * Each rep is a full cold evaluation.
    */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(500)
  }

  /** One untimed pass of every query on `dir`: JIT and Janino codegen
    * cost seconds per distinct plan shape and would land on whichever
    * timed query first runs a shape. The dead state the pass leaves
    * behind is drained before it returns. A failure is printed with the
    * query's name: its first timed rep would otherwise absorb the
    * compile cost unnoticed.
    */
  def warmUp(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    for (name <- names)
      try force(spark, name, dir)
      catch { case e: Throwable => System.err.println(s"[graft] warm-up $name failed: $e") }
    drain(spark)
    Thread.sleep(3000) // let the cleaner thread finish its queue
  }

  /** One timed rep: wall seconds, whether it succeeded, and the Spark
    * jobs, stages and tasks it submitted.
    */
  final case class Rep(seconds: Double, ok: Boolean, jobs: Int, stages: Int, tasks: Int)

  private final class Counts extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
    }
  }

  /** Blocks until every posted listener event has been delivered. The
    * bus is internal to Spark; reflection keeps this on public packages.
    */
  private def awaitBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Drains, then times one forced evaluation of `name` on `dir`. The
    * counting listener is attached only after the bus is empty and read
    * only after it is empty again, so the counts are exactly this rep's.
    */
  def time(spark: SparkSession, name: String, dir: String): Rep = {
    drain(spark)
    val sc = spark.sparkContext
    awaitBus(sc)
    val counts = new Counts
    sc.addSparkListener(counts)
    try {
      val t0 = System.nanoTime()
      val ok =
        try { force(spark, name, dir); true }
        catch { case e: Throwable => System.err.println(s"[graft] $name failed: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      awaitBus(sc)
      Rep(dt, ok, counts.jobs.get, counts.stages.get, counts.tasks.get)
    } finally sc.removeSparkListener(counts)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = cpus
    // Optional subset (comma-separated query names) for local A/B runs
    // and scaling sweeps; only full-surface runs write BENCH_full.json.
    val subset = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(v => SparkEntry.requireKnown(v.split(',').map(_.trim).filter(_.nonEmpty).toSeq.sorted))
    val names = subset.getOrElse(SparkEntry.queries.keys.toSeq.sorted)

    // The ContextCleaner keeps Spark's defaults: the round-7 A/B
    // (BENCH_AB_r7.json) read blocking off 26.64 s vs on 26.38 s. What
    // keeps prior queries' dead state out of timed windows is drain()'s
    // explicit GC + settle.
    val spark = session(n)

    // Every query warms up on the tiny SF (measured: without it the
    // first dedup query absorbed ~20 s of the whole family's cold
    // compile), so the timed pass measures steady-state cost.
    warmUp(spark, names, "/root/testdata/sf0.001")

    // Two independent reps per query; the MIN is the headline number and
    // BOTH reps are recorded. Local-mode runs show rare multi-second
    // stalls that strike queries at random (concurrent
    // broadcast-build/stage materialization jitter, not plan cost — the
    // same query's other rep runs at full speed); min-of-reps reports
    // the plan's actual cost, and the recorded spread lets a reader
    // distinguish environment noise from a real regression.
    val results = names.map { name =>
      val reps = Seq.fill(2)(time(spark, name, sfDir))
      val ok = reps.forall(_.ok)
      val dt = reps.map(_.seconds).min
      System.err.println(f"[bench] $name%-28s ${if (ok) dt else -dt}%8.2f s  " +
        reps.map(r => f"${r.seconds}%.2f").mkString("(", " ", ")") +
        reps.map(_.jobs).mkString("  jobs=", "|", ""))
      (name, dt, ok, reps)
    }
    // Failures are reported distinctly (negative time + errors list) so
    // a hard-failing query never shows up as a suspiciously fast pass.
    //
    // The driver keeps only a 2000-char stdout tail and parses the LAST
    // line as JSON — a full ~200-query map is ~5000 chars and overflowed
    // that window every prior round (BENCH_r{1,2,3}.json all record
    // parsed:null). So the stdout line is COMPACT: total, per-family
    // subtotals, the slowest queries, and the full errors list — always
    // under the window — while the complete per-query reps and counts
    // go to a stamped record under bench_records/.
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def str(s: String): String = "\"" + s + "\""
    def qmap(rs: Seq[(String, Double, Boolean, Seq[Rep])]): String =
      rs.map { case (k, v, ok, _) => str(k) + ":" + ms(if (ok) v else -v) }
        .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false, _) => str(k) }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    def family(name: String): String = {
      val prefix = name.takeWhile(_ != '_')
      if (prefix.matches("q\\d*")) "analytics" else prefix
    }
    val fams = results.groupBy(r => family(r._1)).toSeq.sortBy(_._1)
      .map { case (f, rs) => str(f) + ":" + ms(rs.map(_._2).sum) }
      .mkString("{", ",", "}")
    val slowest = qmap(results.sortBy(-_._2).take(12))

    // The record is opened CREATE_NEW under a UTC-second + pid stamp,
    // so no run overwrites another's.
    val stamp = ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss"))
    val record = Paths.get("bench_records",
      s"$stamp-${ProcessHandle.current().pid()}.json")
    val perQuery = results.map { case (k, _, _, reps) =>
      str(k) + ":" + reps.map(r =>
        s"""{"s":${ms(r.seconds)},"ok":${r.ok},"jobs":${r.jobs},"stages":${r.stages},"tasks":${r.tasks}}""")
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    Files.createDirectories(record.getParent)
    Files.writeString(record,
      s"""{"sf":"$sfDir","cpus":$n,"queries":$perQuery,"errors":$errs}""",
      StandardOpenOption.CREATE_NEW)
    if (subset.isEmpty) {
      val repsMap = results
        .map { case (k, _, _, reps) => str(k) + ":" + reps.map(r => ms(r.seconds)).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get("BENCH_full.json"),
        s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"queries":${qmap(results)},"reps":$repsMap,"errors":$errs,"sf":"$sfDir"}""")
    }
    val line =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"families":$fams,"slowest":$slowest,"errors":$errs,"sf":"$sfDir","full":"$record"}"""
    // Hard guarantee: never exceed the driver's tail window. If errors
    // somehow balloon the line, fall back to the minimal contract line.
    println(
      if (line.length <= 1900) line
      else s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"n_errors":${results.count(!_._3)},"sf":"$sfDir","full":"$record"}""")
    spark.stop()
  }
}
