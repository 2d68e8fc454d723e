package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.operators.Pins

/** Check tally behind `correct_ratio`. The unit is one op of one timed
  * pass: it fails if any of its checks fails. An op that throws fails
  * together with every op after it in that pass, and the run exits
  * non-zero, so a throw is never a fast pass. Checks are attributed to
  * the op that ran last. While `on` is false (warm-up) no check is
  * evaluated.
  */
final class Checks(ops: Seq[String]) {
  var on = false
  /** Individual checks evaluated and failed, kept for the record. */
  var attempted, failed = 0L
  /** (pass, op) units evaluated and failed. */
  var units, failedUnits = 0L
  var anyThrew = false
  private var current = ""
  private val failedOps = mutable.Set[String]()

  def startOp(name: String): Unit = current = name

  def apply(what: String, ok: => Boolean, detail: => String = ""): Unit =
    if (on) {
      attempted += 1
      if (!ok) {
        failed += 1
        failedOps += current
        if (failed <= 20) System.err.println(s"[perfbench] check failed: $what $detail")
      }
    }

  def threw(what: String, e: Throwable): Unit = {
    anyThrew = true
    failedOps ++= ops.drop(math.max(0, ops.indexOf(current)))
    System.err.println(s"[perfbench] $what threw in $current: ${e.getClass.getName}: ${e.getMessage}")
    e.printStackTrace()
  }

  /** Close a pass: tally its units when checks are on. */
  def endPass(): Unit = {
    if (on) {
      units += ops.size
      failedUnits += failedOps.size
    }
    failedOps.clear()
    current = ""
  }
}

/** What a workload pass sees: the session, the op wrapper and the checks. */
final class Ctx(val spark: SparkSession, tracer: Option[Tracer], val checks: Checks,
    val quality: mutable.Map[String, Double]) {
  /** Seconds spent inside op calls and their forcing, this pass. */
  var opSeconds = 0.0
  val latenciesMs = mutable.ArrayBuffer[Double]()

  /** Time one public call plus the forcing of its result. `latency`
    * marks the small NearestNeighbor calls whose durations are kept as
    * latency samples.
    */
  def op[A, B](name: String, latency: Boolean = false)(call: => A)(force: A => B): B = {
    checks.startOp(name)
    val t0 = System.nanoTime()
    val b = tracer match {
      case Some(t) if t.active => t.op(spark, name, call, force)
      case _ => force(call)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    opSeconds += dt
    if (latency) latenciesMs += dt * 1e3
    b
  }

  /** Run a block of checks (and the Spark jobs they need) on checked
    * passes only; warm-up passes skip them.
    */
  def check(body: => Unit): Unit = if (checks.on) body

  /** Force a DataFrame: compute it once and keep the rows as a pin, so
    * the next op and the checks read the result instead of recomputing it.
    */
  def pin(df: DataFrame): DataFrame = Pins.pin(df)
}

/** One input set with its op sequence: registers the inputs, then runs
  * and checks one pass of the ops. A benchmark workload runs one or more.
  */
trait Workload {
  /** The public ops a pass calls, in call order. */
  def ops: Seq[String]
  def load(spark: SparkSession): Unit
  def pass(c: Ctx): Unit
}

/** Measured JVM of the benchmark. Launched by run.py:
  *
  *   perfbench.Main --workload W --data DIR --seconds S --trace 0|1
  *                  --cores N --run-id ID --out FILE
  *
  * Set-up (a fresh GraftSession and the input load through Tables) is
  * repeated [[SetupRounds]] times and `setup_s` is the median. The first
  * round, at JVM start, also loads Spark's classes; the others run after
  * the timed passes, in a warm JVM, where a re-setup right after the first
  * one still ran up to twice as slow on a busy host. So `setup_s` is in
  * effect the slower of the warm re-setups; the cold path from JVM start
  * to the first timed pass is a per-layer metric. Untimed, unchecked warm-up follows (see
  * [[WarmupThreads]]), then timed, checked passes for about S seconds,
  * each after a drain. Untraced, it reports the end-to-end metrics;
  * traced, it alternates untraced and traced passes and reports the
  * per-layer metrics. The last stdout line is the result JSON; FILE
  * receives the full record (every pass, spans, layer self times).
  */
object Main {
  val Ops: Seq[String] = FeaturePipeline.Ops ++ VectorIndex.Ops ++ CorpusCuration.Ops
  /** Set-ups per run; the median of several is steadier than one. */
  val SetupRounds = 3
  /** JIT and codegen warm-up before timing. A pass is mostly driver work
    * (planning, codegen, job scheduling) on small inputs, and the JIT keeps
    * speeding it up for many passes: run one after another, the 3rd pass
    * of a JVM took 25-50% longer than the 8th, so timed passes fell at a
    * different point of that curve in every run. Warm-up is therefore one
    * cold pass, then [[WarmupThreads]] passes at once on their own
    * threads: a pass leaves cores idle, so together they take little more
    * time than one and warm the JIT about as much as that many in a row.
    * More threads would warm it further, but each run has to fit the
    * benchmark's time budget.
    */
  val WarmupThreads = 2
  /** Timed passes at least. Traced runs alternate untraced and traced
    * passes and take at least three, so the untraced ones come before and
    * after a traced one and the JIT's last gains do not read as tracing
    * overhead.
    */
  val MinTimedPasses = 2
  val MinTracedRunPasses = 3
  val Kinds: Seq[String] = Seq("wall_s", "call_s", "jobs", "task_run_s", "shuffle_write_mb", "gc_s")
  val Counts: Seq[(String, String)] = Seq(
    "Quantization.pcaWhitening" -> "rows_generated",
    "Quantization.probeIvfPq" -> "rows_scored",
    "Dedup.minhashLshNative" -> "candidate_pairs")
  val Busy: Seq[String] = Seq("Quantization.pcaWhitening", "Similarity.knnBruteForce")
  val Quality: Seq[String] = Seq(
    "Quantization.probeIvfPq.recall_at_10", "Dedup.connectedComponents.dup_recall")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))

  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Drop everything a pass left behind: cached tables, pins and
    * persisted RDDs, then collect garbage so the next pass starts clean.
    */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(100)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val dir = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val parts: Seq[Workload] = opt("workload") match {
      case "feature_and_corpus" =>
        Seq(new FeaturePipeline(s"$dir/feature_pipeline"), new CorpusCuration(s"$dir/corpus_curation"))
      case "vector_index" => Seq(new VectorIndex(s"$dir/vector_index"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val workload = new Workload {
      val ops: Seq[String] = parts.flatMap(_.ops)
      def load(spark: SparkSession): Unit = parts.foreach(_.load(spark))
      def pass(c: Ctx): Unit = parts.foreach(_.pass(c))
    }
    val checks = new Checks(workload.ops)
    val quality = mutable.Map[String, Double]()
    val tracer = if (traced) Some(new Tracer) else None
    var spark: SparkSession = null

    val startS, loadS, setupS, warmupS = mutable.ArrayBuffer[Double]()
    val passS, tracedPassS, passWallS, heldMb, latencies = mutable.ArrayBuffer[Double]()

    /** One pass: drain, then the workload's ops. Returns the seconds spent
      * in ops, or None if an op threw.
      */
    def runPass(n: Int, traceIt: Boolean): Option[Double] = {
      drain(spark)
      heldMb += heapMb()
      val c = new Ctx(spark, tracer, checks, quality)
      val t0 = System.nanoTime()
      if (traceIt) tracer.get.startPass(spark, n)
      val ok = try { workload.pass(c); true } catch {
        case NonFatal(e) => checks.threw(s"pass $n", e); false
      } finally if (traceIt) tracer.get.endPass(spark, t0)
      checks.endPass()
      passWallS += (System.nanoTime() - t0) / 1e9
      // Traced passes time the tracer's bus drains too: no latency samples.
      if (n >= 0 && !traceIt) latencies ++= c.latenciesMs
      if (ok) Some(c.opSeconds) else None
    }

    /** One set-up round: stop the previous session, start a fresh one and
      * load the inputs.
      */
    def setUp(): Unit = {
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = GraftSession.local(cores, cores)
      spark.sparkContext.setLogLevel("WARN")
      // drain() unpersists pins on purpose; Spark warns once per RDD.
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
      val s1 = System.nanoTime()
      workload.load(spark)
      val s2 = System.nanoTime()
      tracer.foreach { t => t.record("GraftSession.start", s0, s1); t.record("Tables.load", s1, s2) }
      startS += (s1 - s0) / 1e9
      loadS += (s2 - s1) / 1e9
      setupS += (s2 - s0) / 1e9
    }

    setUp()
    warmupS ++= runPass(-1, traceIt = false)
    drain(spark)
    val w0 = System.nanoTime()
    val threw = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to WarmupThreads).map { _ =>
      new Thread(() => {
        val c = new Ctx(spark, None, new Checks(workload.ops), mutable.Map[String, Double]())
        try workload.pass(c) catch { case NonFatal(e) => threw.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    warmupS += (System.nanoTime() - w0) / 1e9
    threw.forEach(e => checks.threw("warm-up pass", e))
    val firstTimedS = (System.nanoTime() - jvmStartNs) / 1e9
    checks.on = true

    // At least minPasses; a further pass only if it should end by the
    // deadline, going by the last one. A pass that starts just before the
    // deadline would make the pass count, and with it the median, hinge
    // on how fast the host happened to be.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    val minPasses = if (traced) MinTracedRunPasses else MinTimedPasses
    while (n < minPasses || System.nanoTime() + (passWallS.last * 1e9).toLong < deadline) {
      val traceIt = traced && n % 2 == 1
      runPass(n, traceIt).foreach(s => (if (traceIt) tracedPassS else passS) += s)
      n += 1
    }
    // Held heap: after the drain, wait for Spark's listener queue and give
    // its cleaner time to drop what the first GC released, so a slow host
    // does not read higher only because those queues lag.
    drain(spark)
    SpanListener.awaitBus(spark.sparkContext)
    Thread.sleep(200)
    System.gc()
    val held = heapMb()
    // The other set-up rounds run in the warm JVM, after the timed passes
    // so that those do not start on a fresh session.
    for (_ <- 1 until SetupRounds) setUp()
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupS.toSeq), "s"),
        ("run_s", median(passS.toSeq), "s"),
        ("correct_ratio", (checks.units - checks.failedUnits).toDouble / checks.units.max(1), "ratio"),
        ("held_heap_mb", held, "MB"))
      else {
        val t = tracer.get
        val passes = t.opTotals.keys.map(_._1).toSeq.distinct
        def med(op: String, kind: String): Double =
          median(passes.map(p => t.opTotals.get((p, op)).map(_(kind)).getOrElse(0.0)))
        Ops.flatMap(op => Kinds.map(k => (s"$op.$k", med(op, k), Units(k)))) ++
          Busy.map { op =>
            val wall = med(op, "wall_s")
            (s"$op.busy_ratio", if (wall > 0) med(op, "task_run_s") / (wall * cores) else 0.0, "ratio")
          } ++
          Counts.map { case (op, k) => (s"$op.$k", med(op, k), "count") } ++
          Quality.map(q => (q, quality.getOrElse(q, 0.0), "ratio")) ++
          Seq(
            ("Quantization.probeIvfPq.query_p50_ms", percentile(latencies.toSeq, 0.5), "ms"),
            ("Quantization.probeIvfPq.query_p90_ms", percentile(latencies.toSeq, 0.9), "ms"),
            ("GraftSession.start_s", median(startS.toSeq), "s"),
            ("Tables.load_s", median(loadS.toSeq), "s"),
            ("setup.jvm_start_to_first_timed_pass_s", firstTimedS, "s"),
            ("trace.overhead_s", median(tracedPassS.toSeq) - median(passS.toSeq), "s"))
      }

    def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
    def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val metricJson = metrics.map { case (k, v, u) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString("{", ",", "}")
    val result = s"{\"correct\":${checks.failedUnits == 0 && !checks.anyThrew}," +
      s"\"attempted\":${checks.units},\"failed\":${checks.failedUnits},\"metrics\":$metricJson}"

    val spanJson = tracer.toSeq.flatMap(_.spans).map { s =>
      s"{\"id\":${s.id},\"parent\":${s.parent},\"pass\":${s.pass},\"name\":${str(s.name)}," +
        s"\"start_ns\":${s.startNs},\"end_ns\":${s.endNs}}" }.mkString("[", ",", "]")
    val selfJson = tracer.map(_.layerSelfSeconds.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")).getOrElse("{}")
    val record = Seq(
      "run_id" -> str(opt("run-id")), "workload" -> str(opt("workload")),
      "traced" -> traced.toString, "local_cores" -> cores.toString,
      "checks_attempted" -> checks.attempted.toString, "checks_failed" -> checks.failed.toString,
      "op_units" -> checks.units.toString, "op_units_failed" -> checks.failedUnits.toString,
      "op_threw" -> checks.anyThrew.toString,
      "setup_rounds_s" -> arr(setupS), "session_start_s" -> arr(startS),
      "load_s" -> arr(loadS), "warmup_s" -> arr(warmupS),
      "jvm_start_to_first_timed_pass_s" -> num(firstTimedS),
      "pass_s" -> arr(passS), "traced_pass_s" -> arr(tracedPassS),
      "pass_wall_with_checks_s" -> arr(passWallS),
      "held_heap_mb_before_pass" -> arr(heldMb), "held_heap_mb_end" -> num(held),
      "latency_ms" -> arr(latencies), "layer_self_s" -> selfJson, "spans" -> spanJson,
      "result" -> result,
    ).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    Files.write(Paths.get(opt("out")), record.getBytes("UTF-8"))
    println(result)
    // An op that threw leaves a pass out of run_s: fail the run instead.
    if (checks.anyThrew) sys.exit(1)
  }

  private val Units: Map[String, String] = Map(
    "wall_s" -> "s", "call_s" -> "s", "jobs" -> "count", "task_run_s" -> "s",
    "shuffle_write_mb" -> "MB", "gc_s" -> "s")
}
