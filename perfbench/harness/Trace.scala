package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span. Spans nest pass → op → call/force; `parent` is the
  * enclosing span's id (-1 for a pass) and every span of a run shares
  * the run id the record is written under.
  */
final case class Span(id: Int, parent: Int, pass: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counts accrued by one op span. */
final class OpCounts {
  var jobs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var rowsGenerated = 0L
  var rowsScored = 0L
  var candidatePairs = 0L
}

/** Spark-side counters. Jobs, and the tasks of their stages, go to the
  * op span whose id the job carried in the `perfbench.span` local
  * property. SQL metrics come from the executed plans through the
  * QueryExecutionListener, which is not told the execution's properties;
  * they go to the span open when they are delivered. The tracer drains
  * the listener bus at both ends of every span, so that is the span
  * whose action ran the plan.
  */
final class SpanListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val counts = mutable.Map[Int, OpCounts]()
  private val stageSpan = mutable.Map[Int, Int]()
  @volatile var openSpan: Option[Int] = None

  private def of(span: Int): OpCounts = counts.getOrElseUpdate(span, new OpCounts)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    Option(j.properties).flatMap(p => Option(p.getProperty(SpanListener.Key))).foreach { s =>
      val span = s.toInt
      of(span).jobs += 1
      j.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(t.stageId); m <- Option(t.taskMetrics)) {
      val c = of(span)
      c.taskRunMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      openSpan.foreach { span =>
        val c = of(span)
        collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }.foreach { p =>
          def rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          lazy val names = p.output.map(_.name).toSet
          p match {
            case _: GenerateExec => c.rowsGenerated += rows
            case _: BaseJoinExec if names("codes") && names("tables") => c.rowsScored += rows
            case _: BaseJoinExec if names("band_hash") && names("a") && names("b") =>
              c.candidatePairs += rows
            case _ =>
          }
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SpanListener {
  val Key = "perfbench.span"

  /** Block until every posted listener event has been delivered, so a
    * span's counts are complete when it closes. The bus is internal to
    * Spark; reflection keeps this harness on public packages.
    */
  def awaitBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Per-run tracing state. Untraced passes record nothing but their wall
  * time; traced passes attach [[SpanListener]], record spans in memory
  * and read the listener's counts as each op span closes.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  /** (pass, op) → per-kind totals for that op within that pass. */
  val opTotals = mutable.LinkedHashMap[(Int, String), mutable.Map[String, Double]]()
  private var listener: SpanListener = _
  private var nextId = 0
  private var passSpan = -1
  private var pass = -1
  def active: Boolean = listener != null

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def newId(): Int = { nextId += 1; nextId }

  def startPass(spark: SparkSession, n: Int): Unit = {
    listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    pass = n
    passSpan = newId()
  }

  def endPass(spark: SparkSession, startNs: Long): Unit = {
    spans += Span(passSpan, -1, pass, "pass", startNs, System.nanoTime())
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    listener = null
  }

  /** Record a span outside any pass (session start, input load). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    spans += Span(newId(), -1, pass, name, startNs, endNs)

  /** Run one public call and force its result inside an op span. */
  def op[A, B](spark: SparkSession, name: String, call: => A, force: A => B): B = {
    val sc = spark.sparkContext
    val id = newId()
    val gc0 = gcMs
    SpanListener.awaitBus(sc)
    listener.openSpan = Some(id)
    sc.setLocalProperty(SpanListener.Key, id.toString)
    val t0 = System.nanoTime()
    try {
      val a = call
      val t1 = System.nanoTime()
      val b = force(a)
      val t2 = System.nanoTime()
      SpanListener.awaitBus(sc)
      val c = listener.synchronized(listener.counts.getOrElse(id, new OpCounts))
      spans += Span(id, passSpan, pass, name, t0, t2)
      spans += Span(newId(), id, pass, "call", t0, t1)
      spans += Span(newId(), id, pass, "force", t1, t2)
      val tot = opTotals.getOrElseUpdate((pass, name), mutable.Map[String, Double]().withDefaultValue(0.0))
      def add(k: String, v: Double): Unit = tot(k) = tot(k) + v
      add("wall_s", (t2 - t0) / 1e9)
      add("call_s", (t1 - t0) / 1e9)
      add("jobs", c.jobs.toDouble)
      add("task_run_s", c.taskRunMs / 1e3)
      add("shuffle_write_mb", c.shuffleWriteBytes / 1048576.0)
      add("gc_s", (gcMs - gc0) / 1e3)
      add("rows_generated", c.rowsGenerated.toDouble)
      add("rows_scored", c.rowsScored.toDouble)
      add("candidate_pairs", c.candidatePairs.toDouble)
      b
    } finally {
      sc.setLocalProperty(SpanListener.Key, null)
      listener.openSpan = None
    }
  }

  /** Self time per layer over the run: each span's duration minus the
    * part its children cover, summed by layer. An op's call and force
    * spans belong to the op's module; a pass's own time (checks, not
    * drains) belongs to the harness.
    */
  def layerSelfSeconds: Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val childTime = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    def layer(s: Span): String = s.name match {
      case "pass" => "harness"
      case "call" | "force" => layer(byId(s.parent))
      case n => n.takeWhile(_ != '.')
    }
    spans.groupBy(layer).view
      .mapValues(_.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum).toMap
  }
}
