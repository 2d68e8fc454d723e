package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, FeatureStore, Graph, Pins}

/** Durable-pin contract: with `graft.pins.durable=true` (+ a checkpoint
  * dir) every lineage pin in the engine switches from executor-resident
  * localCheckpoint to a reliable checkpoint — and results are
  * IDENTICAL, because a pin only cuts lineage, never changes rows.
  */
class PinsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Durable pins for `body`, then the conf value and checkpoint dir
    * found before it: a suite-wide durable run stays durable after it.
    */
  private def withDurable[A](body: => A): A =
    TempDirs.withCheckpointDir(spark.sparkContext, "graft-ckpt") {
      val previous = spark.conf.getOption(Pins.ConfKey)
      spark.conf.set(Pins.ConfKey, "true")
      try body
      finally previous match {
        case Some(v) => spark.conf.set(Pins.ConfKey, v)
        case None => spark.conf.unset(Pins.ConfKey)
      }
    }

  test("durable=true without a checkpoint dir fails fast with the contract message") {
    val sc = spark.sparkContext
    // a fresh context has no dir unless another test set one; simulate
    // the unset state via a throwaway session check only when unset
    if (sc.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        Pins.pin(Seq(1).toDF("x"), durable = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    } else succeed
  }

  test("iterative operators produce identical results under durable pins") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
      (3L, 4L), (6L, 1L), (7L, 6L), (2L, 7L)).toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("id", "label")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val nodes = (1L to 7L).toDF("id")
    val mat = Seq(
      ("u1", 3L, 10L), ("u2", 1L, 20L), ("u3", 2L, 5L),
      ("u4", 9L, 1L), ("u5", 4L, 7L)).toDF("entity", "v", "value")

    def runAll(): Seq[Set[String]] = Seq(
      rows(Graph.pageRank(edges, 85, 3)),
      rows(Graph.labelPropagation(edges, seeds, 3)),
      rows(Graph.kcorePeel(edges, 2, 3)),
      rows(Dedup.connectedComponents(pairs, nodes, "id")),
      rows(FeatureStore.globalRowNumbers(mat, Seq("entity"))),
      rows(FeatureStore.globalRunningSum(mat, Seq("entity"), "value")))

    val local = runAll()
    val durable = withDurable(runAll())
    local.zip(durable).zipWithIndex.foreach { case ((l, d), i) =>
      assert(l == d, s"operator $i differs between local and durable pins")
    }
  }

  test("metrics observed on a pin equal a separate aggregate, local and durable") {
    // A shuffle below the pin: the observation rides on the post-exchange
    // stage, and a reliable checkpoint must not count its rows twice.
    val df = spark.range(0, 5000).select((col("id") % 997).as("u"), (col("id") % 13).as("v"))
      .distinct()
    val metrics = Seq(
      count(lit(1)).as("n"),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("h"))
    def observedAndAggregated(): (Map[String, Any], Map[String, Any]) = {
      val (pinned, observed) = Pins.pinObserved(df, durable = false, metrics.head, metrics.tail: _*)
      val r = pinned.agg(metrics.head, metrics.tail: _*).head()
      (observed, Map("n" -> r.get(0), "h" -> r.get(1)))
    }
    val (localObs, localAgg) = observedAndAggregated()
    assert(localObs == localAgg)
    val (durableObs, durableAgg) = withDurable(observedAndAggregated())
    assert(durableObs == durableAgg)
    assert(durableObs == localObs)
  }

  test("conf flips the shared helper to reliable checkpoints (RDD is checkpointed)") {
    withDurable {
      val pinned = Pins.pin(Seq((1, "a"), (2, "b")).toDF("k", "v"))
      // reliable checkpoint — the backing RDD reports as checkpointed
      // (localCheckpoint also reports true; the distinguishing bit is
      // that the data now lives under the checkpoint dir)
      val dir = spark.sparkContext.getCheckpointDir.get
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(pinned.count() == 2)
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).nonEmpty,
        "durable pin must write under the checkpoint dir")
    }
  }
}
