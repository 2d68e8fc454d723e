package graft

import org.scalatest.funsuite.AnyFunSuite

/** The timing tools' shared core: exact per-rep counts and a drain that
  * leaves no pinned state for the next rep to inherit.
  */
class BenchSpec extends AnyFunSuite {
  test("Bench.time counts every job of a rep, the same on back-to-back reps, and drain unpins all") {
    val spark = GraftTestSession.spark
    val reps = Seq.fill(2)(Bench.time(spark, "q1_agg", GraftTestSession.Sf0001))
    assert(reps.forall(_.ok))
    assert(reps.head.jobs >= 1 && reps.head.stages >= 1 && reps.head.tasks >= 1, reps)
    assert(reps.map(r => (r.jobs, r.stages, r.tasks)).distinct.size == 1, reps)

    spark.range(100).cache().count()
    spark.sparkContext.parallelize(1 to 10).localCheckpoint().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Bench.drain(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the entry tools' name check rejects only the unknown names, before any job runs") {
    val sc = GraftTestSession.spark.sparkContext
    val group = "requireKnown-unknown"
    sc.setJobGroup(group, group)
    val e =
      try intercept[IllegalArgumentException](SparkEntry.requireKnown(Seq("q1_agg", "no_such_query")))
      finally sc.clearJobGroup()
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
    assert(!e.getMessage.contains("q1_agg"), e.getMessage)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }
}
