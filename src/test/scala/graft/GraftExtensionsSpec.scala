package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("a session built with GraftExtensions resolves the native functions in SQL") {
    // The spark.sql.extensions STATIC conf is only read when the
    // SparkContext is created, and tests share one context — so drive
    // the same GraftExtensions.apply through the public withExtensions
    // builder hook (the config path differs only in loading the class
    // by name, which needs just the zero-arg constructor this class
    // has). Clear the default session first: getOrCreate would
    // otherwise return it and skip injection.
    val shared = GraftTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val row = s2.sql(
        """SELECT
          |  graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
          |  graft_l2sq(array(0.0D, 3.0D), array(4.0D, 3.0D)) AS d,
          |  graft_adc(array(array(1.0D, 2.0D)), array(1)) AS a,
          |  graft_simhash64(array('hello', 'world')) IS NOT NULL AS s
          |""".stripMargin).collect().head
      assert(row.getDouble(0) == 1.0)
      assert(row.getDouble(1) == 16.0)
      assert(row.getDouble(2) == 2.0)
      assert(row.getBoolean(3))
      // the rest of the 13 names: scalar kernels, then the two
      // aggregates over a VALUES table (int id / float score coerce)
      val more = s2.sql(
        """SELECT
          |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
          |  graft_sorted_inter(array(1, 3, 5), array(3, 5, 7)) AS inter,
          |  graft_pair_sample(0L, 0L) IN (true, false) AS sample,
          |  size(graft_lane_hashes('a b c', 4)) AS lanes,
          |  size(graft_minhash_bands(array('a b c', 'b c d'), 2, 2)) AS bands,
          |  size(graft_rp(array(1.0D, 2.0D), 2, 3, 'rp')) AS rp,
          |  graft_matapply(array(1.0D, 2.0D), array(array(0.0D, 1.0D), array(1.0D, 0.0D))) AS rot
          |""".stripMargin).collect().head
      assert(more.getDouble(0) == 11.0)
      assert(more.getInt(1) == 2)
      assert(more.getBoolean(2))
      assert(more.getInt(3) == 4)
      assert(more.getInt(4) == 2)
      assert(more.getInt(5) == 3)
      assert(more.getSeq[Double](6) == Seq(2.0, 1.0))
      val agg = s2.sql(
        """SELECT
          |  graft_topk(score, id, 2) AS top,
          |  graft_kmv(id, 2) AS kmv
          |FROM VALUES (1, CAST(0.5 AS FLOAT)), (2, CAST(0.9 AS FLOAT)), (3, CAST(0.7 AS FLOAT))
          |  AS t(id, score)
          |""".stripMargin).collect().head
      assert(agg.getSeq[org.apache.spark.sql.Row](0).map(_.getAs[Long]("id")) == Seq(2L, 3L))
      assert(agg.getSeq[Long](1) == Seq(1L, 2L))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
