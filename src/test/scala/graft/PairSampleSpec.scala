package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import org.scalatest.funsuite.AnyFunSuite

/** Gate for the native pair-sample kernel (graft.plans.PairSampleMatch):
  * bit-identical to the declarative md5/conv predicate it replaced in
  * DedupQueries.pairSample — the sampled dedup queries' oracle depends on
  * the two forms never diverging.
  */
class PairSampleSpec extends AnyFunSuite {
  private val spark = GraftTestSession.spark
  import spark.implicits._

  private def declarative = conv(
    substring(
      md5(concat(col("a").cast("string"), lit(":"), col("b").cast("string"))),
      1, 4),
    16, 10).cast("int") % 256 === 0

  test("native kernel equals the declarative md5/conv predicate") {
    val rnd = new scala.util.Random(42)
    val pairs =
      Seq((0L, 0L), (1L, 2L), (-1L, -2L), (Long.MaxValue, Long.MinValue),
        (Long.MinValue, Long.MinValue), (-9L, 10L)) ++
        (1 to 20000).map(_ => (rnd.nextLong(), rnd.nextLong()))
    val df = pairs.toDF("a", "b")
    val native = TextFunctions.pairSampleMatch(col("a"), col("b"))
    val diff = df.where(declarative =!= native).count()
    assert(diff === 0L)
    // and the sample is non-degenerate: some rows pass, most don't
    val kept = df.where(native).count()
    assert(kept > 0L && kept < pairs.size / 50)
  }

  test("null inputs drop the row, matching the declarative filter") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (null, 1L), (1L, null), (null, null), (3L, 4L)).toDF("a", "b")
    val native = TextFunctions.pairSampleMatch(col("a"), col("b"))
    assert(df.where(native).count() === df.where(declarative).count())
  }

  test("jvm kernel matches on scalacheck-style edge longs") {
    // direct JVM-level check of the digit rendering against Long.toString
    val md = java.security.MessageDigest.getInstance("MD5")
    def expected(a: Long, b: Long): Boolean = {
      md.reset()
      md.update(s"$a:$b".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      md.digest()(1) == 0
    }
    val edges = Seq(Long.MinValue, Long.MinValue + 1, -10L, -9L, -1L, 0L, 1L,
      9L, 10L, 99L, 100L, Long.MaxValue - 1, Long.MaxValue)
    for (a <- edges; b <- edges)
      assert(graft.plans.PairSampleMatch.matches(a, b) === expected(a, b),
        s"mismatch at ($a, $b)")
  }
}
