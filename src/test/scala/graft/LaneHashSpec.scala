package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import org.scalatest.funsuite.AnyFunSuite

/** Gate for the native overlap-signature lanes (graft.plans.LaneHashes):
  * the flipped-long lanes must order AND equality-compare exactly like
  * the declarative min(substring(md5("g:" || sh), ..)) hex lanes they
  * replaced in Dedup.corpusOverlap — the query's lane_matches output
  * depends on the two encodings never diverging.
  */
class LaneHashSpec extends AnyFunSuite {
  private val spark = GraftTestSession.spark
  import spark.implicits._

  private val lanes = 16

  test("per-shingle lanes are the flipped hex halves of the declarative md5") {
    val rnd = new scala.util.Random(7)
    val shingles = Seq("", "a", "a b c", "ümlaut sh", "日本 語 x") ++
      (1 to 2000).map(_ => (1 to 3).map(_ => rnd.alphanumeric.take(5).mkString).mkString(" "))
    val df = shingles.toDF("sh")
    val declCols = (0 until lanes / 2).flatMap { g =>
      val h = md5(concat(lit(s"$g:"), col("sh")))
      Seq(substring(h, 1, 16).as(s"d${2 * g}"), substring(h, 17, 16).as(s"d${2 * g + 1}"))
    }
    val native = TextFunctions.laneHashes(col("sh"), lanes)
    // flip the native long back and render as 16-char hex: must equal
    // the declarative substring lane
    val checks = (0 until lanes).map { i =>
      lower(lpad(hex(element_at(col("lh"), i + 1).bitwiseXOR(lit(Long.MinValue))), 16, "0")) === lower(col(s"d$i"))
    }
    val bad = df.select((declCols :+ native.as("lh")): _*)
      .where(!checks.reduce(_ && _)).count()
    assert(bad === 0L)
  }

  test("signed min over flipped lanes picks the same shingle as string min over hex") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 500)
      .map(i => (i % 7, (1 to 3).map(_ => rnd.alphanumeric.take(4).mkString).mkString(" ")))
      .toDF("grp", "sh")
    val declMins = (0 until lanes / 2).flatMap { g =>
      val h = md5(concat(lit(s"$g:"), col("sh")))
      Seq(
        min(substring(h, 1, 16)).as(s"d${2 * g}"),
        min(substring(h, 17, 16)).as(s"d${2 * g + 1}"))
    }
    val nativeMins = (0 until lanes).map(i =>
      min(element_at(col("lh"), i + 1)).as(s"h$i"))
    val a = df.groupBy(col("grp")).agg(declMins.head, declMins.tail: _*)
    val b = df
      .select(col("grp"), TextFunctions.laneHashes(col("sh"), lanes).as("lh"))
      .groupBy(col("grp")).agg(nativeMins.head, nativeMins.tail: _*)
    val joined = a.join(b, "grp")
    val checks = (0 until lanes).map(i =>
      lower(lpad(hex(col(s"h$i").bitwiseXOR(lit(Long.MinValue))), 16, "0")) === lower(col(s"d$i")))
    assert(joined.where(!checks.reduce(_ && _)).count() === 0L)
  }

  test("hex lanes compare lexicographically as unsigned longs (order flip sanity)") {
    // the equivalence the rewrite rests on: fixed-width lowercase hex
    // string order == unsigned numeric order == signed order after
    // XOR Long.MinValue
    val rnd = new scala.util.Random(13)
    val vs = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue) ++
      (1 to 1000).map(_ => rnd.nextLong())
    def hex16(v: Long) = f"$v%016x"
    for (a <- vs.take(50); b <- vs.take(50)) {
      val byHex = hex16(a).compareTo(hex16(b)).sign
      val byFlip = java.lang.Long.compare(a ^ Long.MinValue, b ^ Long.MinValue).sign
      assert(byHex === byFlip, s"order mismatch at ($a, $b)")
    }
  }
}
