package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The plan audit of the ENTIRE query inventory, walked once: the
  * ledger `graft.Explain` writes to PLANS.tsv is rebuilt here and must
  * equal the committed file, and its fields carry the static scale
  * guard. A new query (or a refactor of a shared helper) that plans an
  * unblocked cartesian product or an unpartitioned window would pass
  * value checks at test SFs and only explode at cluster scale, so both
  * fail here at plan time.
  *
  * BroadcastNestedLoopJoin is allowed: the brute-force kNN family
  * intentionally joins a broadcast query set under a non-equi predicate
  * (self-pair exclusion) — a broadcast × scan, not a shuffle blowup.
  */
class PlanLedgerSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  private lazy val ledger = {
    // a frame that an earlier suite left cached would plan as a cache
    // scan; pins (LogicalRDD leaves) are built per query, so they stay
    spark.catalog.clearCache()
    Explain.ledger(spark, GraftTestSession.Sf0001)
  }

  test("PLANS.tsv holds every query's current plan fingerprint") {
    val fresh = Explain.render(ledger)
    val committed = Files.readAllLines(Paths.get(Explain.LedgerFile)).asScala.toSeq
    def byName(lines: Seq[String]) = lines.map(l => l.takeWhile(_ != '\t') -> l).toMap
    val (was, now) = (byName(committed), byName(fresh))
    val diff = (was.keySet ++ now.keySet).toSeq.sorted.filter(n => was.get(n) != now.get(n))
      .flatMap(n => Seq(s"- ${was.getOrElse(n, s"$n (no ledger line)")}",
        s"+ ${now.getOrElse(n, s"$n (not a registered query)")}"))
    // fail, not assert: the message is the changed lines, not both files
    if (committed != fresh)
      fail(s"${Explain.LedgerFile} is stale (or unsorted):\n${diff.mkString("\n")}\n" +
        s"regenerate: sbt \"runMain graft.Explain ${GraftTestSession.Sf0001}\"")
  }

  test("no query plans a CartesianProduct, an unpartitioned Window, or a UDF") {
    // UDFs break whole-stage codegen (ScalaUDF) or worse, cross the
    // Python boundary per row — the inventory must stay native
    val offenders = ledger.flatMap { case (name, fp) =>
      Seq("CartesianProduct" -> fp.cartesian, "unpartitioned Window" -> fp.windowGlobal,
        "ScalaUDF" -> fp.scalaUdf).collect { case (what, n) if n > 0 => s"$name: $n $what" }
    }
    assert(offenders.isEmpty, s"scale-unsafe plans:\n${offenders.mkString("\n")}")
  }

  test("the fingerprint sees through a persisted frame") {
    // a persisted subtree plans as one InMemoryTableScan leaf; the
    // guard above must still count a cartesian product planned inside
    val cross = spark.range(4).hint("shuffle_replicate_nl")
      .crossJoin(spark.range(4).toDF("j")).persist()
    try assert(Explain.fingerprint(cross.where("id < j")).cartesian == 1)
    finally cross.unpersist(blocking = true)
  }
}
