package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one record per name, the surface's size, and the
  * two oracles fitted from the data built from an explicit session and
  * sf dir.
  */
class QueryRegistrySpec extends AnyFunSuite {
  test("every name is declared once across the family lists") {
    val dups = SparkEntry.declared.groupBy(_._1).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, dups)
    assert(SparkEntry.queries.size === SparkEntry.declared.size)
  }

  test("the surface holds 255 queries") {
    assert(SparkEntry.queries.size === 255)
  }

  test("the fitted oracles build from an explicit session and sf dir") {
    val spark = GraftTestSession.spark
    def oracle(name: String): String =
      SparkEntry.queries(name).oracle(spark, GraftTestSession.Sf0001)
    val pca = oracle("emb_pca_whiten")
    assert(pca.nonEmpty)
    // the PCA fit is order-exact, so a second fit gives the same literals
    assert(oracle("emb_pca_whiten") === pca)
    assert(oracle("emb_opq_knn").nonEmpty)
  }
}
