package graft.surface

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its Spark build and its DuckDB oracle, both over
  * the same session and sf dir. EVERY query carries an oracle:
  * iterative / hash-based ops are made SQL-checkable via portable md5
  * sketches (minhash, simhash, mm codec), full-probe brute-force-equality
  * invariants (IVF paths), or a fixed unrolled schedule (k-means). The
  * oracle is ANSI SQL that DuckDB runs on the same parquet tables; an
  * oracle that embeds values fitted from the data (emb_pca_whiten,
  * emb_opq_knn) fits them from the session and dir it is given.
  */
final case class Query(
    build: (SparkSession, String) => DataFrame,
    oracle: (SparkSession, String) => String)

object Query {

  /** A query whose oracle is the same SQL for every sf dir. */
  def apply(build: (SparkSession, String) => DataFrame, sql: => String): Query =
    new Query(build, (_: SparkSession, _: String) => sql)
}
