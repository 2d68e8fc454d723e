package graft
package surface

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The helpers more than one query family uses. */
private[surface] object Common {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def decSum6D(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** The exact mean graft.plans.VectorMean takes per position, in SQL:
    * the decimal(38,12) sum of `round(x, 12)` over the count of its terms.
    */
  def exactMeanSql(x: String): String = {
    val t = s"CAST(round($x, 12) AS DECIMAL(38,12))"
    s"CAST(sum($t) AS DOUBLE) / count($t)"
  }

  /** WITH-clause body for the deterministic 3-iteration k=8 Lloyd
    * schedule (s0 seeds -> a1/c1 -> a2/c2 -> a3/c3) — shared by the
    * emb_kmeans oracle and the corpus-cluster-profile oracle, which
    * additionally assigns every vector against the final codebook.
    */
  lazy val kmeansCtes: String = {
    def assign(cent: String, name: String) = kmeansAssignCte(cent, name)
    def mstep(assignName: String, name: String) = kmeansMstepCte(assignName, name)
    s"""s0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               list_transform(embedding, x -> x::DOUBLE) AS centroid
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
      ${assign("s0", "a1")}, ${mstep("a1", "c1")},
      ${assign("c1", "a2")}, ${mstep("a2", "c2")},
      ${assign("c2", "a3")}, ${mstep("a3", "c3")}"""
  }

  def kmeansAssignCte(cent: String, name: String): String = s"""
      $name AS (
        SELECT vec_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM (
            SELECT vec_id, centroid_id,
                   sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
            FROM (
              SELECT e.vec_id, c.centroid_id,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
              FROM embeddings e CROSS JOIN $cent c)
            GROUP BY vec_id, centroid_id))
        WHERE rn = 1)"""

  def kmeansMstepCte(assignName: String, name: String): String = s"""
      $name AS (
        SELECT cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.cell, u.pos, ${exactMeanSql("u.x")} AS c
          FROM (
            SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u
          JOIN $assignName a ON u.vec_id = a.vec_id
          GROUP BY a.cell, u.pos)
        GROUP BY cell)"""

  /** Ordered squared-L2 fold over `n` list positions — matches Spark's
    * sequential double accumulation exactly.
    */
  def sqlL2(a: String, b: String, n: Int) =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** The minhash WITH-chain body (toks -> sh -> sig -> banded),
    * shared by the pair query and the canonicalize pipeline.
    */
  val minhashChainCtes: String = {
    val bands = 4
    val rpb = 4
    val sigCols = (0 until bands * rpb / 2)
      .flatMap(g => Seq(
        s"min(substr(md5('$g:' || sh), 1, 16)) AS h${2 * g}",
        s"min(substr(md5('$g:' || sh), 17, 16)) AS h${2 * g + 1}"))
      .mkString(",\n               ")
    val bandRows = (0 until bands).map { b =>
      val parts = (b * rpb until (b + 1) * rpb).map(i => s"h$i").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bh FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
          FROM toks)),
      sig AS (
        SELECT doc_id, $sigCols
        FROM sh GROUP BY doc_id),
      banded AS (
        $bandRows)"""
  }

  /** Final-codebook assignment CTE that KEEPS the winning similarity
    * (the rank key for SemDeDup's centroid-rank and SSP's hardness
    * rank) — shared by the dedup_semantic and emb_ssp_prune oracles.
    */
  lazy val kmeansAssignSimCte: String = """
      a4s AS (
        SELECT vec_id, centroid_id AS cell, sim FROM (
          SELECT vec_id, centroid_id, sim,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM (
            SELECT vec_id, centroid_id,
                   sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
            FROM (
              SELECT e.vec_id, c.centroid_id,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
              FROM embeddings e CROSS JOIN c3 c)
            GROUP BY vec_id, centroid_id))
        WHERE rn = 1)"""
}
