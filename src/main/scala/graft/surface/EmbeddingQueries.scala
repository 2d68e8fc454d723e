package graft
package surface

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators._
import graft.sources.Lakehouse

import Common._

/** Embedding / vector: each query's Spark build beside its DuckDB oracle. */
object EmbeddingQueries {

  /** Shared CTE text: the directed 3-NN cosine graph over embeddings —
    * used by the PageRank, label-propagation and triangle oracles.
    */
  private val knnGraphCtes: String = """escored AS MATERIALIZED (
        SELECT qid AS src, nvid AS dst,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id)
        GROUP BY qid, nvid),
      edges AS MATERIALIZED (
        SELECT src, dst FROM (
          SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rank
          FROM escored) WHERE rank <= 3)"""

  /** Triangles + local clustering coefficient over the undirected view
    * of the 3-NN graph: canonical a<b pairs, each triangle counted once
    * via the a<b<c join; lcc emitted as the raw IEEE division of two
    * exact integers (never round a ratio for cross-engine output).
    */
  private lazy val triangleOracleSql: String = s"""
      WITH $knnGraphCtes,
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
      deg AS (
        SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und)
        GROUP BY id),
      tri AS (
        SELECT x.a, x.b, y.b AS c
        FROM und x
        JOIN und y ON y.a = x.b
        JOIN und z ON z.a = x.a AND z.b = y.b),
      pern AS (
        SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
          SELECT a AS id FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY id)
      SELECT deg.id AS node_id, deg.degree,
             coalesce(pern.n_tri, 0) AS n_tri,
             CASE WHEN deg.degree >= 2
                  THEN CAST(2 * coalesce(pern.n_tri, 0) AS DOUBLE)
                       / (deg.degree * (deg.degree - 1))
                  ELSE 0.0 END AS lcc
      FROM deg LEFT JOIN pern ON pern.id = deg.id"""

  /** Distance-2 link prediction over the undirected 3-NN graph:
    * wedge-join candidates, common-neighbor counts, integer-micro
    * Jaccard, existing edges anti-joined away.
    */
  private lazy val linkPredictOracleSql: String = s"""
      WITH $knnGraphCtes,
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
      adj AS (
        SELECT a AS id, b AS nb FROM und
        UNION ALL SELECT b, a FROM und),
      deg AS (
        SELECT id, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY id),
      cn AS (
        SELECT x.nb AS a, y.nb AS b, CAST(count(*) AS BIGINT) AS common
        FROM adj x JOIN adj y ON y.id = x.id AND x.nb < y.nb
        GROUP BY x.nb, y.nb),
      cand AS (
        SELECT cn.a, cn.b, cn.common
        FROM cn LEFT JOIN und ON und.a = cn.a AND und.b = cn.b
        WHERE und.a IS NULL AND cn.common >= 2)
      SELECT c.a, c.b, c.common,
             CAST(c.common * 1000000 // (da.degree + db.degree - c.common) AS BIGINT)
               AS jaccard_micro
      FROM cand c
      JOIN deg da ON da.id = c.a
      JOIN deg db ON db.id = c.b"""

  /** 3 unrolled peeling rounds at k=3 over the same undirected graph:
    * each round recomputes degrees inside the survivor-induced
    * subgraph and drops nodes under k.
    */
  private lazy val kcoreOracleSql: String = s"""
      WITH $knnGraphCtes,
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
      d1 AS (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
      s1 AS (SELECT id FROM d1 WHERE deg >= 3),
      e2 AS (
        SELECT und.a, und.b FROM und
        JOIN s1 x ON x.id = und.a JOIN s1 y ON y.id = und.b),
      d2 AS (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY id),
      s2 AS (SELECT id FROM d2 WHERE deg >= 3),
      e3 AS (
        SELECT e2.a, e2.b FROM e2
        JOIN s2 x ON x.id = e2.a JOIN s2 y ON y.id = e2.b),
      d3 AS (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY id)
      SELECT id AS node_id, deg AS core_degree FROM d3 WHERE deg >= 3"""

  /** The level CTE shared by the HNSW oracles: the SAME pure-integer
    * trailing-base-4-zeros rule as Graph.hnswLevels (md5 60-bit hash,
    * divisibility by 4^l). `src` parameterizes the vector source so
    * the deterministically SAMPLED twins (the sf10 gates) reuse the
    * identical rule over their capped subspace.
    */
  private def hnswLvCteFrom(src: String): String = s"""
      lv AS MATERIALIZED (
        SELECT vec_id,
               CASE WHEN h % 64 = 0 THEN 3
                    WHEN h % 16 = 0 THEN 2
                    WHEN h % 4 = 0 THEN 1
                    ELSE 0 END AS level
        FROM (
          SELECT vec_id,
                 ('0x' || substr(md5('hnsw:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM $src))"""

  /** All-pair cosine CTE shared by the HNSW oracles (ordered unnest
    * sums = the kernel's index-ordered double accumulation), over a
    * parameterized vector source.
    */
  private def hnswEsCteFrom(src: String): String = s"""
      es AS MATERIALIZED (
        SELECT qid, nvid,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM $src q JOIN $src n ON n.vec_id <> q.vec_id)
        GROUP BY qid, nvid)"""

  /** The deterministic sampled HNSW subspace: cap the corpus at ~2000
    * vectors by a count-derived modulus (the SAME `(n+1999) div 2000`
    * both engines compute), so the driver SFs run the FULL space
    * (modulus 1) and generated scale-ups (sf10's 200k vectors) gate the
    * identical 4-layer machinery on a bounded slice — the all-pairs
    * oracle stays tractable while the inputs are genuine sf10 rows.
    */
  private val hnswSampledSrc: String =
    "(SELECT * FROM embeddings WHERE vec_id % " +
      "(SELECT (count(*) + 1999) // 2000 FROM embeddings) = 0)"

  /** Unrolled SQL of the diverse-neighbor heuristic
    * (Graph.diverseNeighbors — Algorithm 4 of Malkov & Yashunin with
    * keepPrunedConnections: nearest-first over the top-`candK` pool,
    * keep c iff ∀ kept j: sim(c, j) <= sim(base, c), cap at `m`, then
    * backfill discarded candidates in rank order until `m`) for layer
    * `l`, emitting CTEs ending in `$name(src, dst)`. The sequential
    * keep decisions unroll into lateral-alias boolean flags
    * k1..k$candK; backfill unrolls into per-candidate discarded-rank
    * prefix counts d_j against the total kept count kt.
    */
  private def hnswKeptEdgesSql(l: Int, name: String, candK: Int, m: Int): String = {
    val wide = (1 to candK).map(j =>
      s"max(CASE WHEN r = $j THEN nvid END) AS i$j, " +
        s"max(CASE WHEN r = $j THEN sim END) AS s$j").mkString(",\n               ")
    val pairJoins = (for { t <- 1 until candK; j <- (t + 1) to candK } yield
      s"LEFT JOIN es p${t}_$j ON p${t}_$j.qid = w.i$t AND p${t}_$j.nvid = w.i$j")
      .mkString("\n        ")
    val pairCols = (for { t <- 1 until candK; j <- (t + 1) to candK } yield
      s"p${t}_$j.sim AS q${t}_$j").mkString(", ")
    val flags = (1 to candK).map { j =>
      val parts = scala.collection.mutable.Buffer[String](s"i$j IS NOT NULL")
      if (j > 1) {
        val cnt = (1 until j).map(t => s"CAST(k$t AS INT)").mkString(" + ")
        parts += s"($cnt) < $m"
        (1 until j).foreach(t => parts += s"(NOT k$t OR q${t}_$j <= s$j)")
      }
      s"(${parts.mkString(" AND ")}) AS k$j"
    }.mkString(",\n               ")
    // keepPrunedConnections backfill: kt = total kept; d_j = j's rank
    // among existing-but-discarded candidates; chosen c_j = kept OR
    // within the first (m - kt) discarded
    val keptTotal = (1 to candK).map(t => s"CAST(k$t AS INT)").mkString(" + ")
    val backfill = (1 to candK).map { j =>
      val dj = (1 to j)
        .map(t => s"CAST((i$t IS NOT NULL AND NOT k$t) AS INT)").mkString(" + ")
      s"(k$j OR (i$j IS NOT NULL AND NOT k$j AND ($dj) <= $m - ($keptTotal))) AS c$j"
    }.mkString(",\n               ")
    val arms = (1 to candK)
      .map(j => s"SELECT qid AS src, i$j AS dst FROM fl_$name WHERE c$j")
      .mkString("\n        UNION ALL ")
    s"""
      cn_$name AS MATERIALIZED (
        SELECT es.qid, es.nvid, es.sim,
               row_number() OVER (PARTITION BY es.qid ORDER BY es.sim DESC, es.nvid) AS r
        FROM es
        JOIN lv a ON a.vec_id = es.qid AND a.level >= $l
        JOIN lv b ON b.vec_id = es.nvid AND b.level >= $l
        QUALIFY r <= $candK),
      wd_$name AS MATERIALIZED (
        SELECT qid,
               $wide
        FROM cn_$name GROUP BY qid),
      fl_$name AS MATERIALIZED (
        SELECT w.*, $pairCols,
               $flags,
               $backfill
        FROM wd_$name w
        $pairJoins),
      $name AS MATERIALIZED (
        $arms)"""
  }

  /** Per-layer heuristic-pruned neighbor graph over the level-filtered
    * corpus — mirrors Graph.hnswBuild (diverseNeighbors with
    * candK = 2k, m = k) arm for arm.
    */
  private def hnswBuildOracleFrom(src: String): String = {
    val kept = (0 to 3).map(l => hnswKeptEdgesSql(l, s"ed$l", candK = 6, m = 3))
    val arms = (0 to 3)
      .map(l => s"SELECT CAST($l AS BIGINT) AS level, src, dst FROM ed$l")
      .mkString("\n      UNION ALL\n      ")
    s"""
      WITH ${hnswLvCteFrom(src)},
      ${hnswEsCteFrom(src)},
      ${kept.mkString(",")}
      $arms"""
  }

  private lazy val hnswOracleSql: String = hnswBuildOracleFrom("embeddings")

  private lazy val hnswSampledOracleSql: String = hnswBuildOracleFrom(hnswSampledSrc)

  /** Greedy-descent replay, unrolled: all-pair sims once (escored),
    * per-layer kNN edges from level filters, the global entry, one
    * argmax step per upper layer, a two-hop layer-0 frontier, exact
    * top-3. Mirrors Graph.hnswSearchReplay step for step.
    */
  private def hnswSearchOracleFrom(src: String, queryBound: String): String = {
    def edgesFor(l: Int) = hnswKeptEdgesSql(l, s"ed$l", candK = 6, m = 3)
    def stepFor(out: String, prev: String, edges: String, width: Int) = s"""
      cand_$out AS (
        SELECT DISTINCT query_id, cand FROM (
          SELECT query_id, cur AS cand FROM $prev
          UNION ALL
          SELECT p.query_id, e.dst FROM $prev p JOIN $edges e ON e.src = p.cur)),
      $out AS MATERIALIZED (
        SELECT query_id, cand AS cur FROM (
          SELECT c.query_id, c.cand,
                 row_number() OVER (PARTITION BY c.query_id
                   ORDER BY es.sim DESC, c.cand) AS rn
          FROM cand_$out c JOIN es ON es.qid = c.query_id AND es.nvid = c.cand
          WHERE c.cand <> c.query_id)
        WHERE rn <= $width)"""
    s"""
      WITH ${hnswLvCteFrom(src)},
      ${hnswEsCteFrom(src)},
      ${(0 to 3).map(edgesFor).mkString(",")},
      entry AS (SELECT vec_id AS cur FROM lv ORDER BY level DESC, vec_id LIMIT 1),
      c0 AS (
        SELECT q.vec_id AS query_id, e.cur
        FROM $src q CROSS JOIN entry e WHERE q.vec_id < $queryBound),
      ${stepFor("s3a", "c0", "ed3", 3)},
      ${stepFor("s3b", "s3a", "ed3", 3)},
      ${stepFor("s2a", "s3b", "ed2", 3)},
      ${stepFor("s2b", "s2a", "ed2", 3)},
      ${stepFor("s1a", "s2b", "ed1", 3)},
      ${stepFor("s1b", "s1a", "ed1", 3)},
      ${stepFor("b1", "s1b", "ed0", 8)},
      ${stepFor("b2", "b1", "ed0", 8)},
      ${stepFor("b3", "b2", "ed0", 8)}
      SELECT query_id, cur AS neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
        SELECT b.query_id, b.cur,
               row_number() OVER (PARTITION BY b.query_id
                 ORDER BY es.sim DESC, b.cur) AS rank
        FROM b3 b JOIN es ON es.qid = b.query_id AND es.nvid = b.cur)
      WHERE rank <= 3"""
  }

  private lazy val hnswSearchOracleSql: String =
    hnswSearchOracleFrom("embeddings", "10")

  private lazy val hnswSearchSampledOracleSql: String = {
    val kmod = "(SELECT (count(*) + 1999) // 2000 FROM embeddings)"
    hnswSearchOracleFrom(hnswSampledSrc, s"10 * $kmod")
  }

  /** The shared body of the emb_hnsw_export driver queries: build the
    * hierarchy over `space` through the IVF-probed candidate source,
    * WRITE the hnswlib saveIndex binary, re-parse it with the
    * independent reader, and emit per-level stats FROM THE PARSED
    * BYTES plus the payload check (labels dense-ascending in key
    * order, vector bytes bit-equal to the source column — an
    * artifact-sized driver loop; the file is serving-RAM-sized by the
    * format's own contract).
    */
  private def hnswExportStats(
      s: SparkSession, space: DataFrame, tag: String): DataFrame = {
    import s.implicits._
    // per-invocation temp dir, not a (tag, pid)-keyed path: two
    // concurrent invocations of the same export query inside one JVM
    // (e.g. two threads sharing a session) must never write and read
    // the same file
    val p = java.nio.file.Files
      .createTempDirectory(s"graft_hnsw_export_${tag}_")
      .resolve("index.hnsw").toString
    val cents = Similarity.centroids(space, "label", "embedding")
    // the oracle equality below assumes the IVF probe is EXHAUSTIVE
    // (every cell probed => candidate set identical to brute); fail
    // loudly if the corpus ever grows more label cells than nProbe
    // instead of surfacing as an opaque hash mismatch at verify time
    val nProbe = 1000
    val nCells = cents.count()
    require(nCells <= nProbe,
      s"hnswExportStats($tag): IVF candidate source must be exhaustive for " +
        s"byte-level oracle equality, but nCells=$nCells > nProbe=$nProbe")
    HnswExport.exportIndex(
      space, "vec_id", "embedding",
      m = 3, maxLevel = 3, efConstruction = 100, p,
      candidates = Some(Graph.ivfCandidateSource("vec_id", "embedding", cents, nProbe = nProbe)))
    val idx = HnswExport.readIndex(p)
    val src = space
      .select(col("vec_id").cast("long"), col("embedding"))
      .orderBy(col("vec_id")).collect()
    val payloadOk =
      idx.labels.toSeq == src.map(_.getLong(0)).toSeq &&
        src.indices.forall { i =>
          val v = src(i).getSeq[Float](1)
          v.length == idx.dim && v.indices.forall(j =>
            java.lang.Float.floatToRawIntBits(v(j)) ==
              java.lang.Float.floatToRawIntBits(idx.vectors(i)(j)))
        }
    val fileBytes = java.nio.file.Files.size(java.nio.file.Paths.get(p))
    // artifact fully parsed into memory above; drop the per-invocation
    // temp dir so repeated bench reps don't accumulate index files
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p).getParent)
    (0 to 3).map(l => (
      l.toLong, idx.nodesAtLevelGte(l), idx.edgesAtLevel(l),
      idx.nElements.toLong, idx.labels(idx.header.enterPoint), fileBytes, payloadOk))
      .toDF("level", "n_nodes", "n_edges", "n_elements", "entry_label",
        "file_bytes", "payload_ok")
  }

  /** The hnswlib-serialization gate: per-level node/edge counts from
    * the SAME level + diverse-neighbor CTEs as the build oracle, plus
    * the EXACT artifact byte count from hnswlib's saveIndex layout
    * arithmetic — header 96 bytes; per element a level-0 block of
    * (maxM0*4+4) link bytes + dim*4 vector bytes + 8 label bytes
    * (maxM0 = 2m = 6); then per element 4 size bytes + level_i
    * segments of (maxM*4+4) = 16 bytes. The Spark side reads these
    * numbers back out of the parsed binary, so the two derivations
    * meet only at the file format.
    */
  private def hnswExportOracleFrom(src: String): String = {
    val kept = (0 to 3).map(l => hnswKeptEdgesSql(l, s"ed$l", candK = 6, m = 3))
    val arms = (0 to 3).map { l =>
      s"""SELECT CAST($l AS BIGINT) AS level,
             (SELECT count(*) FROM lv WHERE level >= $l) AS n_nodes,
             (SELECT count(*) FROM ed$l) AS n_edges"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
      WITH ${hnswLvCteFrom(src)},
      ${hnswEsCteFrom(src)},
      ${kept.mkString(",")},
      geom AS MATERIALIZED (
        SELECT count(*) AS n, max(len(embedding)) AS dim FROM $src g0),
      lvsum AS (SELECT sum(level) AS suml FROM lv),
      perlevel AS ($arms)
      SELECT p.level,
             CAST(p.n_nodes AS BIGINT) AS n_nodes,
             CAST(p.n_edges AS BIGINT) AS n_edges,
             CAST(g.n AS BIGINT) AS n_elements,
             (SELECT vec_id FROM lv ORDER BY level DESC, vec_id LIMIT 1) AS entry_label,
             CAST(96 + g.n * (6*4+4 + g.dim*4 + 8) + 4*g.n + (3*4+4) * s.suml AS BIGINT)
               AS file_bytes,
             TRUE AS payload_ok
      FROM perlevel p, geom g, lvsum s"""
  }

  private lazy val hnswExportOracleSql: String = hnswExportOracleFrom("embeddings")

  private lazy val hnswExportSampledOracleSql: String =
    hnswExportOracleFrom(hnswSampledSrc)

  /** All-points 10-NN label consistency: integer match counts, one
    * IEEE division at output.
    */
  private val labelConsistencyOracleSql: String = """
      WITH scored AS (
        SELECT qid, qlab, nvid, nlab,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, q.label AS qlab,
                 n.vec_id AS nvid, n.label AS nlab,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id)
        GROUP BY qid, qlab, nvid, nlab),
      nn AS (
        SELECT qid, qlab, nlab FROM (
          SELECT qid, qlab, nlab,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nvid) AS rank
          FROM scored) WHERE rank <= 10)
      SELECT qid AS vec_id, CAST(qlab AS INT) AS label,
             CAST(sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
             CAST(sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS consistency
      FROM nn GROUP BY qid, qlab"""

  /** Unrolled 2-iteration clamped majority-vote label propagation over
    * the same 3-NN cosine graph as PageRank: integer votes,
    * smaller-label tiebreak, seeds (vec_id < 50) clamped.
    */
  private def lpIterSql(prev: String, n: Int): String = s"""
      v$n AS MATERIALIZED (
        SELECT e.dst AS id, p.label AS nl, count(*) AS votes
        FROM edges e JOIN $prev p ON p.id = e.src
        WHERE p.label IS NOT NULL GROUP BY e.dst, p.label),
      w$n AS MATERIALIZED (
        SELECT id, nl AS win FROM (
          SELECT id, nl,
                 row_number() OVER (PARTITION BY id ORDER BY votes DESC, nl) AS rn
          FROM v$n)
        WHERE rn = 1),
      l$n AS MATERIALIZED (
        SELECT nodes.id, coalesce(seeds.sl, w$n.win, $prev.label) AS label
        FROM nodes
        LEFT JOIN seeds ON seeds.id = nodes.id
        LEFT JOIN w$n ON w$n.id = nodes.id
        LEFT JOIN $prev ON $prev.id = nodes.id)"""

  /** The 2-iteration clamped-majority-vote body shared by the
    * kNN-graph and bipartite label-prop oracles — only the edge and
    * seed CTEs differ.
    */
  private def labelPropBodySql(edgeCtes: String, seedsCte: String): String = s"""
      WITH $edgeCtes,
      nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
      seeds AS MATERIALIZED ($seedsCte),
      l0 AS MATERIALIZED (
        SELECT nodes.id, seeds.sl AS label
        FROM nodes LEFT JOIN seeds ON seeds.id = nodes.id),
      ${lpIterSql("l0", 1)},
      ${lpIterSql("l1", 2)}
      SELECT id AS node_id, CAST(label AS BIGINT) AS label FROM l2"""

  private lazy val labelPropOracleSql: String = labelPropBodySql(
    knnGraphCtes,
    """SELECT vec_id AS id, CAST(label AS BIGINT) AS sl
        FROM embeddings WHERE vec_id < 50""")

  private lazy val labelPropBipartiteOracleSql: String = labelPropBodySql(
    bipartiteEdgeCtes,
    """SELECT p_partkey + 1000000000000 AS id,
               CAST(p_partkey % 5 AS BIGINT) AS sl
        FROM part WHERE p_partkey % 7 = 0""")

  /** Unrolled 3-iteration PageRank (dampingPct 85) over the directed
    * 3-NN cosine graph — the same FIXED-POINT INTEGER schedule as
    * Graph.pageRank: mass in 1e-12 units (BIGINT), every transfer a
    * truncating integer division, so no float enters the iteration in
    * either engine. DuckDB's sum(BIGINT) widens to HUGEINT — cast back.
    */
  // MATERIALIZED on every multiply-referenced / chain-referenced CTE:
  // DuckDB otherwise inlines CTE references, and a 3-deep iteration
  // chain whose body references the previous iteration plus
  // nodes/edges/od re-evaluates the whole upstream tree per reference
  // — measured at sf10 (240 M edge rows): materialized 120 s, inlined
  // still running past 15 min and spilling the disk full. (The HNSW
  // oracles learned this earlier; same rule here.)
  private def prIterSql(prev: String, name: String): String = s"""
      $name AS MATERIALIZED (
        SELECT nodes.id,
               (15 * 1000000000000 // 100 // nn) + (85 * coalesce(sm.s, 0) // 100) AS pr
        FROM nodes
        LEFT JOIN (
          SELECT e.dst AS id, CAST(sum(p.pr // od.od) AS BIGINT) AS s
          FROM edges e
          JOIN $prev p ON p.id = e.src
          JOIN od ON od.src = e.src
          GROUP BY e.dst) sm ON sm.id = nodes.id
        CROSS JOIN n)"""

  /** The 3-iteration fixed-point body shared by the kNN-graph and
    * bipartite PageRank oracles — only the `edges` CTE differs.
    */
  private def pageRankBodySql(edgeCtes: String): String = s"""
      WITH $edgeCtes,
      nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
      n AS MATERIALIZED (SELECT count(*) AS nn FROM nodes),
      od AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src),
      pr0 AS MATERIALIZED (
        SELECT id, 1000000000000 // nn AS pr FROM nodes CROSS JOIN n),
      ${prIterSql("pr0", "pr1")},
      ${prIterSql("pr1", "pr2")},
      ${prIterSql("pr2", "pr3")}
      SELECT id AS node_id, CAST(pr AS BIGINT) AS pr_units,
             CAST(pr AS BIGINT) / 1000000000000.0 AS pagerank
      FROM pr3"""

  private lazy val pageRankOracleSql: String = pageRankBodySql(knnGraphCtes)

  /** The LINEAR full-scale edge source for the iterative-family scale
    * gates: the order↔part incidence graph of lineitem, both
    * directions, multi-edges kept (both engines see the identical edge
    * multiset; multiplicity just weights the vote/transfer). Part ids
    * are offset into a disjoint node-id space.
    */
  private val bipartiteEdgeCtes: String = """fwd AS MATERIALIZED (
        SELECT l_orderkey AS src, l_partkey + 1000000000000 AS dst FROM lineitem),
      edges AS MATERIALIZED (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd)"""

  private lazy val pageRankBipartiteOracleSql: String =
    pageRankBodySql(bipartiteEdgeCtes)

  private val centroidCte = s"""
      cd AS (
        SELECT label, pos, ${exactMeanSql("x")} AS c FROM (
          SELECT label, unnest(embedding)::DOUBLE AS x,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings) GROUP BY label, pos),
      cent AS (
        SELECT label AS centroid_id, list(c ORDER BY pos) AS centroid
        FROM cd GROUP BY label)"""

  /** Exact top-5 neighbors for queries vec_id < 10 — the oracle for
    * emb_knn_brute AND (via the full-probe invariant) both IVF paths.
    */
  private val knnBruteSql: String = """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""

  /** Unrolled 3-iteration Lloyd k-means (k = 8, seeds = 8 smallest
    * keys) — the same deterministic schedule kmeansCodebook runs, as
    * plain SQL: assign (argmax cosine, smallest-id tiebreak) then
    * recompute per-(cell, dim) means, three times.
    */
  private lazy val kmeansOracleSql: String = s"""
      WITH $kmeansCtes
      SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
             CAST(count(*) AS BIGINT) AS dims,
             round(sqrt(sum(x * x)), 6) AS c_norm
      FROM (SELECT centroid_id, unnest(centroid) AS x FROM c3)
      GROUP BY centroid_id"""

  /** PQ schedule constants shared by the Spark queries and the SQL
    * oracles: 64 dims split into PqM subspaces of 64/PqM dims, PqKsub
    * centroids each, 2 Lloyd iterations. dsub=4/ksub=32 rather than a
    * coarser split because the synthetic corpus is uniform random —
    * the distance-concentration worst case for PQ — and this is the
    * config whose measured recall (~0.44 vs exact L2) keeps the spec's
    * quality gate meaningful.
    */
  private val PqM = 16
  private val PqKsub = 32
  private val PqDsub = 64 / PqM

  /** Learned OPQ rotation of an sf dir. Not memoized: every fit in it
    * (the PQ M-step means, the cross-covariance) is an exact sum that
    * does not depend on partitioning, so the emb_opq_knn query and its
    * generated oracle each fit and get the same R bit for bit.
    */
  private def opqRot(s: SparkSession, dir: String): Seq[Seq[Double]] =
    Quantization.opqRotation(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      m = PqM, dims = 64, ksub = PqKsub, pqIterations = 2, opqIterations = 2)

  private val PcaK = 8

  /** Learned PCA-whitening transform of an sf dir. Not memoized: the
    * fit is one exact pass whose (μ, W) does not depend on partitioning,
    * so the emb_pca_whiten query and its generated oracle each fit and
    * get the same matrix bit for bit.
    */
  private def pcaWhiten(s: SparkSession, dir: String): (Seq[Double], Seq[Seq[Double]]) =
    Quantization.pcaWhitening(t(s, dir, "embeddings"), "vec_id", "embedding", dims = 64, k = PcaK)

  /** Generated emb_pca_whiten oracle: each whitened component an
    * UNROLLED ascending-i left-associated fold of embedding[i]·W[j][i]
    * (the matapply kernel's add order) minus the literal (W·μ)_j,
    * 6dp-rounded — bit-identical doubles in both engines.
    */
  private def pcaWhitenOracle(spark: SparkSession, dir: String): String = {
    val (mu, w) = pcaWhiten(spark, dir)
    val comps = (0 until PcaK).map { j =>
      val row = w(j)
      val b = row.indices.foldLeft(0.0)((acc, i) => acc + row(i) * mu(i))
      val dot = (1 to 64)
        .map(i => s"embedding[$i]::DOUBLE * (${row(i - 1)})::DOUBLE")
        .mkString("(", " + ", ")")
      s"round($dot - ($b)::DOUBLE, 6) AS c$j"
    }
    s"SELECT vec_id, ${comps.mkString(", ")} FROM embeddings"
  }

  /** Generated emb_opq_knn oracle: the learned rotation as literal
    * weights (each output dim an UNROLLED left-associated fold, the
    * same add order as Quantization.rotate's aggregate — bit-identical
    * doubles), feeding the standard unrolled PQ chain + ADC tail.
    */
  private def opqKnnOracle(spark: SparkSession, dir: String): String = {
    val rot = opqRot(spark, dir)
    val vecSql = (0 until 64).map { out =>
      (1 to 64)
        .map(i => s"embedding[$i]::DOUBLE * (${rot(out)(i - 1)})::DOUBLE")
        .mkString("(", " + ", ")")
    }.mkString("list_value(", ", ", ")")
    s"""
      WITH opqv AS (SELECT vec_id, $vecSql AS v FROM embeddings),
      ${pqChainCtes(
        s"""SELECT vec_id, j AS subspace,
               v[(j * $PqDsub + 1):((j + 1) * $PqDsub)] AS subvec
        FROM opqv, (SELECT unnest(range($PqM)) AS j)""",
        seedSrc = "opqv")},
      ${pqAdcSql(PqM, PqDsub, 5)}"""
  }

  /** PQ codebook-build CTE chain (sub -> seeds -> 2x Lloyd -> cb): the
    * exact schedule Quantization.pqCodebooks runs, with every float
    * fold list-ordered to match Spark's sequential aggregate.
    * `subDef` supplies the subvector source CTE body, so the same
    * chain quantizes raw embeddings (emb_pq_*) or IVF residuals
    * (emb_knn_ivfpq).
    */
  private def pqChainCtes(
      subDef: String,
      dsub: Int = PqDsub,
      ksub: Int = PqKsub,
      seedSrc: String = "embeddings"): String = {
    def assign(cent: String, name: String) = s"""
      $name AS (
        SELECT subspace, vec_id, centroid_id AS cell FROM (
          SELECT s.subspace AS subspace, s.vec_id AS vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.subspace, s.vec_id
                                    ORDER BY ${sqlL2("s.subvec", "c.centroid", dsub)}, c.centroid_id) AS rn
          FROM sub s JOIN $cent c ON c.subspace = s.subspace)
        WHERE rn = 1)"""
    def mstep(a: String, name: String) = s"""
      $name AS (
        SELECT subspace, cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.subspace AS subspace, a.cell AS cell, u.pos, ${exactMeanSql("u.x")} AS c
          FROM (SELECT subspace, vec_id, unnest(subvec) AS x,
                       generate_subscripts(subvec, 1) AS pos FROM sub) u
          JOIN $a a ON u.vec_id = a.vec_id AND u.subspace = a.subspace
          GROUP BY a.subspace, a.cell, u.pos)
        GROUP BY subspace, cell)"""
    s"""
      sub AS ($subDef),
      s0 AS (
        SELECT subspace,
               CAST(row_number() OVER (PARTITION BY subspace ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               subvec AS centroid
        FROM sub WHERE vec_id IN (SELECT vec_id FROM $seedSrc ORDER BY vec_id LIMIT $ksub)),
      ${assign("s0", "a1")}, ${mstep("a1", "c1")},
      ${assign("c1", "a2")}, ${mstep("a2", "c2")},
      cb AS (
        SELECT subspace,
               CAST(row_number() OVER (PARTITION BY subspace ORDER BY centroid_id) - 1 AS INT) AS centroid_id,
               centroid
        FROM c2)"""
  }

  /** Raw-embedding subvector source for the emb_pq_* oracles. */
  private val pqPrefixCtes: String = pqChainCtes(s"""
        SELECT vec_id, j AS subspace,
               list_transform(embedding[(j * $PqDsub + 1):((j + 1) * $PqDsub)], x -> x::DOUBLE) AS subvec
        FROM embeddings, (SELECT unnest(range($PqM)) AS j)""")

  /** The 16-dim md5-signed random projection of `embedding` as a SQL
    * list expression — the same left-associated double fold the native
    * graft_rp kernel evaluates (see emb_random_projection oracle).
    */
  private val rpVecSql: String = (0 until 16).map { j =>
    (1 to 64)
      .map(i => s"embedding[$i]::DOUBLE * (${Quantization.rpSign("rp", i, j)})")
      .mkString("(", " + ", s") / sqrt(16.0)")
  }.mkString("list_value(", ", ", ")")

  /** RP->PQ->ADC: the projected-space PQ oracle — JL projection to 16
    * dims, then the full PQ chain (m=8, dsub=2, ksub=32) and ADC
    * probe in the projected space.
    */
  private val rpPqKnnOracleSql: String =
    s"""
      WITH rpv AS (SELECT vec_id, $rpVecSql AS v FROM embeddings),
      ${pqChainCtes(
        """SELECT vec_id, j AS subspace, v[(j * 2 + 1):((j + 1) * 2)] AS subvec
        FROM rpv, (SELECT unnest(range(8)) AS j)""",
        dsub = 2, ksub = 32, seedSrc = "rpv")},
      ${pqAdcSql(8, 2, 5)}"""

  /** ADC encode+probe CTE tail (expects the `sub`/`cb` chain from
    * pqChainCtes in scope): codes per corpus vector, per-query
    * distance tables, asymmetric-distance top-k. Parameterized on the
    * subspace count / width so the same tail scores raw-space PQ
    * (emb_pq_knn) and projected-space PQ (emb_rp_pq_knn).
    */
  private def pqAdcSql(m: Int, dsub: Int, k: Int): String = {
    def l2(a: String, b: String) = sqlL2(a, b, dsub)
    s"""
      codes AS (
        SELECT subspace, vec_id, centroid_id AS code FROM (
          SELECT s.subspace AS subspace, s.vec_id AS vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.subspace, s.vec_id
                                    ORDER BY ${l2("s.subvec", "c.centroid")}, c.centroid_id) AS rn
          FROM sub s JOIN cb c ON c.subspace = s.subspace)
        WHERE rn = 1),
      enc AS (SELECT vec_id, list(code ORDER BY subspace) AS codes FROM codes GROUP BY vec_id),
      qt AS (
        SELECT query_id, subspace, list(d ORDER BY centroid_id) AS dists FROM (
          SELECT s.vec_id AS query_id, s.subspace AS subspace, c.centroid_id,
                 ${l2("s.subvec", "c.centroid")} AS d
          FROM sub s JOIN cb c ON c.subspace = s.subspace
          WHERE s.vec_id < 10)
        GROUP BY query_id, subspace),
      qtab AS (SELECT query_id, list(dists ORDER BY subspace) AS tables FROM qt GROUP BY query_id),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, ${m + 1}), j -> q.tables[j][e.codes[j] + 1])) AS adist
        FROM qtab q CROSS JOIN enc e
        WHERE e.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= $k"""
  }

  private val pqKnnOracleSql: String =
    s"""
      WITH $pqPrefixCtes,
      ${pqAdcSql(PqM, PqDsub, 5)}"""

  /** IVF-PQ oracle: learned coarse k-means cells (the kmeansOracleSql
    * chain, k-prefixed names) -> corpus assignment -> residuals -> PQ
    * chain over residual subvectors -> per-(query, probed-cell) ADC
    * tables -> within-cell scoring — the unrolled twin of
    * Quantization.knnIvfPq.
    */
  private val ivfPqOracleSql: String = {
    val dsub = PqDsub
    val residSub = s"""
        SELECT vec_id, j AS subspace,
               r[(j * $dsub + 1):((j + 1) * $dsub)] AS subvec
        FROM resid, (SELECT unnest(range($PqM)) AS j)"""
    // Coarse chain: cosine-assignment Lloyd, k=8, 3 iterations — the
    // exact kmeansCodebook schedule, CTE names prefixed with 'k'.
    def kassign(cent: String, name: String) = s"""
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
    def kmstep(assignName: String, name: String) = s"""
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
    s"""
      WITH ks0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               list_transform(embedding, x -> x::DOUBLE) AS centroid
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
      ${kassign("ks0", "ka1")}, ${kmstep("ka1", "kc1")},
      ${kassign("kc1", "ka2")}, ${kmstep("ka2", "kc2")},
      ${kassign("kc2", "ka3")}, ${kmstep("ka3", "kc3")},
      ${kassign("kc3", "cassign")},
      resid AS (
        SELECT e.vec_id, a.cell,
               list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - c.centroid[i]) AS r
        FROM embeddings e
        JOIN cassign a ON a.vec_id = e.vec_id
        JOIN kc3 c ON c.centroid_id = a.cell),
      ${pqChainCtes(residSub)},
      codes AS (
        SELECT subspace, vec_id, centroid_id AS code FROM (
          SELECT s.subspace AS subspace, s.vec_id AS vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.subspace, s.vec_id
                                    ORDER BY ${sqlL2("s.subvec", "c.centroid", dsub)}, c.centroid_id) AS rn
          FROM sub s JOIN cb c ON c.subspace = s.subspace)
        WHERE rn = 1),
      enc AS (
        SELECT k.vec_id, r.cell, k.codes FROM (
          SELECT vec_id, list(code ORDER BY subspace) AS codes
          FROM codes GROUP BY vec_id) k
        JOIN resid r ON r.vec_id = k.vec_id),
      qcells AS (
        SELECT vec_id AS query_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rk
          FROM (
            SELECT vec_id, centroid_id,
                   sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
            FROM (
              SELECT e.vec_id, c.centroid_id,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
              FROM embeddings e CROSS JOIN kc3 c WHERE e.vec_id < 10)
            GROUP BY vec_id, centroid_id))
        WHERE rk <= 3),
      qresid AS (
        SELECT q.query_id, q.cell,
               list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - c.centroid[i]) AS qr
        FROM qcells q
        JOIN embeddings e ON e.vec_id = q.query_id
        JOIN kc3 c ON c.centroid_id = q.cell),
      qsub AS (
        SELECT query_id, cell, j AS subspace,
               qr[(j * $dsub + 1):((j + 1) * $dsub)] AS subvec
        FROM qresid, (SELECT unnest(range($PqM)) AS j)),
      qt AS (
        SELECT query_id, cell, subspace, list(d ORDER BY centroid_id) AS dists FROM (
          SELECT s.query_id AS query_id, s.cell AS cell, s.subspace AS subspace, c.centroid_id,
                 ${sqlL2("s.subvec", "c.centroid", dsub)} AS d
          FROM qsub s JOIN cb c ON c.subspace = s.subspace)
        GROUP BY query_id, cell, subspace),
      qtab AS (
        SELECT query_id, cell, list(dists ORDER BY subspace) AS tables
        FROM qt GROUP BY query_id, cell),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, ${PqM + 1}), j -> q.tables[j][e.codes[j] + 1])) AS adist
        FROM qtab q JOIN enc e ON e.cell = q.cell
        WHERE e.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""
  }

  /** IVFPQ+Refine oracle: the full ivfPqOracleSql chain widened to the
    * 20-candidate ADC shortlist (nested WITH inside the CTE body —
    * legal subquery scoping), then the exact-cosine rerank tail of the
    * binary-rerank oracle.
    */
  private lazy val ivfPqRerankOracleSql: String = {
    require(ivfPqOracleSql.trim.endsWith("WHERE rank <= 5"),
      "ivfPqOracleSql tail changed; update the rerank wrapper")
    s"""
      WITH cands AS (
        ${ivfPqOracleSql.replace("WHERE rank <= 5", "WHERE rank <= 20")}),
      rscored AS (
        SELECT query_id, neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT c.query_id, c.neighbor_id,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM cands c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings n ON n.vec_id = c.neighbor_id)
        GROUP BY query_id, neighbor_id)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM rscored)
      WHERE rank <= 5"""
  }

  /** Incremental-maintenance oracle: the IVF-PQ chain with TRAINING
    * restricted to the old corpus (vec_id >= 10) and ENCODING covering
    * every row — the unrolled twin of buildIvfPq(old) +
    * upsertIvfPq(delta) with frozen artifacts. CTE structure mirrors
    * ivfPqOracleSql; only the FROM sources differ (train vs all).
    */
  private val ivfPqUpsertOracleSql: String = {
    val dsub = PqDsub
    // coarse Lloyd trained on `train` only
    def kassign(cent: String, name: String, src: String) = s"""
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
              FROM $src e CROSS JOIN $cent c)
            GROUP BY vec_id, centroid_id))
        WHERE rn = 1)"""
    def kmstep(assignName: String, name: String) = s"""
      $name AS (
        SELECT cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.cell, u.pos, ${exactMeanSql("u.x")} AS c
          FROM (
            SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM train) u
          JOIN $assignName a ON u.vec_id = a.vec_id
          GROUP BY a.cell, u.pos)
        GROUP BY cell)"""
    // PQ Lloyd trained on train-residual subvectors only
    def passign(cent: String, name: String, src: String) = s"""
      $name AS (
        SELECT subspace, vec_id, centroid_id AS cell FROM (
          SELECT s.subspace AS subspace, s.vec_id AS vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.subspace, s.vec_id
                                    ORDER BY ${sqlL2("s.subvec", "c.centroid", dsub)}, c.centroid_id) AS rn
          FROM $src s JOIN $cent c ON c.subspace = s.subspace)
        WHERE rn = 1)"""
    def pmstep(a: String, name: String) = s"""
      $name AS (
        SELECT subspace, cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.subspace AS subspace, a.cell AS cell, u.pos, ${exactMeanSql("u.x")} AS c
          FROM (SELECT subspace, vec_id, unnest(subvec) AS x,
                       generate_subscripts(subvec, 1) AS pos FROM subt) u
          JOIN $a a ON u.vec_id = a.vec_id AND u.subspace = a.subspace
          GROUP BY a.subspace, a.cell, u.pos)
        GROUP BY subspace, cell)"""
    s"""
      WITH train AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
      ks0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               list_transform(embedding, x -> x::DOUBLE) AS centroid
        FROM (SELECT vec_id, embedding FROM train ORDER BY vec_id LIMIT 8)),
      ${kassign("ks0", "ka1", "train")}, ${kmstep("ka1", "kc1")},
      ${kassign("kc1", "ka2", "train")}, ${kmstep("ka2", "kc2")},
      ${kassign("kc2", "ka3", "train")}, ${kmstep("ka3", "kc3")},
      ${kassign("kc3", "cassign", "embeddings")},
      resid AS (
        SELECT e.vec_id, a.cell,
               list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - c.centroid[i]) AS r
        FROM embeddings e
        JOIN cassign a ON a.vec_id = e.vec_id
        JOIN kc3 c ON c.centroid_id = a.cell),
      suba AS (
        SELECT vec_id, j AS subspace,
               r[(j * $dsub + 1):((j + 1) * $dsub)] AS subvec
        FROM resid, (SELECT unnest(range($PqM)) AS j)),
      subt AS (SELECT * FROM suba WHERE vec_id >= 10),
      s0 AS (
        SELECT subspace,
               CAST(row_number() OVER (PARTITION BY subspace ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               subvec AS centroid
        FROM subt WHERE vec_id IN (SELECT vec_id FROM train ORDER BY vec_id LIMIT $PqKsub)),
      ${passign("s0", "a1", "subt")}, ${pmstep("a1", "c1")},
      ${passign("c1", "a2", "subt")}, ${pmstep("a2", "c2")},
      cb AS (
        SELECT subspace,
               CAST(row_number() OVER (PARTITION BY subspace ORDER BY centroid_id) - 1 AS INT) AS centroid_id,
               centroid
        FROM c2),
      ${passign("cb", "acodes", "suba")},
      enc AS (
        SELECT vec_id, list(cell ORDER BY subspace) AS codes
        FROM acodes GROUP BY vec_id)
      SELECT e.vec_id, CAST(r.cell AS BIGINT) AS cell,
             array_to_string(list_transform(e.codes, x -> CAST(x AS VARCHAR)), ',') AS codes
      FROM enc e JOIN resid r ON r.vec_id = e.vec_id"""
  }

  val queries: Seq[(String, Query)] = Seq(
    "emb_get_multi" -> Query((s, dir) =>
      Similarity
        .multiGet(t(s, dir, "embeddings"), "vec_id", 0L to 9L)
        .select(
          col("vec_id"), size(col("embedding")).cast("long").as("dims"),
          element_at(col("embedding"), 1).as("e_first"),
          element_at(col("embedding"), -1).as("e_last"),
          col("label")),
      """
      SELECT vec_id, len(embedding) AS dims, embedding[1] AS e_first,
             embedding[-1] AS e_last, label
      FROM embeddings WHERE vec_id BETWEEN 0 AND 9"""),
    "emb_knn_brute" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }, knnBruteSql),
    // Range search (FAISS range_search): every corpus vector within
    // cosine radius 0.35 of each query — filter-only plan, no window.
    "emb_range_search" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.rangeSearch(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", minSim = 0.35)
    }, """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, sim FROM scored WHERE sim >= 0.35"""),
    // Grouped kNN (Milvus group_by / Vespa grouping): top-5 per query
    // with at most 2 hits from any one label — one entity cannot
    // monopolize the result list.
    "emb_knn_grouped" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnGrouped(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5, perGroup = 2)
    }, """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id, nl AS group_label,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid, n.label AS nl,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid, nl),
      capped AS (
        SELECT query_id, neighbor_id, group_label, sim,
               row_number() OVER (PARTITION BY query_id, group_label
                                  ORDER BY sim DESC, neighbor_id) AS grn
        FROM scored)
      SELECT query_id, neighbor_id, CAST(group_label AS INT) AS group_label, rank FROM (
        SELECT query_id, neighbor_id, group_label,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM capped WHERE grn <= 2)
      WHERE rank <= 5"""),
    // Contrastive triplet mining: per anchor, 5 nearest same-label
    // (positives) and 5 nearest other-label (hard negatives) from ONE
    // corpus scan with two label-masked bounded heaps.
    "emb_triplet_mine" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.tripletMine(
        emb, "vec_id", "embedding", "label", emb.where(col("vec_id") < 10), k = 5)
    },
      // Same brute-force scoring CTE, split by the anchor/neighbor label
      // relation into the positive and hard-negative ranked lists.
      """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id, ql, nl,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid, q.label AS ql, n.label AS nl,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid, ql, nl),
      ranked AS (
        SELECT query_id, neighbor_id,
               CASE WHEN ql = nl THEN 'pos' ELSE 'neg' END AS kind,
               row_number() OVER (
                 PARTITION BY query_id, ql = nl
                 ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, kind, neighbor_id, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 5"""),
    // Driver-facing IVF invariant: probing EVERY cell must reproduce
    // brute force exactly, so the full IVF machinery (centroid build,
    // assignment, probe join, top-k) is hash-checked against the brute
    // oracle. Partial-probe recall is spec-covered (SimilaritySpec).
    "emb_knn_ivf" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvf(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5, nProbe = 1000 /* >= nCells => full probe = brute equality */)
    }, knnBruteSql),
    // The REAL approximate path, driver-checked: nProbe = 3 of the 10
    // label cells, with an oracle that unrolls the identical IVF
    // schedule (assignment + query-cell ranking + restricted top-k) in
    // SQL — the recall trade-off itself is hash-verified, not just the
    // degenerate full-probe case.
    "emb_knn_ivf_partial" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvf(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5, nProbe = 3)
    },
      // Partial-probe IVF unrolled: label centroids -> corpus cell
      // assignment (argmax cosine, smallest-id tiebreak) -> top-3 cells
      // per query -> exact top-5 within the probed cells only.
      s"""
      WITH $centroidCte,
      ascore AS (
        SELECT vec_id, centroid_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT e.vec_id, c.centroid_id,
                 unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
          FROM embeddings e CROSS JOIN cent c)
        GROUP BY vec_id, centroid_id),
      assigned AS (
        SELECT vec_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM ascore) WHERE rn = 1),
      qcells AS (
        SELECT vec_id AS query_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rk
          FROM ascore WHERE vec_id < 10) WHERE rk <= 3),
      scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q
          JOIN qcells qc ON qc.query_id = q.vec_id
          JOIN assigned a ON a.cell = qc.cell
          JOIN embeddings n ON n.vec_id = a.vec_id AND n.vec_id <> q.vec_id)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5"""),
    // End-to-end ANN: k-means index build + probe. nProbe = nCells, so
    // the learned-codebook path is also held to exact brute equality.
    "emb_knn_ivf_kmeans" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvfKmeans(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nProbe = 8, nCells = 8)
    }, knnBruteSql),
    // ANN acceptance gate: per-query recall vs brute. Full probe makes
    // the expected recall provably 1.0 per query — a deterministic
    // oracle; the lossy partial-probe recall curve is spec territory.
    "emb_ivf_recall" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      Similarity.recall(
        Similarity.knnIvf(emb, q, "vec_id", "embedding", "label", k = 5, nProbe = 1000),
        Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5))
    }, """
      SELECT vec_id AS query_id, round(1.0, 4) AS recall
      FROM embeddings WHERE vec_id < 10"""),
    // Deterministic ±1 random projection 64 -> 16 dims (Achlioptas /
    // JL): the training-free dimension-reduction transform — the
    // projection matrix is md5-derived, so any engine reproduces it.
    // Runs the native graft_rp kernel: the declarative 1024-term tree
    // cost seconds of optimizer+Janino work per plan and overflowed
    // the 64KB generated-method limit into interpreted eval.
    "emb_random_projection" -> Query((s, dir) => {
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          posexplode(Quantization.randomProjectionNative(col("embedding"), 64, 16))
            .as(Seq("out_dim", "p")))
        .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"), col("p"))
    },
      // The oracle unrolls the SAME left-associated double fold the
      // Spark expression evaluates, with the same md5-derived ±1 signs
      // (Quantization.rpSign) baked in as literals — sequential double
      // adds are bit-identical when the fold order matches.
      (0 until 16).map { j =>
      val chain = (1 to 64)
        .map(i => s"embedding[$i]::DOUBLE * (${Quantization.rpSign("rp", i, j)})")
        .mkString(" + ")
      s"""SELECT vec_id, CAST($j AS BIGINT) AS out_dim, ($chain) / sqrt(16.0) AS p
          FROM embeddings"""
    }.mkString("\n      UNION ALL ")),
    // RP-space retrieval acceptance gate: recall of top-5 cosine in
    // the 16-dim md5-signed random projection vs full-dim exact — the
    // same lossy-axis eval as matryoshka, but with the training-free
    // JL transform that mixes ALL input dims instead of truncating.
    "emb_rp_recall" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rp = emb.select(
        col("vec_id"),
        Quantization.randomProjectionNative(col("embedding"), 64, 16).as("embedding"))
      Similarity.recall(
        Similarity.knnBruteForce(rp, rp.where(col("vec_id") < 10), "vec_id", "embedding", 5),
        Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5))
    }, {
      val chains = (0 until 16).map { j =>
        (1 to 64)
          .map(i => s"embedding[$i]::DOUBLE * (${Quantization.rpSign("rp", i, j)})")
          .mkString("(", " + ", s") / sqrt(16.0)")
      }.mkString("list_value(", ", ", ")")
      s"""
      WITH rpv AS (SELECT vec_id, $chains AS v FROM embeddings),
      tsc AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.v) AS x, unnest(n.v) AS y
          FROM rpv q JOIN rpv n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      tlist AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM tsc) WHERE rank <= 5),
      esc AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      elist AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM esc) WHERE rank <= 5),
      hits AS (
        SELECT t.query_id, count(*) AS n_hits
        FROM tlist t JOIN elist e
          ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY t.query_id),
      kk AS (SELECT query_id, count(*) AS k FROM elist GROUP BY query_id)
      SELECT kk.query_id, round(coalesce(n_hits, 0) / k, 4) AS recall
      FROM kk LEFT JOIN hits ON hits.query_id = kk.query_id"""
    }),
    // Matryoshka-style truncation eval: how much recall does retrieval
    // at the first 16 of 64 dims keep vs full-dim exact top-5? The
    // dimension-reduction acceptance gate (16 dims = 4x cheaper scan;
    // same machinery as emb_ivf_recall, lossy axis = dims not cells).
    "emb_matryoshka_recall" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      Similarity.recall(
        Similarity.knnBruteForce(
          trunc, trunc.where(col("vec_id") < 10), "vec_id", "embedding", 5),
        Similarity.knnBruteForce(
          emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5))
    }, """
      WITH tsc AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding[1:16])::DOUBLE AS x,
                 unnest(n.embedding[1:16])::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      tlist AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM tsc) WHERE rank <= 5),
      esc AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      elist AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM esc) WHERE rank <= 5),
      hits AS (
        SELECT t.query_id, count(*) AS n_hits
        FROM tlist t JOIN elist e
          ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY t.query_id),
      kk AS (SELECT query_id, count(*) AS k FROM elist GROUP BY query_id)
      SELECT kk.query_id, round(coalesce(n_hits, 0) / k, 4) AS recall
      FROM kk LEFT JOIN hits ON hits.query_id = kk.query_id"""),
    // embeddinghub Set/MultiSet write path: upsert a delta (25 updated
    // vectors + 5 inserts, both derived deterministically from the
    // table) into the space; last-writer-wins per key. Updates flip the
    // vector (reverse) and bump the label by 1000 so the merged rows are
    // visibly the delta's, not the original's.
    "emb_upsert" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      val updates = emb
        .where(col("vec_id") < 25)
        .select(
          col("vec_id"), reverse(col("embedding")).as("embedding"),
          (col("label") + 1000).as("label"))
      val inserts = emb
        .where(col("vec_id") < 5)
        .select(
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          (col("label") + 2000).as("label"))
      Similarity
        .upsert(emb, updates.unionByName(inserts), "vec_id")
        .select(
          col("vec_id"), col("label"),
          size(col("embedding")).cast("long").as("dims"),
          element_at(col("embedding"), 1).as("e_first"),
          element_at(col("embedding"), -1).as("e_last"))
    }, """
      WITH delta AS (
        SELECT vec_id, list_reverse(embedding) AS embedding, label + 1000 AS label
        FROM embeddings WHERE vec_id < 25
        UNION ALL
        SELECT vec_id + 1000000, embedding, label + 2000 FROM embeddings WHERE vec_id < 5),
      merged AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM delta)
        UNION ALL SELECT vec_id, embedding, label FROM delta)
      SELECT vec_id, label, len(embedding) AS dims,
             embedding[1] AS e_first, embedding[-1] AS e_last
      FROM merged"""),
    // Space lifecycle (CreateSpace/FreezeSpace/DeleteSpace): freeze two
    // immutable snapshots of a space, read each back by version.
    "emb_space_lifecycle" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_spaces"
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      graft.sources.Spaces.delete(s, root, "vectors")
      val v1 = graft.sources.Spaces.freeze(emb.where(col("vec_id") < 100), root, "vectors")
      val v2 = graft.sources.Spaces.freeze(emb, root, "vectors")
      def profile(version: Int): DataFrame =
        graft.sources.Spaces.load(s, root, "vectors", Some(version))
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n"),
            min(col("vec_id")).as("min_key"),
            max(col("vec_id")).as("max_key"))
          .withColumn("version", lit(version.toLong))
      profile(v1).unionByName(profile(v2))
    }, """
      SELECT label, count(*) AS n, min(vec_id) AS min_key, max(vec_id) AS max_key,
             CAST(1 AS BIGINT) AS version
      FROM embeddings WHERE vec_id < 100 GROUP BY label
      UNION ALL
      SELECT label, count(*), min(vec_id), max(vec_id), CAST(2 AS BIGINT)
      FROM embeddings GROUP BY label"""),
    "emb_pairwise_cosine" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = emb
        .where(col("vec_id") < 20)
        .select(col("vec_id").as("a"), (col("vec_id") + 100).as("b"))
      Similarity.pairwiseCosine(emb, "vec_id", "embedding", pairs)
        .select(col("a"), col("b"), col("cos_sim"))
    }, """
      SELECT a, b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim FROM (
        SELECT a, b, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb FROM (
          SELECT a.vec_id AS a, b.vec_id AS b,
                 unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
          FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100
          WHERE a.vec_id < 20) GROUP BY a, b)"""),
    "emb_centroids" -> Query((s, dir) =>
      Similarity
        .centroids(t(s, dir, "embeddings"), "label", "embedding")
        .select(
          col("centroid_id").as("label"),
          size(col("centroid")).cast("long").as("dims"),
          round(VectorFunctions.l2Norm(col("centroid")), 6).as("c_norm")),
      s"""
      WITH $centroidCte
      SELECT label, count(*) AS dims, round(sqrt(sum(c * c)), 6) AS c_norm
      FROM cd GROUP BY label"""),
    "emb_nearest_centroid" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.centroids(emb, "label", "embedding")
      Similarity
        .nearestCentroid(emb, "vec_id", "embedding", cents)
        .join(emb.select(col("vec_id"), col("label").as("own_label")), "vec_id")
        .select(
          col("vec_id"), col("assigned"), col("own_label"),
          (col("assigned") === col("own_label")).cast("int").as("is_own"))
    }, s"""
      WITH $centroidCte,
      scored AS (
        SELECT vec_id, own_label, centroid_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT e.vec_id, e.label AS own_label, c.centroid_id,
                 unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
          FROM embeddings e CROSS JOIN cent c)
        GROUP BY vec_id, own_label, centroid_id)
      SELECT vec_id, centroid_id AS assigned, own_label,
             CAST(centroid_id = own_label AS INT) AS is_own FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
        FROM scored) WHERE rn = 1"""),
    "emb_norm_stats" -> Query((s, dir) =>
      Similarity.normStats(t(s, dir, "embeddings"), "label", "embedding"),
      """
      WITH n AS (
        SELECT label, sqrt(sum(x * x)) AS nrm FROM (
          SELECT vec_id, label, unnest(embedding)::DOUBLE AS x FROM embeddings)
        GROUP BY vec_id, label)
      SELECT label, round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm,
             round(avg(nrm), 6) AS avg_norm
      FROM n GROUP BY label"""),
    // OOD screening: exact integer distance-to-mean with the top 1%
    // most distant flagged by exact rank — the pre-ingest sanity gate.
    "emb_ood_scores" -> Query((s, dir) =>
      Similarity.oodScores(t(s, dir, "embeddings"), "vec_id", "embedding", pctOod = 1),
      """
      WITH comp AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(floor(unnest(embedding)::DOUBLE * 1000000.0) AS BIGINT) + 1000000 AS vm
        FROM embeddings),
      m AS (
        SELECT pos, CAST(sum(vm) // count(*) AS BIGINT) AS mm
        FROM comp GROUP BY pos),
      d AS (
        SELECT vec_id, CAST(sum((vm - mm) * (vm - mm)) AS BIGINT) AS d2
        FROM comp JOIN m USING (pos) GROUP BY vec_id),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      rn AS (
        SELECT vec_id, d2, row_number() OVER (ORDER BY d2, vec_id) AS r FROM d)
      SELECT vec_id, d2, r > n - n * 1 // 100 AS is_ood
      FROM rn CROSS JOIN tot"""),
    // embeddinghub Download: full-space export (key, dims, payload
    // checksum columns keep the compare cheap but scan everything).
    "emb_download" -> Query((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("dims"),
        element_at(col("embedding"), 1).as("e_first")),
      """
      SELECT vec_id, label, len(embedding) AS dims, embedding[1] AS e_first
      FROM embeddings"""),
    // Batch ANN index build: deterministic k-means codebook. The fixed
    // 3-iteration Lloyd schedule unrolls into plain SQL (kmeansOracleSql),
    // so even the iterative path is hash-checked.
    "emb_kmeans" -> Query((s, dir) =>
      Similarity
        .kmeansCodebook(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iterations = 3)
        .select(
          col("centroid_id").cast("long").as("centroid_id"),
          size(col("centroid")).cast("long").as("dims"),
          round(VectorFunctions.l2Norm(col("centroid")), 6).as("c_norm")), kmeansOracleSql),
    // Product quantization index build: per-subspace Lloyd codebooks
    // (m=16 x ksub=32 over 64 dims, 2 iterations) — the published
    // compressed-ANN scale path (Jégou et al., TPAMI 2011). The fixed
    // schedule unrolls into SQL like emb_kmeans does.
    "emb_pq_codebooks" -> Query((s, dir) =>
      Quantization
        .pqCodebooks(t(s, dir, "embeddings"), "vec_id", "embedding",
          m = 16, dims = 64, ksub = 32, iterations = 2)
        .select(
          col("subspace").cast("long").as("subspace"),
          col("centroid_id").cast("long").as("centroid_id"),
          size(col("centroid")).cast("long").as("dims"),
          round(VectorFunctions.l2Norm(col("centroid")), 6).as("c_norm")),
      s"""
      WITH $pqPrefixCtes
      SELECT CAST(subspace AS BIGINT) AS subspace,
             CAST(centroid_id AS BIGINT) AS centroid_id,
             CAST(len(centroid) AS BIGINT) AS dims,
             round(sqrt(list_sum(list_transform(centroid, x -> x * x))), 6) AS c_norm
      FROM cb"""),
    // PQ end-to-end: build -> encode -> ADC top-5 for queries
    // vec_id < 10. Deterministic (seeded build, ordered ADC fold,
    // id tiebreaks), so the whole approximate pipeline is hash-checked.
    "emb_pq_knn" -> Query((s, dir) =>
      Quantization.pqKnn(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        "vec_id", "embedding", m = 16, dims = 64, ksub = 32, iterations = 2, k = 5), pqKnnOracleSql),
    // ColBERT-style late interaction: 3-token-bag queries (first three
    // members of labels 0-2) MaxSim-scored against label-bag documents.
    "emb_maxsim" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val w = Window.partitionBy(col("label")).orderBy(col("vec_id"))
      val qtoks = emb.where(col("label") < 3)
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select(col("label").as("qid"), col("rn").cast("long").as("qtok"), col("embedding"))
      Similarity.maxSim(emb, "label", qtoks, "qid", "embedding")
    }, """
      WITH qt AS (
        SELECT label AS query_id, rn AS qtok, embedding AS q FROM (
          SELECT label, vec_id, embedding,
                 row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
          FROM embeddings WHERE label < 3) WHERE rn <= 3),
      pairs AS (
        SELECT query_id, doc_id, qtok, dvid,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
        FROM (
          SELECT qt.query_id, e.label AS doc_id, qt.qtok, e.vec_id AS dvid,
                 unnest(qt.q)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
          FROM qt CROSS JOIN embeddings e)
        GROUP BY query_id, doc_id, qtok, dvid),
      m AS (
        SELECT query_id, doc_id, qtok, max(sim) AS tok_max
        FROM pairs GROUP BY query_id, doc_id, qtok)
      SELECT query_id, doc_id,
             CAST(sum(CAST(tok_max AS DECIMAL(18,6))) AS DOUBLE) AS maxsim,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM m GROUP BY query_id, doc_id"""),
    // OPQ end-to-end (Ge et al. CVPR'13): learned orthogonal rotation
    // (alternating PQ / Procrustes-SVD) -> PQ -> ADC in the rotated
    // space. The oracle embeds the per-SF rotation as literals
    // (opqKnnOracle), fitted from the build's session and sf dir; the
    // query and its oracle each refit and get the same R.
    "emb_opq_knn" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rotated = Quantization.rotate(emb, "vec_id", "embedding", opqRot(s, dir))
      Quantization.pqKnn(
        rotated, rotated.where(col("vec_id") < 10),
        "vec_id", "vec", m = PqM, dims = 64, ksub = PqKsub, iterations = 2, k = 5)
    }, (s, dir) => opqKnnOracle(s, dir)),
    // PCA whitening (Jégou–Chum ECCV'12): corpus-learned top-8
    // principal directions scaled 1/sqrt(λ+ε), applied centered via
    // the native matapply kernel; oracle embeds the per-SF (W, W·μ)
    // literals (pcaWhitenOracle), fitted from the build's session and
    // sf dir.
    "emb_pca_whiten" -> Query((s, dir) => {
      val (mu, w) = pcaWhiten(s, dir)
      val b = w.map(row => row.indices.foldLeft(0.0)((acc, i) => acc + row(i) * mu(i)))
      val y = Quantization.rotate(t(s, dir, "embeddings"), "vec_id", "embedding", w)
      y.select(
        col("vec_id") +:
          (0 until PcaK).map(j =>
            round(element_at(col("vec"), j + 1) - b(j), 6).as(s"c$j")): _*)
    }, (s, dir) => pcaWhitenOracle(s, dir)),
    // Dimension-reduced PQ (the OPQ-shaped compression stack with the
    // training-free JL rotation): project 64 -> 16 dims with the
    // md5-signed random projection, then PQ (m=8, dsub=2) + ADC in
    // the projected space — 4x cheaper codebooks and tables on top of
    // PQ's compression, end-to-end deterministic and hash-checked.
    "emb_rp_pq_knn" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rp = emb.select(
        col("vec_id"),
        Quantization.randomProjectionNative(col("embedding"), 64, 16).as("embedding"))
      Quantization.pqKnn(
        rp, rp.where(col("vec_id") < 10), "vec_id", "embedding",
        m = 8, dims = 16, ksub = 32, iterations = 2, k = 5)
    }, rpPqKnnOracleSql),
    // IVF-PQ: learned 8-cell coarse quantizer (same 3-iteration Lloyd
    // schedule as emb_kmeans) + PQ of the residuals, nProbe=3 probe —
    // the composed FAISS-style billion-scale index, fully
    // deterministic and hash-checked against its unrolled SQL twin.
    "emb_knn_ivfpq" -> Query((s, dir) =>
      Quantization.knnIvfPq(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        "vec_id", "embedding",
        m = 16, dims = 64, ksub = 32, iterations = 2,
        nCells = 8, coarseIterations = 3, nProbe = 3, k = 5), ivfPqOracleSql),
    // FAISS IVFPQ+Refine: ADC shortlist of 4x k from the compressed
    // index, exact cosine ONLY on the shortlist — memory stays
    // PQ-sized, final ranking recovers the quantization loss.
    "emb_knn_ivfpq_rerank" -> Query((s, dir) =>
      Quantization.knnIvfPqRerank(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        "vec_id", "embedding",
        m = 16, dims = 64, ksub = 32, iterations = 2,
        nCells = 8, coarseIterations = 3, nProbe = 3, k = 5, overfetch = 4), ivfPqRerankOracleSql),
    // Index persistence (embeddinghub's save/load surface re-expressed
    // as table-format artifacts): the IVF-PQ index's three frames —
    // coarse cells, residual codebooks, encoded corpus — commit to
    // lakehouse tables, reload in a fresh lineage, and the reloaded
    // index probes BIT-IDENTICALLY to the fresh one (same oracle as
    // emb_knn_ivfpq; parquet round-trips doubles exactly).
    "emb_index_persist" -> Query((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_index"
      val tp = new org.apache.hadoop.fs.Path(root)
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh tables per run
      val emb = t(s, dir, "embeddings")
      val idx = Quantization.buildIvfPq(
        emb, "vec_id", "embedding",
        m = 16, dims = 64, ksub = 32, iterations = 2,
        nCells = 8, coarseIterations = 3)
      Lakehouse.commit(idx.coarse, root, "ix_coarse", "overwrite")
      Lakehouse.commit(idx.codebooks, root, "ix_cb", "overwrite")
      Lakehouse.commit(idx.encoded, root, "ix_enc", "overwrite")
      val reloaded = Quantization.IvfPqIndex(
        Lakehouse.read(s, root, "ix_coarse").pinned(),
        Lakehouse.read(s, root, "ix_cb").pinned(),
        Lakehouse.read(s, root, "ix_enc"))
      Quantization.probeIvfPq(
        reloaded, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        m = 16, dims = 64, nProbe = 3, k = 5)
    },
      // the reloaded index must answer exactly like the fresh one
      ivfPqOracleSql),
    // Incremental index maintenance: build IVF-PQ on the corpus MINUS
    // the delta, upsert the delta with the frozen artifacts (no
    // re-training), emit the merged encoded corpus. Codes are emitted
    // as a comma string — deterministic and hashable either way, and
    // scalar columns keep the driver's row-sort well-defined.
    "emb_index_upsert" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Quantization.buildIvfPq(
        emb.where(col("vec_id") >= 10), "vec_id", "embedding",
        m = 16, dims = 64, ksub = 32, iterations = 2,
        nCells = 8, coarseIterations = 3)
      Quantization
        .upsertIvfPq(idx, emb.where(col("vec_id") < 10), "vec_id", "embedding", 16, 64)
        .encoded
        .select(
          col("vec_id"),
          col("cell").cast("long").as("cell"),
          concat_ws(",", transform(col("codes"), c => c.cast("string"))).as("codes"))
    }, ivfPqUpsertOracleSql),
    // Filtered ANN (the vector-db "metadata predicate" search): the
    // label filter composes BEFORE the scan, so Catalyst pushes it
    // into the parquet read and the kNN scores only the surviving
    // corpus — a predicate-pushdown win no post-filter k' > k
    // heuristic can match for exactness.
    "emb_knn_filtered" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForce(
        emb.where(col("label").isin(1, 2, 3)),
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }, """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n
            ON n.vec_id <> q.vec_id AND n.label IN (1, 2, 3)
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""),
    // hnswlib ships l2/ip spaces alongside the cosine space index.h
    // instantiates — exact top-5 by euclidean distance for the same
    // query set (negated-squared-distance bounded-heap, native kernel).
    "emb_knn_l2" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForceL2(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }, """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id, sum((x - y) * (x - y)) AS dist FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""),
    // Max-inner-product retrieval — the third hnswlib space (ip).
    "emb_knn_ip" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForceIp(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }, """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id, sum(x * y) AS ip FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""),
    // 1-bit binary sketches + hamming top-k (the 32x compression tier).
    "emb_knn_binary" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Quantization.knnBinaryHamming(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", dims = 64, k = 5)
    }, """
      WITH s AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 64),
                    i -> CASE WHEN embedding[i + 1] <= 0 THEN 0::BIGINT
                              WHEN i = 63 THEN ((-9223372036854775807)::BIGINT - 1)
                              ELSE (1::BIGINT << i) END)) AS BIGINT) AS sk
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               bit_count(xor(q.sk, n.sk)) AS h
        FROM s q JOIN s n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < 10)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""),
    // Two-stage binary prefilter: hamming top-20 candidates at sketch
    // scan speed, exact float cosine only on those, cut to top-5.
    "emb_knn_binary_rerank" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Quantization.knnBinaryRerank(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        dims = 64, k = 5, overfetch = 4)
    }, """
      WITH s AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 64),
                    i -> CASE WHEN embedding[i + 1] <= 0 THEN 0::BIGINT
                              WHEN i = 63 THEN ((-9223372036854775807)::BIGINT - 1)
                              ELSE (1::BIGINT << i) END)) AS BIGINT) AS sk
        FROM embeddings),
      cands AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.sk, n.sk)), n.vec_id) AS hrank
          FROM s q JOIN s n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        WHERE hrank <= 20),
      scored AS (
        SELECT query_id, neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT c.query_id, c.neighbor_id,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM cands c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings n ON n.vec_id = c.neighbor_id)
        GROUP BY query_id, neighbor_id)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""),
    // Storage-tier int8 scalar quantization with per-vector
    // reconstruction-error stats (the 4x embedding compression knob).
    "emb_int8_quant" -> Query((s, dir) =>
      Quantization.int8Quantize(t(s, dir, "embeddings"), "vec_id", "embedding"),
      """
      WITH u AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM embeddings),
      mm AS (
        SELECT vec_id, min(x) AS vmin, (max(x) - min(x)) / 255.0 AS scale
        FROM u GROUP BY vec_id),
      cc AS (
        SELECT u.vec_id,
               CASE WHEN scale = 0 THEN 0
                    ELSE CAST(round((x - vmin) / scale, 0) AS INT) END AS code,
               CASE WHEN scale = 0 THEN 0.0
                    ELSE abs(x - (vmin + round((x - vmin) / scale, 0) * scale)) END AS err
        FROM u JOIN mm ON u.vec_id = mm.vec_id)
      SELECT vec_id, CAST(count(*) AS BIGINT) AS n_codes,
             CAST(min(code) AS BIGINT) AS code_min,
             CAST(max(code) AS BIGINT) AS code_max,
             round(max(err), 6) AS max_abs_err,
             round(sum(err) / count(*), 6) AS mean_abs_err
      FROM cc GROUP BY vec_id"""),
    // End-to-end corpus curation map: cluster documents by embedding
    // (the same deterministic k-means schedule as emb_kmeans), then
    // profile each cluster from the document table — the "what is in
    // my corpus" step of training-data curation, composed entirely
    // from existing operators in one Catalyst plan.
    // SSP prototypicality pruning (Sorscher et al.): same Lloyd
    // schedule as emb_kmeans, per-cluster hardness rank by ASCENDING
    // centroid similarity, keep the hardest half of every cluster.
    "emb_ssp_prune" -> Query((s, dir) =>
      Sampling.prototypePrune(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iterations = 3, hardFraction = 0.5),
      // SSP pruning: same Lloyd CTE chain + sim-keeping assignment,
      // hardness rank ASCENDING, per-cluster ceil(n/2) keep budget.
      s"""
      WITH $kmeansCtes,
      $kmeansAssignSimCte,
      ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY sim ASC, vec_id) AS rnk,
               count(*) OVER (PARTITION BY cell) AS n
        FROM a4s)
      SELECT vec_id, CAST(cell AS BIGINT) AS cluster,
             CAST(rnk AS BIGINT) AS hardness_rank,
             rnk <= ceil(n * 0.5) AS kept
      FROM ranked"""),
    "corpus_cluster_profile" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 8, iterations = 3)
      Similarity
        .nearestCentroid(emb, "vec_id", "embedding", cb)
        .join(docs, col("vec_id") === col("doc_id"))
        .groupBy(col("assigned").cast("long").as("cluster"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"))
    }, s"""
      WITH $kmeansCtes, ${kmeansAssignCte("c3", "a4")}
      SELECT CAST(cell AS BIGINT) AS cluster,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
             CAST(sum(d.n_chars) AS BIGINT) AS total_chars
      FROM a4 JOIN documents d ON d.doc_id = a4.vec_id
      GROUP BY cell"""),
    // Embedding-distribution drift: per-label centroid shift between
    // the even- and odd-keyed corpus halves — the vector-space
    // companion of the scalar PSI monitor.
    "emb_centroid_drift" -> Query((s, dir) =>
      Similarity.centroidDrift(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        col("vec_id") % 2 === 0),
      s"""
      WITH b AS (
        SELECT label, vec_id % 2 = 0 AS is_old,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings),
      m AS (SELECT label, is_old, pos, ${exactMeanSql("x")} AS m FROM b GROUP BY 1, 2, 3),
      d AS (
        SELECT o.label,
               CAST(round((o.m - n.m) * (o.m - n.m), 12) AS DECIMAL(28,12)) AS d2
        FROM m o JOIN m n ON o.label = n.label AND o.pos = n.pos
        WHERE o.is_old AND NOT n.is_old),
      c AS (
        SELECT label,
               CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
               CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_new
        FROM embeddings GROUP BY label)
      SELECT d.label, sqrt(CAST(sum(d2) AS DOUBLE)) AS centroid_shift, n_old, n_new
      FROM d JOIN c ON c.label = d.label
      GROUP BY d.label, n_old, n_new"""),
    // Centrality over the similarity graph: PageRank on the directed
    // 3-NN cosine graph — "which vectors are central" for
    // representative selection. Edge list pinned once (the expensive
    // kNN must not re-run per PR iteration); the fixed-point integer
    // iteration schedule is unrolled into the oracle.
    "graph_pagerank" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      Graph.pageRank(edges, dampingPct = 85, iterations = 3)
        .select(col("id").as("node_id"), col("pr_units"), col("pagerank"))
    }, pageRankOracleSql),
    // Full-scale iterative gate: the SAME fixed-point PageRank over a
    // LINEARLY-built graph — the order↔part incidence edges of
    // lineitem (both directions, multi-edges kept as weights) — so the
    // 3-round join+aggregate machinery is oracle-checkable at sf10's
    // 60 M lineitem rows where the kNN edge demo (quadratic by
    // construction) cannot be. Part ids offset into a disjoint space.
    "graph_pagerank_bipartite" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
      val fwd = li.select(
        col("l_orderkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000000000L).as("dst"))
      // NOTE (r11 optimization round): pinning this edge list was
      // paired-A/B'd and REJECTED (+0.3 s here, +1.3 s on the
      // label-prop twin) — the 56 lineitem scans in the static plan
      // are deduplicated at runtime by AQE exchange reuse, so the pin
      // only adds a materialization job.
      val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, dampingPct = 85, iterations = 3)
        .select(col("id").as("node_id"), col("pr_units"), col("pagerank"))
    }, pageRankBipartiteOracleSql),
    // Same linear edge source for the label-prop iterative machinery:
    // every 7th part seeds its `p_partkey % 5` class; two clamped
    // majority-vote rounds spread labels across orders and back.
    "graph_label_prop_bipartite" -> Query((s, dir) => {
      val li = t(s, dir, "lineitem")
      val fwd = li.select(
        col("l_orderkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000000000L).as("dst"))
      val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t(s, dir, "part").where(col("p_partkey") % 7 === 0)
        .select(
          (col("p_partkey").cast("long") + 1000000000000L).as("id"),
          (col("p_partkey") % 5).cast("long").as("label"))
      Graph.labelPropagation(edges, seeds, iterations = 2)
        .select(col("id").as("node_id"), col("label"))
    }, labelPropBipartiteOracleSql),
    // Similarity-graph quality audit: per-node triangles + local
    // clustering coefficient over the undirected 3-NN graph.
    "graph_triangles" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      Graph.triangleStats(edges).withColumnRenamed("id", "node_id")
    }, triangleOracleSql),
    // Label-noise audit: fraction of each vector's 10 cosine-NN that
    // share its label; low consistency flags probable annotation noise.
    "emb_label_consistency" -> Query((s, dir) =>
      Similarity.labelConsistency(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 10), labelConsistencyOracleSql),
    // Weak supervision: spread the 10% ground-truth labels (vec_id <
    // 50) over the 3-NN cosine graph by 2 rounds of clamped majority
    // vote — integer votes, smaller-label tiebreak, bit-reproducible.
    "graph_label_prop" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      val seeds = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("id"), col("label"))
      Graph.labelPropagation(edges, seeds, iterations = 2)
        .select(col("id").as("node_id"), col("label"))
    }, labelPropOracleSql),
    // Link prediction on the 3-NN similarity graph: non-adjacent pairs
    // at distance 2 scored by common-neighbor count + fixed-point
    // Jaccard — "which near-dup edges did the kNN budget miss".
    "graph_link_predict" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      Graph.linkPrediction(edges, minCommon = 2)
    }, linkPredictOracleSql),
    // Offline HNSW hierarchy: integer-geometric levels (P(l≥1)=1/4),
    // per-layer 3-NN graphs over the level-filtered corpus — the
    // batch-built layered index a server would mmap.
    "emb_hnsw_build" -> Query((s, dir) =>
      Graph.hnswBuild(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 3, maxLevel = 3), hnswOracleSql),
    // The declared 100 TB candidate swap, realized and gated: IVF
    // probes feed the SAME diverse prune, and probing every cell
    // (nProbe >= the 10 label cells) must reproduce the brute-built
    // hierarchy EXACTLY — held to the brute oracle, exactly as
    // emb_knn_ivf is held to knnBruteForce. Partial-probe structure
    // and probed-cell containment are spec territory (GraphSpec).
    "emb_hnsw_ivf_build" -> Query((s, dir) =>
      Graph.hnswBuildIvf(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        k = 3, maxLevel = 3, nProbe = 1000),
      // full probe == brute candidates => the IVF-built hierarchy must
      // hash-equal the brute oracle (same discipline as emb_knn_ivf)
      hnswOracleSql),
    // Deterministically capped twins: the 4-layer build/search
    // machinery over `vec_id % ((n+1999) div 2000) == 0` — the full
    // space at driver SFs (modulus 1), a bounded 2000-vector slice of
    // generated scale-ups, so the quadratic all-pairs oracle stays
    // tractable at sf10 while the machinery runs on genuine sf10 rows.
    "emb_hnsw_build_sampled" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val kmod = (emb.count() + 1999L) / 2000L
      Graph.hnswBuild(
        emb.where(col("vec_id") % kmod === 0), "vec_id", "embedding",
        k = 3, maxLevel = 3)
    }, hnswSampledOracleSql),
    "emb_hnsw_search_sampled" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val kmod = (emb.count() + 1999L) / 2000L
      val sp = emb.where(col("vec_id") % kmod === 0)
      Graph.hnswSearchReplay(
        sp, "vec_id", "embedding",
        sp.where(col("vec_id") < 10L * kmod), k = 3, kBuild = 3, maxLevel = 3)
    }, hnswSearchSampledOracleSql),
    // Greedy-descent replay over the built hierarchy: global entry,
    // one step per upper layer, two-hop layer-0 frontier, exact top-3
    // among candidates — validates the artifact navigates.
    "emb_hnsw_search" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Graph.hnswSearchReplay(
        emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 10), k = 3, kBuild = 3, maxLevel = 3)
    }, hnswSearchOracleSql),
    // hnswlib saveIndex serialization (the reference's deployable
    // serving artifact): build the hierarchy, WRITE the binary file,
    // re-parse it with the independent reader, and emit per-level
    // stats computed FROM THE PARSED BYTES. The oracle re-derives the
    // same numbers from first principles — node/edge counts from the
    // level + diverse-neighbor CTEs, and the exact file byte count
    // from hnswlib's layout arithmetic — so a drifting serializer
    // (wrong field width, missing pad, dropped edge) hash-mismatches.
    // the IVF-probed candidate source IS the exported path: nProbe
    // (1000) >= the 10 label cells makes the probe exhaustive, so the
    // artifact is byte-identical to the brute-candidate export
    // (HnswExportSpec asserts the file bytes) and the from-first-
    // principles oracle gates the production build shape — nothing in
    // the export plan is quadratic in the corpus
    "emb_hnsw_export" -> Query((s, dir) =>
      hnswExportStats(s, t(s, dir, "embeddings"), "full"), hnswExportOracleSql),
    // Deterministically capped export twin (the emb_hnsw_*_sampled
    // discipline): the SAME serialize-parse-gate machinery over the
    // `vec_id % ((n+1999) div 2000) = 0` slice — the full space at
    // driver SFs (modulus 1, equal to emb_hnsw_export), a bounded
    // 2000-vector slice of generated scale-ups, so the hnswlib ARTIFACT
    // itself (byte count included) is oracle-gateable at sf10.
    "emb_hnsw_export_sampled" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val kmod = (emb.count() + 1999L) / 2000L
      hnswExportStats(s, emb.where(col("vec_id") % kmod === 0), "sampled")
    }, hnswExportSampledOracleSql),
    // Dense-core extraction: 3 synchronized peeling rounds at k=3 over
    // the undirected 3-NN graph; survivors + residual degree.
    "graph_kcore" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      Graph.kcorePeel(edges, k = 3, rounds = 3)
    }, kcoreOracleSql)
  )
}
