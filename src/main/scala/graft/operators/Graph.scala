package graft.operators

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.CentroidTable

/** Graph analytics over derived similarity graphs — the curation step
  * AFTER near-dup/kNN edges exist: connected components (see
  * [[Dedup.connectedComponents]]) answers "which docs are the same",
  * PageRank answers "which docs are central" (representative-document
  * selection, seed ranking for active curation).
  *
  * Scale shape: one iteration = one join edges⋈pr on src (shuffle on
  * the edge key) + one map-side-combined aggregation on dst + a
  * broadcast of the 1-row node-count — the textbook distributed PR
  * round. Iterations chain as Catalyst plans; pin ([[Pins]]) the edge
  * list once — callers building edges from an expensive kNN should
  * pass a pinned frame. Every per-round pin below goes through
  * [[Pins.pin]], so `graft.pins.durable=true` upgrades the whole
  * loop to fault-tolerant reliable checkpoints on a real cluster.
  *
  * Exactness: FIXED-POINT INTEGER arithmetic. Rank mass lives as a
  * BIGINT count of 1e-12 units and every transfer is a truncating
  * integer division — no floating point anywhere in the iteration, so
  * the schedule is bit-reproducible in any engine and under any
  * partitioning / summation order (a double formulation compounds a
  * round-half boundary per term per round; integer units make the
  * question disappear). Truncation loses < 1 unit (1e-12) per term —
  * immaterial next to the teleport mass.
  */
object Graph {

  /** 1 unit = 1e-12 of total rank mass. */
  val Units: Long = 1000000000000L

  /** Directed kNN edge list: src → its top-k cosine neighbors. The demo
    * edge builder runs exact brute force (broadcast queries); at corpus
    * scale swap in the IVF-PQ probe ([[Quantization.probeIvfPq]]) —
    * PageRank below is agnostic to how edges were built.
    */
  def knnGraph(space: DataFrame, keyCol: String, vecCol: String, k: Int): DataFrame =
    Similarity
      .knnBruteForce(space, space, keyCol, vecCol, k)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))

  /** Semi-supervised label propagation (the Zhu–Ghahramani 2002
    * hard-clamp variant) over a directed edge list: seed nodes keep
    * their label forever; each round every node adopts the majority
    * label among its in-neighbors' current labels (unlabeled
    * neighbors abstain; a node with no labeled in-neighbors keeps its
    * current label), ties break on the smaller label. Spreads scarce
    * ground-truth labels over the similarity graph — weak supervision
    * for corpus annotation at scale.
    *
    * Scale/exactness shape: one round = one join edges⋈labels on src
    * + one integer vote aggregation + a per-node argmax window
    * (partitioned on the node, never global). Votes are integer
    * counts with a total tiebreak, so the whole schedule is
    * bit-reproducible — no float, no RNG.
    *
    * `edges`: (src, dst). `seeds`: (id, label). Output: every node
    * with its label after `iterations` rounds (null = never reached).
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
    val seed = seeds.select(col("id"), col("label").cast("long").as("sl"))
    // Carry the clamp label `sl` IN the loop frame (r11 optimization):
    // the old round re-derived nodes ⋈ seed from scratch every
    // iteration (a union+distinct over the edge list plus a seed join
    // per round) only to re-read the constant sl column. Carrying it
    // costs one long per node row and removes 2 joins + the
    // node-derivation subtree from every round; the per-round label
    // rule coalesce(sl, win, prev) is evaluated identically (paired
    // A/B at sf0.1: −0.7 s on the kNN graph, −1.1 s on the bipartite
    // lineitem graph; per-query Spark job count 29 → 23).
    val init = nodes
      .join(seed, Seq("id"), "left")
      .select(col("id"), col("sl"), col("sl").as("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("votes").desc, col("nl"))
    (1 to iterations).foldLeft(init) { (prev, _) =>
      // pin: each round reads the label frame twice (vote source +
      // prev-label fallback), so the unpinned plan grows 2^iterations
      // subtrees (the hnswSearchReplay lesson). At the default 3
      // rounds the A/B is a wash (the pinned kNN edges dominate);
      // the checkpoint is the asymptotic guard for deeper schedules.
      val cur = prev.pinned()
      val votes = edges
        .join(
          cur.select(col("id").as("src"), col("label").as("nl")).where(col("nl").isNotNull),
          "src")
        .groupBy(col("dst").as("id"), col("nl"))
        .agg(count(lit(1)).as("votes"))
      val winner = votes
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("id"), col("nl").as("win"))
      cur
        .join(winner, Seq("id"), "left")
        .select(
          col("id"), col("sl"),
          coalesce(col("sl"), col("win"), col("label")).as("label"))
    }.select(col("id"), col("label"))
  }

  /** PageRank with teleport `1 - damping`, no dangling-mass
    * redistribution (dangling nodes leak their mass — the common
    * practical simplification; a kNN graph has uniform out-degree k
    * and no dangling nodes at all). `dampingPct` is the damping factor
    * in integer percent (85 = 0.85) so the damped transfer stays in
    * exact integer arithmetic. Returns every node with its rank after
    * `iterations` rounds from the uniform start, as both raw units and
    * the double `pagerank` (exact: units < 2^53).
    */
  def pageRank(edges: DataFrame, dampingPct: Int, iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct > 0 && dampingPct < 100, "dampingPct must be in (0,100)")
    // NOTE (r11 optimization round): pinning the shared per-round
    // frames (nodes, outdeg) was paired-A/B'd and REJECTED — AQE's
    // runtime exchange reuse already evaluates the identical subtrees
    // once per action, so the extra localCheckpoint jobs only added
    // wall time (+0.9 s on the bipartite edge list at sf0.1).
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct()
    val nStats = nodes.agg(count(lit(1)).as("nn"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    // r12 optimization: the iterated state carries each node's
    // out-degree, joined ONCE up front (null for sinks — a sink is
    // never a contrib src, so its od is never consulted), and each
    // round is ONE join + ONE aggregate instead of three joins + one:
    // the old round was pr ⋈ edges ⋈ outdeg → agg → nodes-left-join.
    // The nodes-left-join (which re-read the constant node set just to
    // default missing sums to 0) is folded into the edge list as
    // zero-weight SELF-LOOP rows, one per node: a self-loop row joins
    // the state like any edge but emits c = 0, so every node reaches
    // the aggregate and sum over {0} ∪ contribs equals the old
    // coalesce(sum(contribs), 0). The self-loop row also re-carries
    // the node's out-degree through max(od) (contrib rows carry null;
    // each group holds exactly one self-loop row — its own). The
    // state is consumed exactly ONCE per round (the single join), so
    // plan depth stays LINEAR in iterations — a two-branch
    // state-union form was measured equally fast at 3 rounds but its
    // lineage doubles per round (the exponential-consumption trap the
    // r11 hnswSearchReplay rewrite removed). Arithmetic per node is
    // unchanged (same integer div schedule), so the fixed-point
    // trajectory — and the oracle hash — is identical.
    val st0 = nodes
      .join(outdeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .crossJoin(broadcast(nStats))
      .select(col("id"), expr(s"${Units}L div nn").as("pr"), col("od"))
    val loops = edges.select(col("src"), col("dst"), lit(false).as("zl"))
      .unionByName(nodes.select(
        col("id").as("src"), col("id").as("dst"), lit(true).as("zl")))
    val teleport = expr(s"${(100 - dampingPct)} * ${Units}L div 100 div nn")
    val last = (1 to iterations).foldLeft(st0) { (st, _) =>
      loops
        .join(st.withColumnRenamed("id", "src"), "src")
        .select(
          col("dst").as("id"),
          when(col("zl"), lit(0L)).otherwise(expr("pr div od")).as("c"),
          when(col("zl"), col("od")).as("odc"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("s"), max(col("odc")).as("od"))
        .crossJoin(broadcast(nStats))
        .select(
          col("id"),
          (teleport + expr(s"$dampingPct * coalesce(s, 0L) div 100")).as("pr"),
          col("od"))
    }
    last.select(
      col("id"),
      col("pr").as("pr_units"),
      (col("pr") / lit(Units.toDouble)).as("pagerank"))
  }

  /** Per-node triangle count + local clustering coefficient over the
    * UNDIRECTED view of a directed edge list. High clustering marks
    * tight near-dup/topic communities in a kNN graph; lcc ~ 0 at high
    * degree marks hubs bridging unrelated content — both standard
    * graph-quality signals when auditing a similarity graph before
    * using it for label propagation or dedup.
    *
    * Shape: canonicalize to a<b pairs (mutual kNN edges collapse via
    * distinct), then count each triangle once by joining edge pairs
    * (a,b)⋈(b,c) and closing against (a,c) with a<b<c. Work is
    * sum-of-degree² on the join key — bounded at degree <= 2k for kNN
    * graphs; for general graphs orient edges low-degree → high-degree
    * first (the standard compact-forward bound, same join shape). The
    * coefficient is one IEEE division of two exact integers at output
    * (raw double — never round a ratio for cross-engine output).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val deg = und
      .select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val tri = und.as("x")
      .join(und.as("y"), col("x.b") === col("y.a"))
      .join(und.as("z"), col("x.a") === col("z.a") && col("y.b") === col("z.b"))
      .select(col("x.a").as("ta"), col("x.b").as("tb"), col("y.b").as("tc"))
    val perNode = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    deg
      .join(perNode, Seq("id"), "left")
      .select(
        col("id"),
        col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Link prediction by common-neighbor evidence: score every
    * NON-adjacent pair at distance 2 in the undirected graph by its
    * common-neighbor count and fixed-point Jaccard overlap of the two
    * neighborhoods (`|N(a)∩N(b)| / |N(a)∪N(b)|` in integer micro-units
    * — exact, engine-portable). The "which near-dup edges did LSH
    * miss" / "which docs should be reviewed as probable pairs" query
    * over a similarity graph.
    *
    * Scale shape: candidates come from the wedge join (adjacency ⋈
    * adjacency on the shared center), so the work is Σ_w deg(w)² —
    * bounded by the max degree of the graph (k for a kNN graph), never
    * all-pairs. One shuffle on the center key, one map-side-combined
    * count on the (a,b) pair, an anti-join against the edge list, two
    * broadcast-size degree joins.
    */
  def linkPrediction(edges: DataFrame, minCommon: Int): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val adj = und.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("id"), col("a").as("nb")))
    val deg = adj.groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val candidates = adj.as("x")
      .join(adj.as("y"), col("x.id") === col("y.id") && col("x.nb") < col("y.nb"))
      .select(col("x.nb").as("a"), col("y.nb").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
      .join(und, Seq("a", "b"), "left_anti")
    candidates
      .join(deg.select(col("id").as("a"), col("degree").as("deg_a")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("degree").as("deg_b")), Seq("b"))
      .select(
        col("a"), col("b"), col("common"),
        expr("common * 1000000 div (deg_a + deg_b - common)").as("jaccard_micro"))
  }

  /** Offline HNSW layer build — the batch half of the reference's
    * actual serving index (embeddinghub/embeddingstore/index.h uses
    * hnswlib's HierarchicalNSW; online insertion/search stays with
    * specialized engines as BASELINE.md documents). Each node draws a
    * geometric level with P(level ≥ l) = 4^-l from a PURE-INTEGER
    * hash rule (count of trailing base-4 zeros of an md5-derived
    * 60-bit hash — no float boundary anywhere, bit-reproducible in
    * SQL), and every layer l gets the DIVERSE-neighbor graph among
    * nodes with level ≥ l: top-2k candidates pruned by hnswlib's
    * dominance heuristic ([[diverseNeighbors]]) to ≤ k edges — exactly
    * the layered navigable-small-world structure (edge rule included)
    * a server would mmap and search greedily top-down.
    *
    * Scale shape: layer 0 is one kNN build over the corpus (swap in
    * the IVF-PQ probe at 100 TB, as with [[knnGraph]]) plus a bounded
    * per-node prune; every higher layer shrinks 4×, so the whole
    * hierarchy costs ~4/3 of layer 0.
    */
  /** The level draw shared by build and search: P(level ≥ l) = 4^-l
    * via trailing base-4 zeros of an md5 60-bit hash. Returns the
    * space with a `level` column, pinned (the build touches it once
    * per layer).
    */
  def hnswLevels(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      maxLevel: Int
  ): DataFrame = {
    require(maxLevel >= 1 && maxLevel <= 8, s"maxLevel out of range: $maxLevel")
    val h = graft.functions.TextFunctions.md5Long60(
      concat(lit("hnsw:"), col(keyCol).cast("string")))
    var level: Column = lit(0L)
    for (l <- 1 to maxLevel)
      level = when(pmod(h, lit(math.pow(4, l).toLong)) === 0, l.toLong).otherwise(level)
    space
      .select(col(keyCol), col(vecCol), level.as("level"))
      .pinned()
  }

  /** hnswlib's diverse-neighbor selection heuristic, batch-expressed —
    * getNeighborsByHeuristic2 of Malkov & Yashunin (TPAMI'18; the
    * reference's serving index is hnswlib HierarchicalNSW,
    * embeddinghub/embeddingstore/index.h:29, which applies exactly
    * this rule at insert time): walk the candidate pool in
    * nearest-first order and KEEP a candidate only if it is at least
    * as close to the base node as to every already-kept neighbor
    * (keep c iff ∀ kept j: sim(c, j) <= sim(base, c); ties keep, the
    * similarity transcription of hnswlib's `curdist < dist_to_query`
    * discard). Dominated candidates — ones "behind" a kept neighbor —
    * lose their slot, so kept edges spread across DIRECTIONS instead
    * of piling into the densest cluster; this is what makes the
    * layered graph navigable on clustered corpora, where pure kNN
    * edges stay cluster-internal and a greedy walk can never leave
    * the entry's cluster (measured: GraphSpec's clustered-fixture
    * recall rises from 9/18 with plain kNN layers to the
    * smooth-manifold floor with this rule). After the scan, discarded
    * candidates backfill in distance order until m edges — the
    * paper's `keepPrunedConnections` arm of Algorithm 4 (hnswlib
    * exposes the same flag); the batch build uses it because a
    * degree-m graph is what the replay's fixed step budget is sized
    * for, and pruning-without-backfill measurably starves navigation
    * (without backfill the smooth-manifold fixture fell to 10/18 —
    * the circle's 2nd-ring candidates are all dominated, so degree
    * collapsed to 2 and the fixed step budget starved).
    *
    * Scale shape: one exact top-candK search (swap in the IVF-PQ
    * probe at corpus scale), one vector re-attach join, then ONE
    * aggregate per node over its bounded candidate pool (candK
    * entries; the sequential dominance scan is an `aggregate` HOF
    * fold touching ≤ m·candK pairwise sims per node, every one
    * computed by the graft_cosine kernel itself so the oracle's SQL
    * sums reproduce each comparison bit-for-bit, and no ScalaUDF
    * enters the plan).
    */
  def diverseNeighbors(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      candK: Int
  ): DataFrame =
    diverseNeighborLists(space, keyCol, vecCol, m, candK)
      .select(col("query_id").as("src"), explode(col("dsts")).as("dst"))

  /** [[diverseNeighbors]] with the per-node link list kept as an ORDERED
    * array (kept-first in scan order, then the keepPrunedConnections
    * backfill in rank order) instead of exploded edge rows — the shape
    * the hnswlib serializer ([[HnswExport]]) needs, because the on-disk
    * link list is order-significant. Exploding this is exactly
    * [[diverseNeighbors]]: the fold never emits an empty list for a
    * node that has candidates, and nodes without candidates produce no
    * row either way.
    */
  def diverseNeighborLists(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      candK: Int
  ): DataFrame = {
    require(m >= 1 && candK >= m, s"need candK >= m >= 1, got m=$m candK=$candK")
    diverseFromCandidates(
      space, keyCol, vecCol, m,
      Similarity.knnBruteForce(space, space, keyCol, vecCol, candK))
  }

  /** The diverse-neighbor prune over an EXPLICIT candidate frame
    * (`cands`: query_id, neighbor_id, rank — any top-candK source).
    * This is the seam the 100 TB story turns on: [[diverseNeighborLists]]
    * plugs in brute force (the recall oracle), [[hnswBuildIvf]] plugs in
    * the IVF probe — the prune itself never changes.
    */
  private[operators] def diverseFromCandidates(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      cands: DataFrame
  ): DataFrame = {
    val vq = space.select(col(keyCol).as("query_id"), col(vecCol).as("_qv"))
    val vn = space.select(col(keyCol).as("neighbor_id"), col(vecCol).as("_nv"))
    val chosen = diverseChosen(m)
    cands
      .join(vn, "neighbor_id")
      .groupBy(col("query_id"))
      // sort_array on (rank, …) replays hnswlib's nearest-first scan
      // order deterministically regardless of collect_list layout
      .agg(sort_array(collect_list(struct(
        col("rank"), col("neighbor_id").cast("long").as("id"), col("_nv").as("v")))).as("pool"))
      .join(vq, "query_id")
      .select(col("query_id"), chosen.as("dsts"))
  }

  /** The hnswlib dominance-scan fold as a Column over a sorted `pool`
    * array and the query vector `_qv` — shared verbatim by
    * [[diverseFromCandidates]].
    *
    * The native graft_cosine kernel everywhere a similarity is
    * compared — comparisons are bit-identical to the oracle's
    * index-ordered SQL sums, and NO ScalaUDF enters the plan (the
    * sequential scan is an `aggregate` HOF fold over the ≤candK pool;
    * PlanLintSpec holds every query to the no-UDF bar).
    */
  private def diverseChosen(m: Int): Column = {
    def cos(a: Column, b: Column) = graft.functions.VectorFunctions.cosine(a, b)
    // fold state: kept ids + their vectors (parallel arrays, ≤ m) and
    // discarded ids in scan order (for the keepPrunedConnections
    // backfill); scan order is the sort_array rank order
    val zero = struct(
      typedlit(Array.empty[Long]).as("kid"),
      typedlit(Array.empty[Array[Float]]).as("kvec"),
      typedlit(Array.empty[Long]).as("did"))
    def step(acc: Column, cand: Column): Column = {
      val sBase = cos(col("_qv"), cand("v"))
      val dominated = exists(acc("kvec"), kv => cos(cand("v"), kv) > sBase)
      when(size(acc("kid")) >= m, acc)
        .when(
          dominated,
          struct(
            acc("kid").as("kid"), acc("kvec").as("kvec"),
            array_append(acc("did"), cand("id")).as("did")))
        .otherwise(struct(
          array_append(acc("kid"), cand("id")).as("kid"),
          array_append(acc("kvec"), cand("v")).as("kvec"),
          acc("did").as("did")))
    }
    aggregate(
      col("pool"), zero, step,
      acc => slice(concat(acc("kid"), acc("did")), 1, m))
  }

  def hnswBuild(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int,
      maxLevel: Int
  ): DataFrame = {
    val leveled = hnswLevels(space, keyCol, vecCol, maxLevel)
    // NOTE (r11 optimization round): a one-pass "layered" build — score
    // all pairs once, explode each pair to layers 0..min(level_q,
    // level_n), one bounded heap grouped by (query, layer) — was
    // implemented and paired-A/B'd against this per-layer union
    // (AbProbe, alternating arms in one JVM to cancel host drift). It
    // was a wash to slightly SLOWER: the geometric layer sizes make the
    // extra per-layer passes cost only ~Σ4^-2l ≈ 7% more scoring work,
    // while the exploded stream pushes ~4/3 of the pair rows through
    // the heap (~25% more heap insertions). Keeping the simpler
    // per-layer shape.
    (0 to maxLevel)
      .map { l =>
        diverseNeighbors(leveled.where(col("level") >= l), keyCol, vecCol, k, 2 * k)
          .select(lit(l.toLong).as("level"), col("src"), col("dst"))
      }
      .reduce(_ unionAll _)
  }

  /** [[hnswBuild]] with the candidate stage every docstring in this
    * family promises at corpus scale: per-node top-candidates come from
    * an IVF PROBE instead of the all-pairs brute search, so layer 0
    * costs ~(nProbe / nCells) of the pairwise work and NOTHING in the
    * plan is quadratic in the corpus. The diverse-neighbor prune, the
    * level rule, and the layer structure are IDENTICAL to the brute
    * build ([[diverseFromCandidates]] is shared); with nProbe >= the
    * cell count the probe degenerates to exact brute candidates and
    * the built hierarchy must EQUAL [[hnswBuild]]'s edge for edge —
    * that equality is the driver gate (emb_hnsw_ivf_build reuses the
    * brute oracle), mirroring how emb_knn_ivf is held to brute
    * equality; the lossy partial-probe trade-off is spec territory.
    *
    * Self-join probe shape — the part that matters at 100 TB: the
    * query side IS the corpus, so nothing query-sized is ever
    * broadcast. Centroids (bounded: one per cell) are collected once;
    * each node's cell and its nProbe probe cells are narrow projections
    * through the native nearest-centroid kernels (no node x cell rows);
    * candidates come from ONE shuffle hash join of probes against
    * cell-keyed corpus rows; the per-node top-candK is the bounded
    * heap. Work:
    * Σ_cells |probes into cell| × |cell| — the IVF contract, tunable
    * by nProbe/nCells, priced by cell statistics before running.
    *
    * `cellCol` supplies the coarse cells (a data column here; swap in
    * [[Similarity.kmeansCodebook]] assignment for learned cells — the
    * probe below only sees (centroid_id, centroid) either way).
    */
  def hnswBuildIvf(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      cellCol: String,
      k: Int,
      maxLevel: Int,
      nProbe: Int
  ): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    // coarse quantizer trained ONCE over the full space (layer 0),
    // collected once by the candidate source
    val cents = Similarity.centroids(space, cellCol, vecCol)
    val leveled = hnswLevels(space, keyCol, vecCol, maxLevel)
    val source = ivfCandidateSource(keyCol, vecCol, cents, nProbe)
    (0 to maxLevel)
      .map { l =>
        val sub = leveled.where(col("level") >= l)
        diverseFromCandidates(sub, keyCol, vecCol, k, source(sub, 2 * k))
          .select(col("query_id").as("src"), explode(col("dsts")).as("dst"))
          .select(lit(l.toLong).as("level"), col("src"), col("dst"))
      }
      .reduce(_ unionAll _)
  }

  /** The IVF probe as a PLUGGABLE candidate source: a
    * (level-filtered space, candK) => top-candK candidate frame closure
    * in the exact shape [[diverseFromCandidates]] consumes — the probe
    * [[hnswBuildIvf]] runs, factored out so any hierarchy consumer
    * ([[HnswExport.exportIndex]] in particular) builds without the
    * all-pairs brute stage. `cents` is collected once, here; every level
    * assigns its nodes to cells and picks their nProbe cells through
    * that one table ([[Similarity.probeCells]]: best cosine first, ties
    * and ±0.0 to the smaller cell id, null scores last). A node whose
    * cosine is null against every centroid probes the first cells, and
    * its null-scored candidates are dropped by the final heap. At
    * nProbe >= the cell count the probe is exhaustive and the ranked
    * candidates EQUAL [[Similarity.knnBruteForce]]'s (same bounded-heap
    * ranking, same self-exclusion), which is what both gates hold it
    * to: emb_hnsw_ivf_build's brute-oracle edge equality and
    * HnswExportSpec's byte-identical-artifact assertion.
    */
  def ivfCandidateSource(
      keyCol: String,
      vecCol: String,
      cents: DataFrame,
      nProbe: Int
  ): (DataFrame, Int) => DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")
    val table = CentroidTable.collect(cents, "centroid_id", "centroid")
    (sub: DataFrame, candK: Int) => {
      val corpusCells = Similarity.nearestCentroidWithVec(sub, keyCol, vecCol, table)
        .select(
          col("vec_id").as("neighbor_id"), col("v").as("n_vec"),
          col("assigned").as("cell"))
      val scored = Similarity.probeCells(sub, keyCol, vecCol, table, nProbe)
        .join(corpusCells, Seq("cell")) // the ONE corpus-sized shuffle join
        .where(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", graft.functions.VectorFunctions.cosine(col("q_vec"), col("n_vec")))
      Similarity.topKPerGroup(scored, "query_id", "sim", "neighbor_id", candK)
    }
  }

  /** Bounded greedy-descent replay over a built HNSW hierarchy — the
    * batch emulation of the serving engine's search, validating that
    * the shipped artifact ([[hnswBuild]]) actually navigates: start at
    * the GLOBAL entry point (highest level, smallest key), take TWO
    * greedy steps per upper layer (argmax cosine over beam ∪ layer
    * neighbors — a fixed step budget keeps the plan static, where
    * true HNSW iterates to local convergence), then run THREE
    * beam-search rounds of width max(k,5) at layer 0 (the ef-search
    * analog) and return the exact top-k of the final beam. Everything
    * is deterministic: ties break (sim desc, key asc); the query
    * itself is excluded from candidacy (queries are corpus members
    * here).
    *
    * Scale shape: the hierarchy is built once (layer-0 kNN dominates);
    * per query each step touches ≤ width·(1+k) candidate rows —
    * broadcast-sized frames joined against the pinned edge list,
    * never a corpus scan per query.
    *
    * Navigability: layers are built with hnswlib's diverse-neighbor
    * heuristic ([[diverseNeighbors]]), which is what makes the walk
    * viable on strongly clustered corpora — pure kNN layers keep all
    * edges cluster-internal and strand the walk in the entry's
    * cluster (measured in GraphSpec: clustered-fixture recall 9/18
    * with kNN layers → the smooth-manifold floor with the heuristic).
    */
  def hnswSearchReplay(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      queries: DataFrame,
      k: Int,
      kBuild: Int,
      maxLevel: Int
  ): DataFrame = {
    val leveled = hnswLevels(space, keyCol, vecCol, maxLevel)
    val edges = (0 to maxLevel)
      .map { l =>
        diverseNeighbors(
          leveled.where(col("level") >= l), keyCol, vecCol, kBuild, 2 * kBuild)
          .select(lit(l.toLong).as("level"), col("src"), col("dst"))
      }
      .reduce(_ unionAll _)
      .pinned()
    val vecs = leveled.select(col(keyCol).as("vid"), col(vecCol).as("v"))
    val entry = leveled
      .orderBy(col("level").desc, col(keyCol))
      .limit(1)
      .select(col(keyCol).as("cur"))
    val q = queries.select(col(keyCol).as("query_id"), col(vecCol).as("q_vec"))
    // beam = (query_id, q_vec, cur) rows, width grows to `beamWidth`
    // at layer 0 (the ef-search analog)
    def expand(prevBeam: DataFrame, lEdges: DataFrame, width: Int): DataFrame = {
      // SINGLE-consumption candidate generation (r11 optimization):
      // one LEFT OUTER join against the layer edges, then
      // explode(array(cur, dst)) recovers {cur} ∪ {cur's neighbors} —
      // exactly the set the old self-union built, row for row (a cur
      // with no edges keeps itself via the null-filtered explode; the
      // dedup and tie-breaks are unchanged). The union formulation
      // consumed the beam TWICE, which forced a localCheckpoint pin
      // per round (an unpinned chain of r rounds re-evaluates round 1
      // 2^r times — measured 53s at sf0.1 for 9 rounds). With one
      // consumer per round the whole replay is a LINEAR lazy plan:
      // no per-round pin, one job instead of 9 pin jobs + 1.
      val cands = prevBeam
        .join(lEdges, col("cur") === col("src"), "left_outer")
        .select(
          col("query_id"), col("q_vec"),
          explode(array(col("cur"), col("dst"))).as("cand"))
        .where(col("cand").isNotNull)
        .dropDuplicates("query_id", "cand")
      val scored = cands
        .where(col("cand") =!= col("query_id"))
        .join(vecs, col("cand") === col("vid"))
        .withColumn(
          "sim", graft.functions.VectorFunctions.cosine(col("q_vec"), col("v")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand"))
      scored
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= width)
        .select(col("query_id"), col("q_vec"), col("cand").as("cur"))
    }
    var beam = q.crossJoin(broadcast(entry))
    for (l <- maxLevel to 1 by -1) {
      val lEdges = edges.where(col("level") === l).select(col("src"), col("dst"))
      // width-3 beams (not pure greedy): upper layers are sparse, and
      // a width-1 walk strands queries in the entry's region when the
      // corpus is strongly clustered
      beam = expand(expand(beam, lEdges, 3), lEdges, 3)
    }
    val e0 = edges.where(col("level") === 0).select(col("src"), col("dst"))
    val beamWidth = math.max(k, 8)
    for (_ <- 1 to 3) beam = expand(beam, e0, beamWidth)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cur"))
    beam
      .join(vecs, col("cur") === col("vid"))
      .withColumn(
        "sim", graft.functions.VectorFunctions.cosine(col("q_vec"), col("v")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("cur").as("neighbor_id"), col("rank").cast("long"))
  }

  /** Bounded k-core peeling: `rounds` synchronized rounds of "drop
    * every node whose degree within the surviving subgraph is < k".
    * Returns the survivors with their residual in-subgraph degree —
    * the dense-core extraction that strips low-support fringe off a
    * similarity graph before expensive downstream work (full k-core is
    * this run to fixpoint; a fixed round budget keeps the plan static
    * and is how the batch job would actually be scheduled).
    *
    * Scale shape per round: two semi-joins of the edge list against
    * the shrinking survivor set (shuffle on a / on b) + one
    * map-side-combined degree count — no all-pairs step. The edge
    * list should be pinned by the caller; the survivor set shrinks
    * monotonically so later rounds are cheaper.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    def degrees(sub: DataFrame): DataFrame = sub
      .select(col("a").as("id"))
      .unionAll(sub.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("core_degree"))
    var sub = und
    var surviving = degrees(sub).where(col("core_degree") >= k)
    for (_ <- 2 to rounds) {
      // pin both per-round frames: `alive` probes two semi-joins and
      // the new `sub` feeds both the next round's joins and its degree
      // count — unpinned, the double consumption compounds 2^rounds
      // (the hnswSearchReplay lesson; a wash at 3 rounds where the
      // pinned edge build dominates, the guard for deeper peels).
      // alive is node-sized; sub is the (shrinking) surviving edges.
      val alive = surviving.select(col("id")).pinned()
      sub = sub
        .join(alive.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("id").as("b")), Seq("b"), "left_semi")
        .pinned()
      surviving = degrees(sub).where(col("core_degree") >= k)
    }
    surviving.select(col("id").as("node_id"), col("core_degree"))
  }
}
