package graft.operators

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.plans.CentroidTable

/** Embedding-space operators — the embeddinghub query surface
  * (reference: embeddinghub/embeddingstore/embedding_store.proto:
  * Set/Get/MultiGet/NearestNeighbor/Download; index.h = HNSW over a
  * cosine space) re-expressed for batch Spark.
  *
  * The reference answers NearestNeighbor from a single-node in-memory
  * HNSW graph. At 100TB an index that must fit one heap is the wrong
  * shape; the Spark-native paths are:
  *  - brute-force: broadcast the (small) query set against a full scan —
  *    one pass over the corpus, embarrassingly parallel, exact;
  *  - IVF: k centroids (tiny, broadcast), assign corpus rows to cells
  *    once, then probe only nProbe cells per query — the scan shrinks by
  *    ~k/nProbe while staying a plain partitioned join.
  */
object Similarity {

  /** MultiGet: key-list lookup. Keys are broadcast-joined (a key list is
    * small by construction), so the corpus scan stays pruned + parallel.
    */
  def multiGet(space: DataFrame, keyCol: String, keys: Seq[Long]): DataFrame =
    space.where(col(keyCol).isin(keys: _*))

  /** Upsert a vector delta into a space — the batch analog of the
    * reference's mutable Set/MultiSet write path
    * (reference: embeddinghub/embeddingstore/embedding_store.proto:13-16,
    * server.cc:113-135 upsert into the per-space rocksdb + index).
    * Last-writer-wins per key: every key in `delta` replaces its row in
    * `space`; unseen keys are inserts. `delta` must be one row per key
    * (dedupe a multi-write stream first with materializeLatest — that IS
    * MultiSet ordering).
    *
    * Scale: one left_anti join on the delta key set — broadcastable for
    * daily-delta sizes, plain shuffle join otherwise; the surviving
    * corpus rows stream through untouched. No global sort, no window.
    */
  def upsert(space: DataFrame, delta: DataFrame, keyCol: String): DataFrame =
    space
      .join(delta.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(delta)

  /** Exact top-k cosine neighbors for each query row.
    * `queries` must be small (it is collected-equivalent via broadcast).
    *
    * The top-k is the bounded-heap aggregate (graft.plans.TopKByScore)
    * with map-side partial combine — NOT a window sort, which would
    * shuffle every scored candidate. Per query the exchange carries
    * <= k rows per input partition.
    */
  def knnBruteForce(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int
  ): DataFrame =
    knnBruteForceBy(corpus, queries, keyCol, vecCol, k)(
      (q, n) => cosine(q, n))

  /** Range search — the vector-DB radius verb (FAISS range_search /
    * Milvus range filtering): ALL corpus vectors within a cosine
    * radius of each query, not a fixed k. The cheapest search plan
    * possible — broadcast queries × corpus scan + a filter, no window,
    * no shuffle at all; result size is data-dependent (the caller owns
    * the radius). The self-join version of this verb is the embedding
    * near-dup family (dedup_embedding*); this is the query-set form.
    */
  def rangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      minSim: Double
  ): DataFrame = {
    val q = broadcast(
      queries.select(col(keyCol).as("query_id"), col(vecCol).as("q_vec")))
    corpus
      .select(col(keyCol).as("neighbor_id"), col(vecCol).as("n_vec"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      // 6dp-round BEFORE the threshold so the in/out decision is
      // engine-exact (same guard as clipPairCuration's gate)
      .withColumn("sim", round(cosine(col("q_vec"), col("n_vec")), 6))
      .where(col("sim") >= minSim)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** Grouped kNN — the vector-DB "search with grouping" feature
    * (Milvus group_by / Vespa grouping): top-k neighbors per query
    * with AT MOST `perGroup` results from any one label group, so one
    * over-represented document/entity cannot monopolize the result
    * list. Two-stage ranking: per-(query, group) cap first, then the
    * global top-k among survivors — both windows bounded (candidates
    * per query ≤ corpus groups × perGroup after the cap). Brute
    * scoring scaffold here; the candidate source swaps for the IVF-PQ
    * probe at corpus scale exactly as with the other kNN variants.
    */
  def knnGrouped(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      perGroup: Int
  ): DataFrame = {
    require(perGroup >= 1, s"perGroup must be >= 1, got $perGroup")
    val q = broadcast(
      queries.select(col(keyCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus
      .select(
        col(keyCol).as("neighbor_id"), col(vecCol).as("n_vec"),
        col(labelCol).as("group_label"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("group_label"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val capped = scored
      .withColumn("grn", row_number().over(wg))
      .where(col("grn") <= perGroup)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    capped
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("group_label"), col("rank"))
  }

  /** Shared brute-force scaffold: broadcast queries x corpus scan,
    * self-pair exclusion, bounded-heap top-k on the given score
    * (higher = closer).
    */
  private def knnBruteForceBy(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int
  )(score: (Column, Column) => Column): DataFrame = {
    val q = broadcast(
      queries.select(col(keyCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus
      .select(col(keyCol).as("neighbor_id"), col(vecCol).as("n_vec"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", score(col("q_vec"), col("n_vec")))
    topKPerGroup(scored, "query_id", "sim", "neighbor_id", k)
  }

  /** Exact top-k EUCLIDEAN neighbors — the reference's index is built
    * over a pluggable hnswlib space (cosine in index.h, but hnswlib
    * ships l2/ip spaces too); this is the l2 variant of
    * [[knnBruteForce]]. Same scale shape: broadcast queries, one
    * corpus scan, bounded-heap top-k on the NEGATED squared distance
    * (the heap keeps "largest score", and sqrt is monotone so squared
    * distance ranks identically without the per-row sqrt). The kernel
    * is the native codegen'd graft_l2sq expression.
    */
  def knnBruteForceL2(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int
  ): DataFrame =
    knnBruteForceBy(corpus, queries, keyCol, vecCol, k)(
      (q, n) => -l2Sq(q, n))

  /** Exact top-k MAX-INNER-PRODUCT neighbors — the third hnswlib space
    * (InnerProductSpace; reference: embeddinghub/embeddingstore/index.h
    * instantiates the index over a pluggable space). MIPS is the
    * natural retrieval objective for non-normalized two-tower
    * embeddings. Same scale shape as [[knnBruteForce]]; the kernel is
    * the native codegen'd graft_dot expression and the heap score is
    * the raw inner product (higher = closer).
    */
  def knnBruteForceIp(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int
  ): DataFrame =
    knnBruteForceBy(corpus, queries, keyCol, vecCol, k)(
      (q, n) => dotNative(q, n))

  /** Cluster the space with the deterministic Lloyd schedule
    * ([[kmeansCodebook]]) and assign every vector to its best centroid
    * (argmax cosine, smallest-centroid-id tiebreak). Returns
    * (vec_id, vec, cluster, csim), one row per input row — the shared
    * front-end of semantic dedup (Dedup.semDeDup) and prototypicality
    * pruning (Sampling.prototypePrune). The assignment is the native
    * kernel's narrow projection over the fit's collected table; csim is
    * the cosine to the winning centroid, read through a broadcast join of
    * the k-row codebook on the cell.
    */
  def clusterAssign(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int,
      iterations: Int
  ): DataFrame = {
    val table = kmeansFit(space, keyCol, vecCol, k, iterations)
    nearestCentroidWithVec(space, keyCol, vecCol, table)
      .join(broadcast(table.toFrame(space.sparkSession, "assigned", "centroid")), "assigned")
      .select(
        col("vec_id"), col("v").as("vec"), col("assigned").as("cluster"),
        cosine(col("v"), col("centroid")).as("csim"))
  }

  /** Contrastive triplet mining — for each anchor, the k nearest
    * SAME-label neighbors (positives) and the k nearest DIFFERENT-label
    * neighbors (hard negatives). Hard-negative mining is the standard
    * batch step that turns an embedding corpus into contrastive
    * training pairs (two-tower / metric-learning fine-tuning): random
    * negatives are too easy, the informative ones are the most similar
    * vectors with the wrong label.
    *
    * Scale shape: ONE corpus scan for both lists — the anchor set is
    * broadcast, and the per-anchor groupBy carries TWO bounded-heap
    * top-k aggregates whose inputs are label-masked with `when` (the
    * heap skips null scores), so positives and negatives come out of
    * the same map-side-combined pass instead of two scans.
    * Returns (query_id, kind 'pos'|'neg', neighbor_id, rank).
    */
  def tripletMine(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      labelCol: String,
      queries: DataFrame,
      k: Int
  ): DataFrame = {
    val q = broadcast(queries.select(
      col(keyCol).as("query_id"), col(vecCol).as("q_vec"), col(labelCol).as("q_label")))
    def heap(mask: Column) = topKByScore(when(mask, col("sim")), col("neighbor_id"), k)
    val lists = space
      .select(col(keyCol).as("neighbor_id"), col(vecCol).as("n_vec"), col(labelCol).as("n_label"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
      .groupBy(col("query_id"))
      .agg(
        heap(col("n_label") === col("q_label")).as("pos"),
        heap(col("n_label") =!= col("q_label")).as("neg"))
    def explodeKind(c: String) = lists
      .select(col("query_id"), posexplode(col(c)).as(Seq("r", "e")))
      .select(
        col("query_id"), lit(c).as("kind"),
        col("e.id").as("neighbor_id"), (col("r") + 1).cast("long").as("rank"))
    explodeKind("pos").unionByName(explodeKind("neg"))
  }

  /** kNN label-consistency scoring for label-noise detection
    * (Confident-Learning-style curation): for each vector, the fraction
    * of its k nearest cosine neighbors sharing its label. Low
    * consistency flags probable annotation noise — the standard
    * prune/re-label signal for curating labeled training corpora.
    *
    * Scale shape: neighbor search is the [[knnBruteForce]] scaffold
    * here (exact, broadcast probes); at corpus scale swap in the IVF
    * candidate path ([[knnIvf]] / [[Quantization.probeIvfPq]]) — the
    * label join + integer vote aggregation below is candidate-source
    * agnostic. Label re-attachment is a plain shuffle join on the id
    * (never broadcast: the label projection scales with the corpus).
    * The score is an exact integer count divided once at output — no
    * float accumulates across partitions.
    */
  def labelConsistency(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    val nn = knnBruteForce(space, space, keyCol, vecCol, k)
    val qLab = space.select(col(keyCol).as("query_id"), col(labelCol).as("q_label"))
    val nLab = space.select(col(keyCol).as("neighbor_id"), col(labelCol).as("n_label"))
    nn.join(qLab, "query_id")
      .join(nLab, "neighbor_id")
      .groupBy(col("query_id"), col("q_label"))
      .agg(sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L)).as("n_match"))
      .select(
        col("query_id").as(keyCol),
        col("q_label").as(labelCol),
        col("n_match"),
        (col("n_match").cast("double") / lit(k)).as("consistency"))
  }

  /** ColBERT-style LATE-INTERACTION scoring (MaxSim; Khattab &
    * Zaharia, SIGIR'20): a query is a BAG of token vectors, a document
    * a bag of passage vectors; score(q, d) = Σ over query tokens of
    * the max cosine against any document vector. Token-level matching
    * without cross-attention — the retrieval scorer of multi-vector
    * (per-token-embedding) models.
    *
    * Shape: token-pair scoring is one join of the (small, broadcast)
    * query-token set against the corpus vector scan on the native
    * cosine kernel; the per-(query, doc, token) MAX and the
    * per-(query, doc) SUM are two map-side-combined aggregations.
    * Work = |corpus vectors| × |query tokens| — at 100 TB prune the
    * corpus side first with the single-vector ANN index (IVF/PQ) and
    * late-interact only the survivors, exactly ColBERT's
    * retrieve-then-rerank deployment.
    *
    * Exactness: per-pair cosines are 6dp-rounded; max is
    * order-independent; the final sum adds ≤ |query tokens| rounded
    * terms as exact decimals.
    */
  def maxSim(
      corpus: DataFrame,
      corpusDocCol: String,
      queryTokens: DataFrame,
      queryIdCol: String,
      vecCol: String
  ): DataFrame = {
    val q = broadcast(queryTokens.select(
      col(queryIdCol).as("query_id"), col("qtok"), col(vecCol).as("q_vec")))
    corpus
      .select(col(corpusDocCol).as("doc_id"), col(vecCol).as("d_vec"))
      .join(q)
      .select(
        col("query_id"), col("doc_id"), col("qtok"),
        round(cosine(col("q_vec"), col("d_vec")), 6).as("sim"))
      .groupBy(col("query_id"), col("doc_id"), col("qtok"))
      .agg(max(col("sim")).as("tok_max"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        sum(col("tok_max").cast("decimal(18,6)")).cast("double").as("maxsim"),
        count(lit(1)).as("n_tokens"))
  }

  /** Generic bounded-heap top-k per group (posexploded to ranks) —
    * public: useful beyond knn wherever "k best per key" is needed.
    */
  def topKPerGroup(
      scored: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      k: Int
  ): DataFrame =
    scored
      .groupBy(col(groupCol))
      .agg(topKByScore(col(scoreCol), col(idCol), k).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("r", "e")))
      .select(
        col(groupCol),
        col("e.id").as("neighbor_id"),
        (col("r") + 1).cast("long").as("rank"))

  /** Embedding-distribution drift — the vector-space companion of
    * FeatureStore.featureDrift's scalar PSI: per group, the L2 shift
    * between the centroids of an "old" and "new" corpus slice (plus
    * slice sizes). One map-side combined group-by carries both slices'
    * [[graft.plans.VectorMean]]s and counts; the shift sums
    * round((mo - mn)², 12) as decimals over the positions both means
    * have. The means and the shift are exact sums, so the result does
    * not depend on partitioning. A null group and a group with
    * no position on both sides (a slice with no non-empty vector) are
    * omitted (no drift defined).
    */
  def centroidDrift(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      groupCol: String,
      oldSide: Column
  ): DataFrame = {
    // decimal(37,12) + decimal(28,12) is decimal(38,12), so the running
    // sum keeps every digit (reaching 10^25 takes 10^9 positions)
    val acc = "decimal(37,12)"
    // zip_with pads the shorter mean with nulls: a position one side
    // lacks adds nothing, as a null term adds nothing to a sum
    val d2 = zip_with(col("mo"), col("mn"),
      (a, b) => round((a - b) * (a - b), 12).cast("decimal(28,12)"))
    val total = aggregate(d2, lit(null).cast(acc),
      (s, x) => when(x.isNull, s).when(s.isNull, x.cast(acc)).otherwise((s + x).cast(acc)))
    space
      .groupBy(col(groupCol).as("label"))
      .agg(
        vectorMean(when(oldSide, col(vecCol))).as("mo"),
        vectorMean(when(!oldSide, col(vecCol))).as("mn"),
        sum(when(oldSide, 1L).otherwise(0L)).as("n_old"),
        sum(when(oldSide, 0L).otherwise(1L)).as("n_new"))
      .where(col("label").isNotNull && col("mo").isNotNull && col("mn").isNotNull)
      .select(col("label"), sqrt(total.cast("double")).as("centroid_shift"), col("n_old"), col("n_new"))
  }

  /** Centroid per group (IVF codebook build, k-means M-step): the
    * elementwise mean of the group's vectors, one map-side combined
    * [[graft.plans.VectorMean]] per group — n rows into the aggregate,
    * no row per vector element. A group whose vectors are all null or
    * empty has no row.
    */
  def centroids(space: DataFrame, groupCol: String, vecCol: String): DataFrame =
    space
      .groupBy(col(groupCol).as("centroid_id"))
      .agg(vectorMean(col(vecCol)).as("centroid"))
      .where(col("centroid").isNotNull)

  /** Assign every vector to its nearest centroid by cosine (IVF assign /
    * k-means E-step): (vec_id, assigned), one row per input row. The
    * centroids are collected once and held by the native kernel
    * ([[graft.plans.NearestCentroid]]; ties go to the smaller id), so the
    * corpus streams through a narrow projection: no vec x centroid rows,
    * no shuffle. A duplicated key gets one assignment per row.
    */
  def nearestCentroid(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      cents: DataFrame
  ): DataFrame =
    nearestCentroidWithVec(space, keyCol, vecCol, cents).select(col("vec_id"), col("assigned"))

  /** [[nearestCentroid]] with the vector carried along — (vec_id,
    * assigned, v) — for consumers that need the assigned rows with their
    * vectors (k-means M-step, residuals, cell-keyed corpus frames).
    */
  def nearestCentroidWithVec(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      cents: DataFrame
  ): DataFrame =
    nearestCentroidWithVec(space, keyCol, vecCol,
      CentroidTable.collect(cents, "centroid_id", "centroid"))

  /** [[nearestCentroidWithVec]] against an already collected table. No
    * centroids, no rows (the empty cross-join the kernel replaced).
    */
  def nearestCentroidWithVec(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      cents: CentroidTable
  ): DataFrame = {
    val assigned =
      if (cents.isEmpty) lit(null).cast(cents.idType) else nearestCentroidId(col(vecCol), cents)
    val out = space.select(col(keyCol).as("vec_id"), assigned.as("assigned"), col(vecCol).as("v"))
    if (cents.isEmpty) out.limit(0) else out
  }

  /** (query_id, q_vec, cell): each query row with its nProbe nearest
    * cells by cosine (ties to the smaller id) — one native top-n per
    * query ([[graft.plans.NearestCentroids]]) and an explode, in place of
    * a ranking window over query x cell rows.
    */
  private[operators] def probeCells(
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      cents: CentroidTable,
      nProbe: Int
  ): DataFrame =
    queries.select(
      col(keyCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(nearestCentroidIds(col(vecCol), cents, nProbe)).as("cell"))

  /** The IVF probe over a cell-assigned corpus: candidates are the
    * corpus rows of each query's nProbe cells, ranked by exact cosine.
    */
  private def knnInCells(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      cents: CentroidTable,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val corpusCells = nearestCentroidWithVec(corpus, keyCol, vecCol, cents)
      .select(
        col("vec_id").as("neighbor_id"), col("v").as("n_vec"),
        col("assigned").as("cell"))
    val scored = corpusCells
      .join(broadcast(probeCells(queries, keyCol, vecCol, cents, nProbe)), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    topKPerGroup(scored, "query_id", "sim", "neighbor_id", k)
  }

  /** Approximate top-k via IVF: probe only the nProbe nearest cells per
    * query. Recall < 1 by design; the exactness gate is knnBruteForce.
    */
  def knnIvf(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      groupColForCentroids: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val cents = CentroidTable.collect(
      centroids(corpus, groupColForCentroids, vecCol), "centroid_id", "centroid")
    knnInCells(corpus, queries, keyCol, vecCol, cents, k, nProbe)
  }

  /** Full ANN pipeline: build an IVF index with a k-means codebook,
    * then probe it — the batch analog of "build the index, then query
    * it" against the reference's HNSW store. Same probe mechanics as
    * `knnIvf` but cells come from the learned codebook instead of a
    * pre-existing partition column.
    */
  def knnIvfKmeans(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      nCells: Int,
      kmeansIterations: Int = 3
  ): DataFrame = {
    val cents = CentroidTable.collect(
      kmeansCodebook(corpus, keyCol, vecCol, nCells, kmeansIterations),
      "centroid_id", "centroid")
    knnInCells(corpus, queries, keyCol, vecCol, cents, k, nProbe)
  }

  /** ANN quality evaluation: per-query recall of an approximate result
    * against the exact brute-force top-k (both in (query_id,
    * neighbor_id, rank) shape). The standard acceptance gate for an
    * IVF/LSH configuration before it replaces brute force.
    */
  def recall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val hits = approx
      .select(col("query_id"), col("neighbor_id"))
      .join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    e.groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(
        col("query_id"),
        round(coalesce(col("n_hits"), lit(0L)) / col("k"), 4).as("recall"))
  }

  /** IVF probe-count auto-tuning: smallest nProbe (doubling search)
    * whose worst-query recall against exact brute force meets the
    * target — the acceptance-gate loop a production ANN deployment runs
    * before swapping brute force for the index. Driver-side iteration
    * is a handful of scalar reads (one min() per candidate nProbe);
    * all heavy work stays distributed.
    */
  /** Returns Some(nProbe) for the smallest candidate meeting the target,
    * None when even maxProbe misses it (the caller must not deploy the
    * index). Candidates are the doubling sequence clamped to maxProbe,
    * so maxProbe itself is always evaluated before giving up. An empty
    * query set vacuously meets any target at nProbe=1 (min over zero
    * queries is null → treated as no failing query).
    */
  def tuneNProbe(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      groupColForCentroids: String,
      k: Int,
      targetRecall: Double,
      maxProbe: Int
  ): Option[Int] = {
    require(maxProbe >= 1, s"maxProbe must be >= 1, got $maxProbe")
    val exact = knnBruteForce(corpus, queries, keyCol, vecCol, k).pinned()
    tuneProbeLoop(
      exact,
      nProbe => knnIvf(corpus, queries, keyCol, vecCol, groupColForCentroids, k, nProbe),
      targetRecall, maxProbe)
  }

  /** The shared probe-tuning gate: doubling candidates 1,2,4,...
    * clamped to maxProbe (which is always evaluated before giving up);
    * Some(first candidate whose worst-query recall vs `exact` meets
    * the target), None if even maxProbe misses it. min(recall) over an
    * empty query set is null and counts as a vacuous pass. Used by the
    * IVF and IVF-PQ tuners — gate-semantics changes belong here, once.
    */
  private[operators] def tuneProbeLoop(
      exact: DataFrame,
      probe: Int => DataFrame,
      targetRecall: Double,
      maxProbe: Int
  ): Option[Int] = {
    require(maxProbe >= 1, s"maxProbe must be >= 1, got $maxProbe")
    var nProbe = 1
    while (nProbe <= maxProbe) {
      val worstRow = recall(probe(nProbe), exact).agg(min(col("recall"))).collect()(0)
      val worst = if (worstRow.isNullAt(0)) 1.0 else worstRow.getDouble(0)
      if (worst >= targetRecall) return Some(nProbe)
      if (nProbe == maxProbe) return None
      nProbe = math.min(nProbe * 2, maxProbe)
    }
    None
  }

  /** Cosine similarity for aligned key pairs (a, b). */
  def pairwiseCosine(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      pairs: DataFrame // columns: a, b
  ): DataFrame = {
    val va = space.select(col(keyCol).as("a"), col(vecCol).as("va"))
    val vb = space.select(col(keyCol).as("b"), col(vecCol).as("vb"))
    pairs
      .join(va, "a")
      .join(vb, "b")
      .select(col("a"), col("b"), round(cosine(col("va"), col("vb")), 6).as("cos_sim"))
  }

  /** Batch ANN index construction: k-means codebook via Lloyd
    * iterations built from the centroids/assign primitives — the
    * Spark-batch analog of building the reference's ANN index
    * (reference: embeddinghub/embeddingstore/index.cc builds an HNSW
    * graph incrementally; at 100TB a codebook + cell assignment is the
    * shape that parallelizes).
    *
    * Deterministic: seeds are the vectors of the k smallest non-null
    * keys (one TakeOrdered collect, ids 0..k-1 in key order). Each
    * iteration is one narrow scan — the native nearest-centroid kernel
    * holding the k-row table assigns every vector — into one map-side
    * combined [[graft.plans.VectorMean]] per cell, whose k rows are the
    * next table; no row per vector element, no window. Result:
    * (centroid_id int, centroid array<double>) as a small local
    * relation, so consumers neither re-run Lloyd nor need to pin it.
    */
  def kmeansCodebook(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int,
      iterations: Int
  ): DataFrame =
    kmeansFit(space, keyCol, vecCol, k, iterations)
      .toFrame(space.sparkSession, "centroid_id", "centroid")

  /** [[kmeansCodebook]] as the collected table. */
  private[operators] def kmeansFit(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int,
      iterations: Int
  ): CentroidTable = {
    var table = CentroidTable.seeds(space, keyCol, vecCol, k)
    for (_ <- 0 until iterations)
      table = CentroidTable.collect(kmeansStep(space, keyCol, vecCol, table), "centroid_id", "centroid")
    table
  }

  /** One Lloyd step: (centroid_id, centroid) = the mean of the vectors
    * each centroid of `table` wins — the E-step projection into
    * [[centroids]]. A cell whose vectors are all null or empty has no row.
    */
  private[graft] def kmeansStep(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      table: CentroidTable
  ): DataFrame =
    centroids(nearestCentroidWithVec(space, keyCol, vecCol, table), "assigned", "v")

  /** Norm distribution per group. */
  def normStats(space: DataFrame, groupCol: String, vecCol: String): DataFrame =
    space
      .select(col(groupCol).as("label"), l2Norm(col(vecCol)).as("nrm"))
      .groupBy(col("label"))
      .agg(
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"),
        round(avg(col("nrm")), 6).as("avg_norm"))

  /** Out-of-distribution screening: squared L2 distance of every
    * vector to the corpus mean, with the top `pctOod`% most distant
    * flagged — the cheap "does this embedding even belong to the
    * space" gate run before ingesting a new batch.
    *
    * Exactness: components quantize to offset micro-units
    * (floor(x·1e6) + 1e6 keeps every sum positive, so truncating and
    * flooring integer division agree across engines), the per-dim mean
    * is one integer division, and d2 is an exact integer in micro² —
    * reproducible under any partitioning. The cutoff is an exact rank
    * over (d2, key) from the distributed prefix-sum numbering, not an
    * approximate percentile. Scale shape: no row per element — the
    * longest vector's length and then the per-dim long sums and counts
    * are each one global aggregate collected to the driver, d2 is a
    * narrow projection against the collected integer means, then one
    * numbering pass. One row per non-empty vector, so keys are expected
    * to be unique.
    */
  def oodScores(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      pctOod: Int = 1
  ): DataFrame = {
    require(pctOod >= 1 && pctOod <= 50, s"pctOod out of range: $pctOod")
    val (numbered, total) =
      FeatureStore.globalRowNumbersWithTotal(oodDistances(space, keyCol, vecCol), Seq("d2", "vec_id"))
    val cutoff = total - total * pctOod / 100
    numbered.select(
      col("vec_id"), col("d2"), (col("row_number") > cutoff).as("is_ood"))
  }

  /** (vec_id, d2) of [[oodScores]]. A position's mean is the sum of its
    * non-null micro-units `div` the number of vectors long enough to
    * have it (a null element counts, as an exploded row would); a
    * position with no non-null element has a null mean and, like a
    * null element, adds nothing to d2; d2 is null when nothing adds.
    */
  private[graft] def oodDistances(space: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    val micro = space
      .select(
        col(keyCol).as("vec_id"),
        transform(col(vecCol), x => floor(x.cast("double") * 1000000.0).cast("long") + 1000000L).as("vm"))
      .where(size(col("vm")) > 0)
    val dims = micro.agg(max(size(col("vm")))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    val means = if (dims == 0) Seq.empty[Column] else {
      val sums = (1 to dims).flatMap(i => Seq(
        sum(try_element_at(col("vm"), lit(i))), count(when(size(col("vm")) >= i, lit(1)))))
      val r = micro.agg(sums.head, sums.tail: _*).head()
      (0 until dims).map(i =>
        if (r.isNullAt(2 * i)) lit(null).cast("long") else lit(r.getLong(2 * i) / r.getLong(2 * i + 1)))
    }
    val dd = zip_with(col("vm"), array(means: _*).cast("array<bigint>"), (v, m) => (v - m) * (v - m))
    micro.select(
      col("vec_id"),
      aggregate(dd, lit(null).cast("long"),
        (acc, x) => when(x.isNull, acc).when(acc.isNull, x).otherwise(acc + x)).as("d2"))
  }
}
