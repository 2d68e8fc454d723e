package graft.operators

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}

import graft.functions.VectorFunctions
import graft.plans.{CentroidTable, PqCodebook, SignedProjection}

/** Product quantization (PQ) — the published compressed-index scale
  * path for billion-scale vector search (Jégou, Douze, Schmid:
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
  * same IVF-PQ layout FAISS uses). Where the reference serves ANN from
  * a single-node float-precision HNSW graph (reference:
  * embeddinghub/embeddingstore/index.h), PQ re-expresses the corpus as
  * m small codes per vector:
  *
  *  - split each d-dim vector into m subvectors of d/m dims;
  *  - learn a ksub-centroid codebook per subspace (Lloyd, L2);
  *  - encode each vector as its m nearest-sub-centroid ids
  *    (m bytes/vector at ksub <= 256 — a 256x compression of a
  *    64-dim float corpus, which is what makes a 100 TB corpus
  *    scannable in memory);
  *  - answer queries by ADC (asymmetric distance computation): one
  *    m x ksub lookup table per query, then distance(q, x) ~=
  *    sum_j table[j][code_j(x)] — table lookups instead of float
  *    kernels over the full vectors.
  *
  * Codebooks take one (subspace, cell) VectorMean aggregate per Lloyd
  * step; encoding and the per-query ADC tables are narrow projections
  * through native kernels that hold the collected codebook
  * (graft.plans.PqEncode / AdcTables);
  * the ADC scan is a narrow projection over the encoded corpus feeding
  * the bounded-heap top-k aggregate — no shuffle carries more than
  * (partitions x k) rows per query.
  *
  * Determinism: seeds are the ksub smallest keys' subvectors,
  * assignment ties break toward the smaller centroid id, and the ADC
  * sum is a sequential fold in subspace order, so results are exactly
  * reproducible (and DuckDB-oracle-checkable) for a fixed schedule.
  */
object Quantization {

  /** (vec_id, subspace, subvec) — the vector split into m contiguous
    * d/m-dim subvectors, cast to double once at the boundary.
    */
  def subVectors(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int
  ): DataFrame = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    val dsub = dims / m
    space.select(
      col(keyCol).as("vec_id"),
      posexplode(
        transform(
          sequence(lit(0), lit(m - 1)),
          j => transform(slice(col(vecCol), j * dsub + 1, lit(dsub)), x => x.cast("double"))))
        .as(Seq("subspace", "subvec")))
  }

  /** Per-subspace Lloyd k-means codebooks: (subspace, centroid_id,
    * centroid) as a small local relation. Seeds are the subvectors of the
    * ksub smallest non-null keys (one TakeOrdered collect). All m
    * subspaces iterate together: each iteration encodes every vector
    * with the native PQ kernel holding the current codebook (a narrow
    * projection), explodes the m codes — n·m rows, never n·d — and takes
    * one map-side combined [[graft.plans.VectorMean]] per (subspace,
    * cell) over the code's subvector; its m·ksub rows are the next
    * codebook. Final ids are re-densified to 0..n-1 per subspace on the
    * driver (Lloyd can empty a cell), so codes index positionally into
    * ADC tables.
    */
  def pqCodebooks(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      iterations: Int
  ): DataFrame =
    pqFit(space, keyCol, vecCol, m, dims, ksub, iterations).toFrame(space.sparkSession)

  /** [[pqCodebooks]] as the collected codebook. */
  private def pqFit(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      iterations: Int
  ): PqCodebook = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    var codebook = PqCodebook.seeds(space, keyCol, vecCol, m, dims / m, ksub)
    for (_ <- 0 until iterations)
      codebook = PqCodebook.collect(pqStep(space, vecCol, codebook, dims / m), m)
    codebook.redensified
  }

  /** One PQ Lloyd step: (subspace, centroid_id, centroid) = per subspace,
    * the mean of the subvectors each sub-centroid of `codebook` wins. A
    * cell whose subvectors are all null or empty has no row.
    */
  private[graft] def pqStep(space: DataFrame, vecCol: String, codebook: PqCodebook, dsub: Int): DataFrame =
    space
      .select(
        posexplode(VectorFunctions.pqEncode(col(vecCol), codebook, dsub)).as(Seq("subspace", "cell")),
        col(vecCol).as("v"))
      .groupBy(col("subspace"), col("cell").as("centroid_id"))
      .agg(VectorFunctions.vectorMean(slice(col("v"), col("subspace") * dsub + 1, lit(dsub)))
        .as("centroid"))
      .where(col("centroid").isNotNull)

  /** PQ encoding: (vec_id, codes) with codes[j] = nearest sub-centroid
    * of subspace j (squared L2, ties to the smaller id) — the m-byte
    * compressed representation of the corpus. One narrow projection:
    * the codebook is collected once and held by the native kernel
    * ([[graft.plans.PqEncode]]). A duplicated key gets one code row per
    * input row.
    */
  def pqEncode(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      codebooks: DataFrame
  ): DataFrame = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    encodeWith(space.select(col(keyCol).as("vec_id"), col(vecCol).as("v")), "v",
      PqCodebook.collect(codebooks, m), dims / m)
  }

  /** `rows` with `vecCol` replaced by its PQ codes; no codebook, no rows. */
  private def encodeWith(rows: DataFrame, vecCol: String, codebook: PqCodebook, dsub: Int): DataFrame = {
    val out = rows
      .withColumn(vecCol, VectorFunctions.pqEncode(col(vecCol), codebook, dsub))
      .withColumnRenamed(vecCol, "codes")
    if (codebook.isEmpty) out.limit(0) else out
  }

  /** ADC top-k: for each query, a (m x ksub) distance table against the
    * codebooks (one native projection per query row, broadcast), then one
    * narrow scan of the ENCODED corpus — per row the approximate
    * distance is m positional table lookups folded in subspace order —
    * into the bounded-heap top-k. The full-precision corpus is never
    * touched at query time; that is the entire point of PQ at 100 TB.
    */
  def pqKnnAdc(
      encoded: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      codebooks: DataFrame,
      k: Int
  ): DataFrame = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    // tables[j][c] = ||q_sub_j - centroid_c||^2, positionally indexed.
    val qTables = queries.select(
      col(keyCol).as("query_id"),
      VectorFunctions.adcTables(col(vecCol), PqCodebook.collect(codebooks, m), dims / m)
        .as("tables"))
    val scored = encoded
      .select(col("vec_id").as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(qTables))
      .where(col("neighbor_id") =!= col("query_id"))
      // Native codegen'd ADC (same subspace-order fold as the HOF
      // formulation, bit-identical) — this runs per (query, code-row)
      // pair, the hot loop of the PQ scan.
      .withColumn("adist", VectorFunctions.adc(col("tables"), col("codes")))
    Similarity.topKPerGroup(
      scored.withColumn("sim", -col("adist")), "query_id", "sim", "neighbor_id", k)
  }

  /** IVF-PQ: the composed billion-scale ANN layout (Jégou et al.
    * TPAMI'11 §V; the FAISS IVFPQ index) — a coarse partition of the
    * corpus into cells, plus product quantization of the RESIDUAL
    * (vector minus its cell centroid), which is far more quantizable
    * than the raw vector. Queries probe only nProbe cells and score
    * candidates by per-(query, cell) ADC tables over the residual
    * codes.
    *
    * Corpus-side plan: cell assignment, residual and PQ encode are one
    * narrow projection through native kernels holding the collected
    * cell centroids and codebook — the full-precision corpus is read
    * once at build time and never at query time. Query-side: the
    * nProbe cells and their ADC tables are again a projection per
    * query; the ADC scan touches only the probed cells' code rows
    * (~nProbe/nCells of the corpus), each row costing m table lookups.
    *
    * The coarse quantizer is a learned k-means codebook (the same
    * build `knnIvfKmeans` uses, cosine assignment) — geometric cells
    * are what make residuals small and probed cells likely to hold the
    * true neighbors; partitioning by an arbitrary metadata column
    * measurably degrades both (A/B'd in the spec history).
    */
  /** Built IVF-PQ index artifacts: `coarse` = (cell, c_vec) coarse
    * centroids, `codebooks` = residual PQ codebooks, `encoded` =
    * (vec_id, codes, cell) corpus codes. The build-once handle that
    * [[probeIvfPq]] (and the nProbe tuner) answer queries from — on a
    * cluster these are the tables you persist alongside the corpus.
    * `coarseCentroids` and `pqCodebook` are `coarse` and `codebooks`
    * collected once for the native kernels, so probes and upserts never
    * collect them again; they live as long as the caller holds the index.
    */
  final case class IvfPqIndex(
      coarse: DataFrame,
      codebooks: DataFrame,
      encoded: DataFrame,
      coarseCentroids: CentroidTable,
      pqCodebook: PqCodebook)

  object IvfPqIndex {
    /** An index over stored artifact tables (e.g. reloaded from a
      * lakehouse): collects the coarse centroids and the codebook once.
      */
    def apply(coarse: DataFrame, codebooks: DataFrame, encoded: DataFrame): IvfPqIndex =
      IvfPqIndex(coarse, codebooks, encoded,
        CentroidTable.collect(coarse, "cell", "c_vec"), PqCodebook.collect(codebooks))
  }

  /** Build the IVF-PQ index: coarse k-means cells, per-cell residuals,
    * residual PQ codebooks, encoded corpus. Both fits run their Lloyd
    * steps as one VectorMean aggregate each and come back as collected
    * tables, so `coarse` and `codebooks` are small local relations built
    * from them — nothing to pin, nothing to collect again. `pinEncoded`
    * additionally pins the encoded corpus — do that when probing more
    * than once (the tuner), not for a one-shot query where it would add
    * a materialization pass. The encoded corpus is corpus-sized (m bytes
    * per vector), so `durable = true` switches that pin from
    * executor-resident localCheckpoint to the fault-tolerant
    * reliable checkpoint for real-cluster runs — same trade as
    * `Dedup.connectedComponents`; on a production cluster you would
    * instead persist `encoded` as a table alongside the corpus.
    */
  def buildIvfPq(
      corpus: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      iterations: Int,
      nCells: Int,
      coarseIterations: Int,
      pinEncoded: Boolean = false,
      durable: Boolean = false
  ): IvfPqIndex = {
    val spark = corpus.sparkSession
    val coarseCentroids = Similarity.kmeansFit(corpus, keyCol, vecCol, nCells, coarseIterations)
    val resid = residuals(corpus, keyCol, vecCol, coarseCentroids)
    val pqCodebook = pqFit(resid, "vec_id", "r", m, dims, ksub, iterations)
    val enc = encodeWith(resid, "r", pqCodebook, dims / m)
    val pinned = if (!pinEncoded) enc else Pins.pin(enc, durable)
    IvfPqIndex(coarseCentroids.toFrame(spark, "cell", "c_vec"), pqCodebook.toFrame(spark), pinned,
      coarseCentroids, pqCodebook)
  }

  /** (vec_id, r, cell): each row's nearest coarse cell and its residual
    * vec - centroid(cell) as doubles, in one projection.
    */
  private def residuals(
      rows: DataFrame,
      keyCol: String,
      vecCol: String,
      coarse: CentroidTable
  ): DataFrame =
    Similarity.nearestCentroidWithVec(rows, keyCol, vecCol, coarse)
      .select(
        col("vec_id"),
        VectorFunctions.centroidResidual(col("v"), col("assigned"), coarse).as("r"),
        col("assigned").as("cell"))

  /** Encode rows with a FROZEN index's artifacts (coarse cells +
    * residual codebooks), no re-training: nearest coarse cell →
    * residual → PQ codes, (vec_id, codes, cell). This is the delta path
    * of incremental index maintenance — O(|rows|) narrow work against
    * the index's collected matrices.
    */
  def encodeWithIndex(
      index: IvfPqIndex,
      rows: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int
  ): DataFrame = {
    encodeWith(residuals(rows, keyCol, vecCol, index.coarseCentroids), "r",
      checkedCodebook(index, m, dims), dims / m)
  }

  private def checkedCodebook(index: IvfPqIndex, m: Int, dims: Int): PqCodebook = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m")
    require(index.pqCodebook.isEmpty || index.pqCodebook.m == m,
      s"index codebook has ${index.pqCodebook.m} subspaces, called with m=$m")
    index.pqCodebook
  }

  /** Incremental IVF-PQ maintenance — the index-layer analog of the
    * embeddinghub Set/MultiSet write path (reference:
    * embeddinghub/embeddingstore/embedding_store.proto:13-16, whose
    * server re-inserts into the live HNSW): merge a vector delta into
    * an EXISTING index without re-training. Delta rows are encoded
    * with the frozen coarse/PQ artifacts ([[encodeWithIndex]]) and
    * upserted into the encoded corpus last-writer-wins (anti-join on
    * the delta keys, then union — the same shape as
    * FeatureStore.materializeIncremental).
    *
    * Scale: work is O(|delta|) + one anti-join on the changed-key set
    * (broadcastable at daily-delta sizes); the surviving encoded rows
    * stream through untouched, and the quantizer never re-trains —
    * which is the only viable cadence at 100 TB (periodic re-train is
    * a separate, rarer job; recall degrades only as the data
    * distribution drifts away from the frozen codebooks — monitor
    * with FeatureStore.featureDrift over e.g. vector norms).
    */
  def upsertIvfPq(
      index: IvfPqIndex,
      delta: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int
  ): IvfPqIndex = {
    val deltaEnc = encodeWithIndex(index, delta, keyCol, vecCol, m, dims)
    val merged = index.encoded
      .join(delta.select(col(keyCol).as("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(deltaEnc)
    index.copy(encoded = merged)
  }

  /** Outcome of a drift-gated index maintenance pass: the (possibly
    * rebuilt) index, whether the re-train fired, and the observed max
    * per-cell centroid shift that drove the decision.
    */
  case class IvfPqMaintenance(index: IvfPqIndex, retrained: Boolean, maxShift: Double)

  /** Drift-triggered IVF-PQ maintenance — the policy layer over
    * [[upsertIvfPq]] (cheap, frozen quantizer) and [[buildIvfPq]]
    * (full re-train): measure how far the corpus has drifted from the
    * index's frozen coarse centroids, and re-train only when it
    * matters. The drift statistic is the max L2 shift between each
    * frozen cell centroid and the fresh mean of the vectors now
    * assigned to that cell — the vector-space analog of
    * Similarity.centroidDrift, computed against the LIVE index
    * artifacts instead of a time split.
    *
    * Scale: one Lloyd step against the frozen centroids
    * ([[Similarity.kmeansStep]]: the native assignment projection into a
    * map-side combined mean per cell, O(|corpus|), no shuffle beyond the
    * nCells-row aggregate); the shift reduction collects nCells
    * doubles to take a max — the same tiny-driver-read pattern as the
    * recall gates. The expensive
    * branch (re-train) runs only when the threshold trips, which is
    * the only sane cadence at 100 TB: daily deltas take the O(|delta|)
    * upsert path; the quarterly distribution shift pays for one
    * rebuild.
    */
  def maintainIvfPq(
      index: IvfPqIndex,
      corpus: DataFrame, // full post-delta corpus
      delta: DataFrame, // the new/changed rows only
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      iterations: Int,
      nCells: Int,
      coarseIterations: Int,
      shiftThreshold: Double
  ): IvfPqMaintenance = {
    val fresh = Similarity.kmeansStep(corpus, keyCol, vecCol, index.coarseCentroids)
    val shifts = fresh
      .join(
        index.coarse.select(col("cell").as("centroid_id"), col("c_vec")),
        "centroid_id")
      .select(sqrt(VectorFunctions.l2Sq(col("centroid"), col("c_vec"))).as("shift"))
      .agg(max(col("shift")))
      .head()
    val maxShift = if (shifts.isNullAt(0)) 0.0 else shifts.getDouble(0)
    if (maxShift > shiftThreshold)
      IvfPqMaintenance(
        buildIvfPq(corpus, keyCol, vecCol, m, dims, ksub, iterations, nCells, coarseIterations),
        retrained = true, maxShift)
    else
      IvfPqMaintenance(
        upsertIvfPq(index, delta, keyCol, vecCol, m, dims),
        retrained = false, maxShift)
  }

  /** Probe a built IVF-PQ index: nProbe nearest cells per query, ADC
    * over the residual codes of just those cells. The query side is
    * narrow projections through the index's collected matrices; the one
    * join is the broadcast of the (query, cell) tables against the
    * probed cells' code rows.
    */
  def probeIvfPq(
      index: IvfPqIndex,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      nProbe: Int,
      k: Int
  ): DataFrame = {
    val cells = index.coarseCentroids
    // Query side, one projection per query row: its nProbe nearest
    // cells (cosine, same ranking as the corpus assignment), then a
    // per-(query, cell) ADC table over the query residual for that cell.
    val qTables = Similarity.probeCells(queries, keyCol, vecCol, cells, nProbe)
      .select(
        col("query_id"), col("cell"),
        VectorFunctions.adcTables(
          VectorFunctions.centroidResidual(col("q_vec"), col("cell"), cells),
          checkedCodebook(index, m, dims), dims / m).as("tables"))
    val scored = index.encoded
      .join(broadcast(qTables), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      // Native codegen'd ADC over the probed cells' code rows.
      .withColumn("adist", VectorFunctions.adc(col("tables"), col("codes")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), (-col("adist")).as("sim"))
    Similarity.topKPerGroup(scored, "query_id", "sim", "neighbor_id", k)
  }

  /** IVF-PQ end to end: build the index, answer queries. One-shot form
    * of [[buildIvfPq]] + [[probeIvfPq]].
    */
  def knnIvfPq(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      iterations: Int,
      nCells: Int,
      coarseIterations: Int,
      nProbe: Int,
      k: Int
  ): DataFrame = {
    val index = buildIvfPq(
      corpus, keyCol, vecCol, m, dims, ksub, iterations, nCells, coarseIterations)
    probeIvfPq(index, queries, keyCol, vecCol, m, dims, nProbe, k)
  }

  /** IVF-PQ serving with exact re-rank — FAISS's IndexIVFPQ +
    * RefineFlat composition, the canonical production serving shape:
    * the compressed index proposes k·overfetch candidates by ADC
    * (probed cells only — the corpus is never scanned at full
    * precision), then ONLY the shortlist pays a full-precision cosine.
    * Memory stays PQ-sized while final ranking quality recovers most
    * of the quantization loss; the rerank cost is a
    * candidate-sized hash join + broadcast of the query vectors, same
    * shape as [[knnBinaryRerank]].
    */
  def knnIvfPqRerank(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      iterations: Int,
      nCells: Int,
      coarseIterations: Int,
      nProbe: Int,
      k: Int,
      overfetch: Int
  ): DataFrame = {
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    val cands = knnIvfPq(
      corpus, queries, keyCol, vecCol, m, dims, ksub, iterations,
      nCells, coarseIterations, nProbe, k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    val qv = broadcast(
      queries.select(col(keyCol).as("query_id"), col(vecCol).as("q_vec")))
    val rescored = cands
      .join(
        corpus.select(col(keyCol).as("neighbor_id"), col(vecCol).as("n_vec")),
        "neighbor_id")
      .join(qv, "query_id")
      .withColumn("sim",
        graft.functions.VectorFunctions.cosine(col("q_vec"), col("n_vec")))
    Similarity.topKPerGroup(rescored, "query_id", "sim", "neighbor_id", k)
  }

  /** Smallest nProbe whose WORST-query recall vs exact euclidean top-k
    * meets the target — the IVF-PQ acceptance-gate loop, mirroring
    * `Similarity.tuneNProbe`'s contract: Some(nProbe) for the first of
    * the doubling candidates (clamped to maxProbe, which is always
    * evaluated before giving up) that meets the target, None when even
    * maxProbe misses it — with PQ the quantization loss itself caps
    * recall, so None is a real outcome meaning "re-train with more
    * cells/finer codebooks", not "probe wider". The index is built
    * ONCE (encoded corpus pinned); each candidate costs one probe +
    * one k-row-per-query recall aggregate — scalar driver reads only.
    * An empty query set vacuously meets any target at nProbe=1.
    */
  def tuneIvfPqNProbe(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      iterations: Int,
      nCells: Int,
      coarseIterations: Int,
      k: Int,
      targetRecall: Double,
      maxProbe: Int
  ): Option[Int] = {
    require(maxProbe >= 1, s"maxProbe must be >= 1, got $maxProbe")
    val index = buildIvfPq(
      corpus, keyCol, vecCol, m, dims, ksub, iterations, nCells, coarseIterations,
      pinEncoded = true)
    val exact = Similarity
      .knnBruteForceL2(corpus, queries, keyCol, vecCol, k).pinned()
    Similarity.tuneProbeLoop(
      exact,
      nProbe => probeIvfPq(index, queries, keyCol, vecCol, m, dims, nProbe, k),
      targetRecall, maxProbe)
  }

  /** End-to-end PQ search: build codebooks, encode the corpus, answer
    * queries by ADC. The one-call form of the build -> encode -> probe
    * pipeline, mirroring `Similarity.knnIvfKmeans` for the IVF path.
    */
  def pqKnn(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      iterations: Int,
      k: Int
  ): DataFrame = {
    val cb = pqCodebooks(corpus, keyCol, vecCol, m, dims, ksub, iterations)
    val enc = pqEncode(corpus, keyCol, vecCol, m, dims, cb)
    pqKnnAdc(enc, queries, keyCol, vecCol, m, dims, cb, k)
  }

  /** Per-vector int8 scalar quantization — the storage-tier compression
    * for embedding corpora (4x smaller than float32; the float16/int8
    * options every production vector store exposes). Each vector is
    * min-max-scaled onto the 0..255 grid independently, so no training
    * pass or codebook is needed and each row quantizes in isolation —
    * a pure narrow projection that runs at scan speed and parallelizes
    * trivially at 100 TB.
    *
    * Returns the codes plus reconstruction-error stats so the lossiness
    * is observable per vector. Constant vectors (scale 0) map to code 0
    * and reconstruct exactly. Error accumulation is a sequential fold
    * in dimension order — deterministic and reproducible externally.
    */
  /** Rotate every vector by a plan-time constant matrix: y = R·x
    * (rows of `rot` are output coordinates). Narrow projection — the
    * matrix rides along as a codegen reference object (one copy per
    * generated class, not a per-row literal walk); no shuffle. The
    * native kernel ([[graft.plans.MatrixApply]]) accumulates in
    * ascending input-dim order, bit-identical to the previous HOF
    * `aggregate` fold and to the unrolled literal-weight SQL oracle.
    */
  def rotate(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      rot: Seq[Seq[Double]]
  ): DataFrame = {
    space.select(
      col(keyCol).as("vec_id"),
      VectorFunctions.matrixApply(col(vecCol), rot.map(_.toArray).toArray).as("vec"))
  }

  /** Decode PQ codes back to their reconstructed vectors (sub-centroid
    * concatenation) — the ŷ used for error measurement and OPQ's
    * Procrustes step: (vec_id, recon), one row per input row, a narrow
    * projection through the native decode kernel holding the collected
    * codebook ([[graft.plans.PqDecode]]).
    */
  def pqReconstruct(encoded: DataFrame, codebooks: DataFrame): DataFrame =
    pqReconstruct(encoded, PqCodebook.collect(codebooks))

  private def pqReconstruct(encoded: DataFrame, codebook: PqCodebook): DataFrame =
    encoded.select(col("vec_id"), VectorFunctions.pqDecode(col("codes"), codebook).as("recon"))

  /** Mean squared PQ reconstruction error of a (vec, recon) pairing —
    * the quantization-quality scalar OPQ minimizes.
    */
  def pqMse(space: DataFrame, keyCol: String, vecCol: String, recon: DataFrame): Double =
    space
      .select(col(keyCol).as("vec_id"), transform(col(vecCol), x => x.cast("double")).as("x"))
      .join(recon, "vec_id")
      .select(
        aggregate(
          zip_with(col("x"), col("recon"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v).as("e"))
      .agg(avg(col("e")))
      .head().getDouble(0)

  /** OPQ — optimized product quantization (Ge et al., CVPR'13,
    * non-parametric solver): learn an orthogonal rotation R that
    * minimizes PQ reconstruction error by alternating (a) train+encode
    * PQ on the rotated corpus, (b) solve the orthogonal Procrustes
    * problem R = V·Uᵀ from the SVD of A = Σ x·ŷᵀ. The cross-covariance
    * A is one [[graft.plans.VectorMoments]] aggregate per iteration over
    * the (x, ŷ) rows — n rows into a map-side combined d×d fixed-point
    * buffer, the d² sums the only driver-side data (4096 for d=64); the
    * SVD is a d×d driver-side Breeze call, same pattern as the CC loop's
    * scalar fixpoint reads. Spec-verified (orthogonality + error vs
    * plain PQ). Every x must have `dims` elements and no null element
    * ([[pcaWhitening]]'s contract). LAPACK SVD has no cross-engine bit
    * contract, so the emb_opq_knn oracle does not re-derive R in SQL —
    * it fits R and embeds it as literals in the generated oracle
    * (graft.surface.EmbeddingQueries.opqKnnOracle). A and the PQ
    * codebooks it is measured against are exact sums, so R does not
    * depend on partitioning: every fit of the same input gives the same
    * R bit for bit.
    */
  def opqRotation(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      m: Int,
      dims: Int,
      ksub: Int,
      pqIterations: Int,
      opqIterations: Int
  ): Seq[Seq[Double]] = {
    var rot: Seq[Seq[Double]] =
      Seq.tabulate(dims, dims)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to opqIterations) {
      val rotated = rotate(space, keyCol, vecCol, rot).pinned()
      val cb = pqFit(rotated, "vec_id", "vec", m, dims, ksub, pqIterations)
      val recon = pqReconstruct(encodeWith(rotated, "vec", cb, dims / m), cb)
      // Decimal-exact cross-covariance, so two evaluations of this
      // pipeline hand the same A to the same LAPACK.
      val pairs = space.select(col(keyCol).as("vec_id"), col(vecCol).as("x")).join(recon, "vec_id")
      val moments = checkedMoments(pairs, "x", "recon", dims, "opqRotation", vecCol)
      val a = breeze.linalg.DenseMatrix.tabulate(dims, dims)((i, j) => moments.sumXY(i * dims + j))
      val s = breeze.linalg.svd(a)
      // max tr(R·A), A = U·S·Vᵀ  ⇒  R = V·Uᵀ
      val rNew = s.Vt.t * s.U.t
      rot = Seq.tabulate(dims, dims)((out, in) => rNew(out, in))
    }
    rot
  }

  /** Exact moments of a vector fit, read on the driver: n and the sums,
    * a null sum (no term, or an overflow outside ANSI mode) read as 0.0
    * as the replaced per-cell group-by read a missing or null cell.
    */
  private final case class Moments(n: Long, sumX: Array[Double], sumXY: Array[Double])

  /** The one-row [[graft.plans.VectorMoments]] plan of (x, y) over `rows`. */
  private[graft] def momentsPlan(rows: DataFrame, x: String, y: String, dims: Int): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    rows.agg(VectorFunctions.vectorMoments(col(x), col(y), dims).as("m")).select("m.*")
  }

  /** Collect [[momentsPlan]] and enforce the vector-fit input contract at
    * the caller's boundary: every non-null vector has exactly `dims`
    * elements and no null element (null vectors are skipped).
    */
  private def checkedMoments(
      rows: DataFrame, x: String, y: String, dims: Int, op: String, vecCol: String): Moments = {
    val r = momentsPlan(rows, x, y, dims).head()
    val (wrongLength, nullElements) = (r.getLong(1), r.getLong(2))
    require(wrongLength == 0,
      s"$op: $wrongLength non-null vectors in $vecCol do not have dims=$dims elements")
    require(nullElements == 0, s"$op: $nullElements vectors in $vecCol have null elements")
    def sums(i: Int) = r.getSeq[java.lang.Double](i).map(v => if (v == null) 0.0 else v.doubleValue).toArray
    Moments(r.getLong(0), sums(3), sums(4))
  }

  /** Deterministic ±1 sign for random-projection cell (i, j): +1 iff
    * the first hex digit of md5("<seed>:<j>:<i>") is 0-7. Content-keyed
    * like Sampling's hash thresholds: any engine with md5 reproduces
    * the projection matrix exactly — no RNG state, no seed files.
    */
  def rpSign(seed: String, i: Int, j: Int): Double =
    graft.plans.SignedProjection.sign(seed, i, j)

  /** Native codegen'd form of [[randomProjection]] — the production
    * path: one compact expression node (graft_rp) instead of a
    * dims×outDims-term tree, identical output bit-for-bit (same signs,
    * same ascending-i double accumulation per output dim).
    */
  def randomProjectionNative(
      vec: Column,
      dims: Int,
      outDims: Int,
      seed: String = "rp"
  ): Column =
    column(SignedProjection(expression(vec), dims, outDims, seed))

  /** Achlioptas-style dense ±1 random projection to `outDims`
    * dimensions: out_j = Σ_i vec[i]·s(i,j) / sqrt(outDims), signs from
    * [[rpSign]]. Johnson–Lindenstrauss distance preservation with a
    * data-independent matrix — the projection needs no training pass
    * (vs PQ/k-means), so it applies in a pure narrow projection at scan
    * speed; the matrix itself is plan-time constant (dims×outDims
    * signs folded into the expression).
    *
    * Exactness: each signed term is the float element exactly negated
    * (±1 multiply introduces no rounding) and the per-output sum is a
    * SEQUENTIAL left fold in dimension order — plain double adds whose
    * order is pinned by the expression shape, so any engine evaluating
    * the same fold reproduces the result bit-for-bit (the oracle emits
    * the identical left-associated chain). A decimal-summed variant
    * was measured 15x slower: 1024 decimal ops per row blow Janino's
    * 64KB method limit and drop the whole stage to interpreted mode.
    */
  def randomProjection(
      vec: Column,
      dims: Int,
      outDims: Int,
      seed: String = "rp"
  ): Column = {
    require(dims >= 1 && outDims >= 1, "dims and outDims must be >= 1")
    val scale = math.sqrt(outDims.toDouble)
    val outs = (0 until outDims).map { j =>
      val s = (1 to dims)
        .map(i => element_at(vec, i).cast("double") * lit(rpSign(seed, i, j)))
        .reduce(_ + _)
      (s / lit(scale)).as(s"p$j")
    }
    array(outs: _*)
  }

  /** 1-bit-per-dimension binary sketch packed into a single BIGINT
    * (bit i = 1 iff vec[i] > 0) — the extreme end of the storage-
    * compression ladder (int8 = 4x, PQ m=16 = 16x, this = 32x for
    * 64-dim float32): a 100 TB embedding corpus collapses to ~3 TB of
    * longs, and candidate generation becomes xor + popcount at scan
    * speed. Static per-bit terms (no variable shifts, no HOF) keep the
    * whole sketch inside one codegen'd projection.
    */
  def binarySketch(vec: Column, dims: Int): Column = {
    require(dims > 0 && dims <= 64, s"binarySketch packs into one long, got dims=$dims")
    (0 until dims)
      .map(i => when(element_at(vec, i + 1) > 0f, lit(1L << i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** Exact top-k by HAMMING distance over binary sketches: broadcast
    * query sketches x one narrow corpus scan (two longs per row) into
    * the bounded-heap top-k. The heap score composes
    * (hamming, neighbor_id) into one strictly-unique double
    * (hamming * 2^44 + id, exact in double's 53-bit mantissa), so
    * ranking is fully deterministic despite hamming's heavy ties —
    * equivalent to ORDER BY hamming, neighbor_id.
    */
  def knnBinaryHamming(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      dims: Int,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(keyCol).as("neighbor_id"), binarySketch(col(vecCol), dims).as("skn"))
    val q = broadcast(
      queries.select(col(keyCol).as("query_id"), binarySketch(col(vecCol), dims).as("skq")))
    val scored = c
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn(
        "sim",
        -(bit_count(col("skn").bitwiseXOR(col("skq"))).cast("double") * math.pow(2, 44) +
          col("neighbor_id").cast("double")))
    Similarity.topKPerGroup(scored, "query_id", "sim", "neighbor_id", k)
  }

  /** Two-stage binary-prefilter kNN — the practical deployment of the
    * 32x sketch tier: hamming over packed sign bits generates
    * k·`overfetch` candidates at xor+popcount scan speed, then ONLY
    * those candidates are re-scored with exact float cosine and cut to
    * top-k. At 100 TB the full-precision vectors are touched for
    * k·overfetch rows per query instead of the whole corpus — the
    * sketch is the scan, the floats are a point lookup. Stage 2 is a
    * candidate⨝corpus hash join (shuffles only candidate-sized data)
    * plus the broadcast query vectors.
    */
  def knnBinaryRerank(
      corpus: DataFrame,
      queries: DataFrame,
      keyCol: String,
      vecCol: String,
      dims: Int,
      k: Int,
      overfetch: Int
  ): DataFrame = {
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    val cands = knnBinaryHamming(corpus, queries, keyCol, vecCol, dims, k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    val qv = broadcast(
      queries.select(col(keyCol).as("query_id"), col(vecCol).as("q_vec")))
    val rescored = cands
      .join(corpus.select(col(keyCol).as("neighbor_id"), col(vecCol).as("n_vec")),
        "neighbor_id")
      .join(qv, "query_id")
      .withColumn("sim",
        graft.functions.VectorFunctions.cosine(col("q_vec"), col("n_vec")))
    Similarity.topKPerGroup(rescored, "query_id", "sim", "neighbor_id", k)
  }

  def int8Quantize(space: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    // Per-row min/scale as TOP-LEVEL projection columns feeding a
    // Generate (explode) boundary — each is computed once per vector.
    // (The tempting all-HOF formulation re-evaluates array_min/max
    // inside every transform lambda — O(d^2) per row and interpreted:
    // measured ~10s for 5k x 64 dims where this plan takes ~0.2s.)
    // After the explode everything is scalar codegen'd arithmetic and
    // ONE map-side-combined aggregation back to per-vector stats.
    val vmin = array_min(col(vecCol)).cast("double")
    val vmax = array_max(col(vecCol)).cast("double")
    val exploded = space.select(
      col(keyCol).as("vec_id"),
      vmin.as("vmin"),
      ((vmax - vmin) / lit(255.0)).as("scale"),
      explode(col(vecCol)).as("xf"))
    val code = when(col("scale") === 0.0, lit(0.0))
      .otherwise(round((col("xf").cast("double") - col("vmin")) / col("scale"), 0))
    val err = abs(col("xf").cast("double") - (col("vmin") + code * col("scale")))
    exploded
      .select(col("vec_id"), code.cast("int").as("code"), err.as("err"))
      .groupBy(col("vec_id"))
      .agg(
        count(lit(1)).as("n_codes"),
        min(col("code")).cast("long").as("code_min"),
        max(col("code")).cast("long").as("code_max"),
        round(max(col("err")), 6).as("max_abs_err"),
        round(sum(col("err")) / count(lit(1)), 6).as("mean_abs_err"))
  }

  /** Learn a PCA-whitening transform from the corpus: top-k principal
    * directions of the covariance, each scaled by 1/√(λ+ε) — the
    * classic embedding post-processing (Jégou–Chum ECCV'12 "Negative
    * evidences and co-occurrences"; standard before PQ and for
    * retrieval score calibration). Returns (μ, W) with W k×dims;
    * whitened = W·(x − μ).
    *
    * Distributed part: ONE pass — a [[graft.plans.VectorMoments]]
    * aggregate folds n, Σx and Σx·xᵀ of every vector into a map-side
    * combined fixed-point buffer (each term summed exactly as a 12dp
    * decimal), and one d + d² row comes to the driver. Driver part:
    * C = S/n − μμᵀ (IEEE on exact ingredients) + LAPACK eigSym — O(d³) on
    * a d×d matrix, independent of corpus size. Bit-stable: the exact
    * sums do not depend on partitioning or merge order, and the same
    * matrix always hands the same eigenvectors to the same LAPACK.
    *
    * Input contract, checked with a named message: every non-null vector
    * has exactly `dims` elements and no null element; null vectors are
    * skipped; at least one vector remains.
    */
  def pcaWhitening(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      dims: Int,
      k: Int,
      eps: Double = 1e-6
  ): (Seq[Double], Seq[Seq[Double]]) = {
    require(k > 0 && k <= dims, s"k must be in [1, $dims], got $k")
    val m = checkedMoments(space, vecCol, vecCol, dims, "pcaWhitening", vecCol)
    require(m.n > 0, s"pcaWhitening: $vecCol has no non-null vectors")
    val n = m.n.toDouble
    val mu = m.sumX.map(_ / n)
    val c = breeze.linalg.DenseMatrix.tabulate(dims, dims)((i, j) =>
      m.sumXY(i * dims + j) / n - mu(i) * mu(j))
    val es = breeze.linalg.eigSym(c)
    // eigSym returns eigenvalues ascending; take the top k, largest first
    val order = (0 until dims).sortBy(i => -es.eigenvalues(i)).take(k)
    val w = order.map { idx =>
      val scale = 1.0 / math.sqrt(es.eigenvalues(idx) + eps)
      Seq.tabulate(dims)(i => es.eigenvectors(i, idx) * scale)
    }
    (mu.toSeq, w)
  }
}
