package graft.operators

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication suite for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram/word Jaccard, embedding-cosine.
  *
  * Scale design: every pairwise comparison is *blocked* — by content
  * hash (exact), LSH band bucket (minhash), simhash band (simhash),
  * language (jaccard) or label/cell (embedding). There is never an
  * unblocked O(n^2) cross join; bucket width is a tunable that bounds
  * the worst-case pair count per bucket.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id as the
    * canonical survivor. Single shuffle on the hash; map-side combine.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash + LSH banding: signature of `bands*rowsPerBand` hashes,
    * band hash = md5 over its rows; docs sharing any band hash are
    * candidates. Returns distinct candidate pairs (a < b) with the
    * number of matching bands.
    *
    * Shape: explode shingles once, then ONE groupBy(doc) carrying all
    * numHashes md5-lane `min` aggregates — each is a plain
    * codegen'd aggregate with map-side partial combine, and the
    * aggregation is a real pipeline boundary (a projected signature
    * array would be re-inlined into every consumer by CollapseProject
    * and recompute the shingling numHashes times — measured 10x).
    * The pair join shuffles on the band hash, so cost is bounded by
    * bucket sizes, not corpus size squared.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4
  ): DataFrame = {
    val numHashes = bands * rowsPerBand
    require(numHashes % 2 == 0, "minhashLsh needs an even bands*rowsPerBand")
    // NOTE on parallelism: a pre-explode repartition(doc_id) was
    // A/B-measured here and REVERTED — it broke AQE's runtime exchange
    // reuse of the banded self-join subtree and roughly doubled wall
    // time. The sketch aggregation's map-side combine already emits one
    // signature row per doc per input split, so the groupBy exchange is
    // tiny without any help.
    val shing = docs.select(
      col(idCol).as("doc_id"),
      explode(array_distinct(shingles(col(textCol), shingleWidth))).as("sh"))
    // Seed-g hash = md5(g || ':' || shingle), SPLIT into its two 64-bit
    // hex halves so one md5 evaluation feeds two signature lanes (halves
    // the per-shingle hashing work). Fixed-width lowercase hex
    // min-compares exactly like the underlying 64-bit value, and any
    // engine with md5 (the DuckDB oracle included) rebuilds the
    // identical signature.
    val sigAggs: Seq[Column] = (0 until numHashes / 2).flatMap { g =>
      val full = md5(concat(lit(s"$g:"), col("sh")))
      Seq(min(substring(full, 1, 16)), min(substring(full, 17, 16)))
    }
    val sig = shing
      .groupBy(col("doc_id"))
      .agg(array(sigAggs: _*).as("sig"))
    def bandHash(b: Int): Column =
      md5(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
    // Both self-join sides consume `banded`; the static plan shows two
    // copies of the scan->aggregate subtree, but AQE's runtime exchange
    // reuse dedupes them (verified: pinning with localCheckpoint does
    // not change wall time), so the lineage stays intact for free.
    val banded = sig
      .select(
        col("doc_id"),
        posexplode(array((0 until bands).map(bandHash): _*)).as(Seq("band", "band_hash")))
    bandPairs(banded)
  }

  /** Shared LSH tail: docs sharing any (band, band_hash) bucket become
    * candidate pairs; the join shuffles on the bucket key so cost is
    * bounded by bucket sizes.
    */
  private def bandPairs(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("band_hash"), col("doc_id").as("a"))
    val b = banded.select(col("band"), col("band_hash"), col("doc_id").as("b"))
    a.join(b, Seq("band", "band_hash"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Native-kernel variant of [[minhashLsh]]: the whole
    * md5 sketch (all lanes + band folding) is one projected
    * graft_minhash_bands column (graft.plans.MinHashBands) feeding
    * posexplode — no shingle explode, no 16-aggregate groupBy, no
    * sketch shuffle. Output is bit-identical to
    * `minhashLsh` (spec-checked), so the
    * same external SQL oracle applies. The sketch pass is a pure scan —
    * the shape that matters at 100 TB, where the explode+aggregate
    * formulation pays a corpus-sized shuffle before the first bucket.
    */
  def minhashLshNative(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      maxCandidateInstances: Option[Long] = None,
      guardName: String = "minhashLshNative"
  ): DataFrame = {
    // The sketch kernel is pure per-row CPU; parallelism is whatever
    // the scan gives us, and a compact parquet corpus arrives in far
    // fewer splits than there are cores (one 600KB file = ONE task
    // doing every md5 while the rest of the cluster idles). Such an
    // input is round-robin spread to full width first (Width.spread):
    // a raw-doc repartition is tiny (it moves text bytes, not exploded
    // shingle rows). A corpus already planned in at least as many
    // splits as cores is hashed where it lies; a repartition would
    // only narrow it through a full shuffle.
    // Declarative parity for shingle-less docs needs NO filter here:
    // the kernel returns null for them and null posexplodes to zero
    // rows. (A where(size(shs) > 0) would push into the scan and
    // re-inline the whole shingling expression as a per-row
    // DataFilter — shingling would run twice per doc.)
    // persist: BOTH self-join sides read the sketch. Without a pin the
    // planner broadcasts one side, and the broadcast-build thread races
    // the stream side through a duplicate evaluation of the md5-heavy
    // sketch stage — measured an intermittent 3x-20x stall on the
    // duplicated run (two full task waves contending on 1x cores),
    // where the persisted single evaluation is stable. Footprint is
    // bands rows of (long, int, 32-char hash) per doc — the same order
    // as a shuffle write of the sketch, spilling to disk if huge.
    val banded = bandedSketch(Width.spread(docs), idCol, textCol, shingleWidth, bands, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fail-fast candidate budget from the band-bucket sizes (reads the
    // persisted sketch once, O(buckets)) — see [[guardBudget]]
    guardBudget(guardName, maxCandidateInstances)(
      selfBudget(banded, Seq("band", "band_hash")))
    bandPairs(banded)
  }

  /** The raw (doc_id, band, band_hash) sketch rows of the portable
    * md5 MinHash scheme, computed by the native one-pass kernel — the
    * shared front half of [[minhashLshNative]], also consumed by the
    * streaming near-dup gate
    * ([[graft.streaming.StreamingFeatures.nearDedupStream]]). Pure
    * per-row projection (scan-shaped, no shuffle); docs too short to
    * shingle yield null sketches, which posexplode to zero rows.
    */
  def bandedSketch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4
  ): DataFrame = {
    docs
      .select(
        col(idCol).as("doc_id"),
        array_distinct(shingles(col(textCol), shingleWidth)).as("shs"))
      .select(
        col("doc_id"),
        posexplode(minhashBands(col("shs"), bands, rowsPerBand))
          .as(Seq("band", "band_hash")))
  }

  /** Corpus-level overlap between document groups (sources, dumps,
    * snapshots): for every group pair, the EXACT distinct-shingle
    * Jaccard plus its k-lane MinHash ESTIMATE — the data-governance
    * question "how much of corpus A is already in corpus B" answered
    * before any doc-level dedup runs.
    *
    * Scale: the exact path's inverted-index join shuffles on the
    * shingle (groups-per-shingle bounded by the number of corpora, so
    * no hot key) but is corpus-sized; the sketch path reduces each
    * group to k strings — one tiny row per group, broadcastable, and
    * the ONLY thing two datacenters need to exchange to estimate
    * cross-corpus overlap. Emitting both side by side makes the
    * estimate auditable at test scale; at 100 TB run the sketch alone
    * (drop the inverted-index branch). Lane hashes are the same
    * split-lane md5 scheme as the portable per-doc MinHash (two 64-bit
    * lanes per md5; lexicographic min over fixed-width lowercase hex
    * = numeric min), so the whole output is cross-engine exact.
    */
  def corpusOverlap(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      lanes: Int = 16
  ): DataFrame = {
    require(lanes > 0 && lanes % 2 == 0, s"lanes must be even and positive (two lanes per md5), got $lanes")
    require(lanes <= 200, s"lanes must be <= 200 (seed groups are two-digit), got $lanes")
    val sh = docs
      .select(
        col(groupCol).as("grp"),
        explode(array_distinct(shingles(col(textCol), shingleWidth))).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x")
      .join(sh.as("y"), col("x.sh") === col("y.sh") && col("x.grp") < col("y.grp"))
      .groupBy(col("x.grp").as("a"), col("y.grp").as("b"))
      .agg(count(lit(1)).as("inter"))
    // r12: the lanes/2 per-shingle md5-hex-substring columns are one
    // native graft_lane_hashes call (see [[graft.plans.LaneHashes]]
    // for the min-over-hex == min-over-flipped-long equivalence; the
    // lanes only feed EQUALITY counts downstream, so the long
    // re-encoding never reaches the output).
    val laneCols = (0 until lanes).map(i =>
      min(element_at(col("lh"), i + 1)).as(s"h$i"))
    val sig = sh
      .select(
        col("grp"),
        laneHashes(col("sh"), lanes).as("lh"))
      .groupBy(col("grp")).agg(laneCols.head, laneCols.tail: _*)
    val laneMatches = (0 until lanes)
      .map(i => when(col(s"p.h$i") === col(s"q.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val pairs = sig.as("p")
      .join(sig.as("q"), col("p.grp") < col("q.grp"))
      .select(col("p.grp").as("a"), col("q.grp").as("b"), laneMatches.as("lane_matches"))
    pairs
      .join(sizes.select(col("grp").as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col("grp").as("b"), col("n").as("n_b")), "b")
      .join(inter, Seq("a", "b"), "left")
      .select(
        col("a"), col("b"), col("n_a"), col("n_b"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("inter"), lit(0L))).cast("double"))
          .as("jaccard"),
        (col("lane_matches").cast("double") / lit(lanes)).as("est_jaccard"),
        col("lane_matches"))
  }

  /** Edit-distance-verified near-dup pairs — the classic two-stage
    * filter+verify record-linkage shape: MinHash-LSH candidate
    * generation ([[minhashLshNative]]) followed by an EXACT Levenshtein
    * check on the raw text. A pair survives when
    * levenshtein(a, b) <= ceil(maxEditFrac * max(len(a), len(b))).
    * Character-level edit distance catches near-dups that token-set
    * metrics miss (reorder-free small edits, inflection changes) and is
    * the verify metric of record-linkage literature.
    *
    * Scale: the O(len²) DP runs ONLY on LSH candidates (bounded by
    * band-bucket sizes), never all pairs; candidates shuffle as id
    * pairs and the texts are re-attached by two id joins, so the
    * bucket join never carries document bodies. The codegen'd built-in
    * `levenshtein` runs with its early-exit threshold form.
    */
  /** Candidate-count circuit breaker for the filter+verify family —
    * the pairwise analog of [[embeddingNearDups]]'s `maxBlockRows`.
    * Sub-quadratic candidate GENERATION does not bound candidate
    * COUNT: a duplication-heavy crawl (boilerplate, mirrored sites)
    * can push band/prefix buckets to millions of members, and then
    * the verify join's OUTPUT — not the algorithm — is the cost.
    * When a cap is set, the breaker prices the bucket join BEFORE it
    * runs, from per-bucket counts: the budget is the join's exact
    * output-instance count — Σ_bucket |A_b|·|B_b| (self-join form
    * Σ C(n_b, 2)) — an upper bound on distinct candidate pairs and the
    * direct driver of the verify stream's shuffle volume. Counting
    * buckets is O(|buckets|) work over the already-persisted token /
    * sketch frame, never O(pairs), so the guard adds NO pass over the
    * pair stream and the verify stays single-pass. The two rejected
    * designs are instructive at 100× sf0.1 (483 M candidate
    * instances): persisting the pair stream to count-then-reuse it
    * churned the unified memory region (containment 364 s); counting
    * a lazy plan and letting the verify recompute it paid the pair
    * shuffle twice (426 s); the bucket budget prices the same blowup
    * in ~3 s of bucket statistics and leaves the single-pass query at
    * 118 s (with the budget-sized dedupe exchange, [[distinctPairs]]).
    * This is how the AllPairs/PPJoin and LSH literature budgets
    * candidate generation — from index statistics, not from the
    * candidates themselves. None (the default) skips the check.
    *
    * The public parameter is named `maxCandidateInstances` precisely
    * because it caps bucket-join OUTPUT INSTANCES (Σ|A_b|·|B_b|), an
    * upper bound that can be several times larger than the distinct
    * candidate-pair count an earlier `maxCandidatePairs` cap measured —
    * the rename makes callers re-derive their cap against the new
    * semantics instead of tripping spuriously on an old value.
    */
  private def guardBudget(what: String, cap: Option[Long])(budget: => Long): Option[Long] =
    cap.map { c =>
      require(c > 0, s"maxCandidateInstances must be positive, got $c")
      val n = budget
      if (n > c) {
        throw new IllegalArgumentException(
          s"$what bucket join would emit $n candidate instances > maxCandidateInstances=$c — " +
            "duplication-heavy corpus: raise the similarity threshold, tighten blocking, " +
            "or pre-collapse exact dups (Dedup.exact) before the pairwise verify.")
      }
      n
    }

  /** Distinct over the candidate-instance stream, with the exchange
    * WIDTH derived from the priced budget when one is available.
    *
    * Why the width cannot be left to the engine: the instance stream
    * is the join's OUTPUT — AQE sizes exchanges from input bytes and
    * the static `spark.sql.shuffle.partitions` from deployment
    * defaults, both decades under a bucket join that emits orders of
    * magnitude more than it reads. At 100× sf0.1 the 2.09 B-instance
    * stream dedupes through a 32-wide hash aggregate at 65 M rows per
    * task — the per-task map overflows the unified region and the
    * spill storm puts the distinct at 388 s; at budget-derived width
    * (≈16 B per pair row, 128 MB post-shuffle target — the same
    * sizing note as GraftSession's cluster preset) the same dedupe is
    * 115 s, and the width only ever grows past the session setting, so
    * driver-SF plans are untouched.
    *
    * The wide path trades away the plain distinct's MAP-SIDE partial
    * aggregation (the explicit repartition exchange carries raw
    * instances; block is a join key, so same-block duplicate pairs
    * cluster within map partitions and partials combine them ~4×).
    * That trade only pays once the final aggregate is in its spill
    * regime, so it triggers at >16 M instances per session-width task
    * (≈0.5 GB of per-task hash map) — below that the engine-planned
    * distinct is strictly better (measured: the borderline sf1 jaccard
    * budget crossing into the wide path cost 4 s → 13 s). Un-priced
    * calls (maxCandidateInstances = None) keep the engine-planned distinct.
    */
  private def distinctPairs(
      instances: DataFrame,
      priced: Option[Long],
      idRange: (Long, Long) = (0L, Long.MaxValue)): DataFrame = {
    val (minId, maxId) = idRange
    val session = instances.sparkSession.sessionState.conf.numShufflePartitions
    // graft.dedup.widePairExchangeRows: instances-per-session-width-task
    // threshold where the budget-sized wide exchange takes over from the
    // engine-planned distinct. A deployment knob (bigger executors can
    // hold bigger per-task hash maps) and the spec hook that lets a
    // small fixture force the wide/packed path under an oracle.
    val regimeRows = instances.sparkSession.conf
      .getOption("graft.dedup.widePairExchangeRows")
      .map(_.toLong).getOrElse(16000000L)
    val spillRegime = priced.exists(_ / session > regimeRows)
    if (spillRegime) {
      // Ship ONE packed long per pair instead of two: the instance
      // stream is Ω(output) rows of nothing but (a, b), so its shuffle
      // row IS the exchange — at 100× sf0.1 the 2.09 B-instance
      // containment exchange is the query's disk working set, and the
      // sf10 per-pair verify cost drifted 0.24→0.33–0.47 µs purely on
      // one-box disk pressure over it (SCALING.md round 6). When both
      // ids fit in 31 bits (corpus under ~2.1 B docs — beyond that the
      // unpacked path keeps correctness), pack a<<32|b: half the
      // shuffle bytes, and the dedupe becomes a single-long hash
      // aggregate instead of a two-column one.
      // BOTH bounds gate packing: a negative id sign-extends in the
      // cast-to-long and its high bits bleed into a's slot under
      // bitwiseOR, colliding distinct pairs onto one pk — so min >= 0
      // is as load-bearing as max < 2^31.
      val packable = minId >= 0L && maxId < (1L << 31)
      val bytesPerRow = if (packable) 8.0 else 16.0
      val width = math.min(
        math.ceil(priced.get * bytesPerRow / (128L << 20)).toLong, 4096L).toInt
      if (packable) {
        // unpack casts back to the source id type so the packed regime
        // is schema-invisible (int ids stay int downstream)
        val idType = instances.schema("a").dataType
        instances
          .select(
            shiftleft(col("a").cast("long"), 32)
              .bitwiseOR(col("b").cast("long")).as("pk"))
          .repartition(math.max(width, session), col("pk"))
          .dropDuplicates(Seq("pk"))
          .select(
            shiftright(col("pk"), 32).cast(idType).as("a"),
            col("pk").bitwiseAND(lit(0xFFFFFFFFL)).cast(idType).as("b"))
      } else
        instances.repartition(math.max(width, session), col("a"), col("b"))
          .dropDuplicates(Seq("a", "b"))
    } else instances.distinct()
  }

  /** Exact output-instance count of `a JOIN b ON keys`, from per-key
    * counts — the [[guardBudget]] price for a two-sided bucket join.
    * One-row frame form so it can share an action with other pricing
    * aggregates ([[pricedPayloadStats]]).
    */
  private def crossBudgetDf(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val ca = a.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_na"))
    val cb = b.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_nb"))
    ca.join(cb, keys)
      .agg(coalesce(sum(col("_na") * col("_nb")), lit(0L)).as("_budget"))
  }

  private def crossBudget(a: DataFrame, b: DataFrame, keys: Seq[String]): Long =
    crossBudgetDf(a, b, keys).head.getLong(0)

  /** Unordered-pair instance count of a self-join on `keys`, DOUBLED
    * (Σ n_bucket·(n_bucket − 1); halve for Σ C(n_bucket, 2)) — the
    * [[guardBudget]] price for a banded / prefix self-join with an
    * `a < b` guard, in the same one-row frame form as
    * [[crossBudgetDf]].
    */
  private def selfBudgetDf(a: DataFrame, keys: Seq[String]): DataFrame =
    a.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .agg(coalesce(sum(col("_n") * (col("_n") - lit(1L))), lit(0L)).as("_budget"))

  private def selfBudget(a: DataFrame, keys: Seq[String]): Long =
    selfBudgetDf(a, keys).head.getLong(0) / 2

  /** Fold the candidate-budget price and the token-payload stats read
    * into ONE driver action (r12, guide §5: each `.head` is a full job
    * barrier — the two pricing reads per pair-verify query were
    * sequential driver round-trips over the same persisted substrate).
    * The stats half reads, from the freqSortedTokens frame in one
    * aggregate: exact payload bytes (rank elements, 8B conservative —
    * ints halve it — plus per-row array/id overhead), which pick the
    * verify-join strategy ([[verifyAttach]]); and the (min, max) doc-id
    * range, which decides whether [[distinctPairs]] may pack (a, b)
    * into one long — both bounds, because a negative id sign-extends
    * under the pack and corrupts the key even when the max is small.
    * The returned values are byte-identical to the unfused reads: the
    * budget row and the stats row are independent one-row aggregates
    * glued by a cross join, evaluated together. `budgetDf` is by-name
    * and only evaluated when `cap` is set, preserving [[guardBudget]]'s
    * None-skips-the-check contract. `halveBudget` selects the
    * self-join (Σ C(n,2)) convention of [[selfBudget]].
    */
  private def pricedPayloadStats(
      what: String,
      cap: Option[Long],
      budgetDf: => DataFrame,
      halveBudget: Boolean,
      sorted: DataFrame): (Option[Long], Long, (Long, Long)) = {
    val stats = sorted.agg(
      coalesce(sum(col("nw")), lit(0L)).as("_s0"), count(lit(1)).as("_s1"),
      coalesce(min(col("doc_id").cast("long")), lit(-1L)).as("_s2"),
      coalesce(max(col("doc_id").cast("long")), lit(Long.MaxValue)).as("_s3"))
    val row = cap match {
      case Some(_) => budgetDf.crossJoin(stats).head
      case None    => stats.select(lit(0L).as("_budget"), col("*")).head
    }
    val raw = row.getLong(0)
    val priced = guardBudget(what, cap)(if (halveBudget) raw / 2 else raw)
    (priced,
      row.getLong(1) * 8L + row.getLong(2) * 48L,
      (row.getLong(3), row.getLong(4)))
  }

  def editVerifiedPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxEditFrac: Double,
      maxCandidateInstances: Option[Long] = None
  ): DataFrame = {
    // The verify stage's cost is per-PAIR CPU — a full Levenshtein DP
    // over document BODIES — while its input is a tiny pair stream.
    // AQE coalesces exchanges by BYTES, blind to downstream per-row
    // compute: the candidate exchange (≈100 KB of id pairs at 10×
    // sf0.1) coalesces to ONE partition and the whole DP runs
    // single-threaded (measured 9.1 s vs 2.1 s). A round-robin
    // redistribution to session width keeps the DP parallel; it must
    // be round-robin — a keyed repartition on (a, b) matches the
    // upstream aggregate's partitioning and is elided by the planner.
    val cands = minhashLshNative(docs, idCol, textCol,
      maxCandidateInstances = maxCandidateInstances,
      guardName = "editVerifiedPairs").select(col("a"), col("b"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
    // raw-text payload: ~1B/char UTF-8 with 2x headroom + row overhead
    val sz = docs
      .agg(coalesce(sum(length(col(textCol))), lit(0L)), count(lit(1))).head
    val attach = verifyAttach(docs, sz.getLong(0) * 2L + sz.getLong(1) * 48L)
    val ta = docs.select(col(idCol).as("a"), col(textCol).as("text_a"))
    val tb = docs.select(col(idCol).as("b"), col(textCol).as("text_b"))
    cands
      .join(attach(ta), "a")
      .join(attach(tb), "b")
      .withColumn("edit_dist", levenshtein(col("text_a"), col("text_b")).cast("long"))
      .where(col("edit_dist") <=
        ceil(greatest(length(col("text_a")), length(col("text_b"))) * lit(maxEditFrac)))
      .select(col("a"), col("b"), col("edit_dist"))
  }

  /** 64-bit SimHash from word unigrams: per bit, sign of the sum of
    * +/-1 contributions of each token hash. Near-dups = pairs with small
    * hamming distance, blocked on 16-bit bands (a pair within hamming
    * distance 3 shares at least one of 4 bands exactly).
    */
  /** SimHash bit-counter step over a materialized token-hash array.
    * The array must come from its own projection: higher-order lambdas
    * re-evaluate a captured expression tree per element, so an inlined
    * tokenizer would be recomputed 64 times per row (a 10x slowdown
    * measured on the MinHash signature of the same shape).
    */
  def simhashFromHashes(hashes: Column): Column = {
    // bit i of the simhash = 1 iff sum_t(bit_i(hash(t)) ? 1 : -1) > 0
    val bits: Seq[Column] = (0 until 64).map { i =>
      val bitSum = aggregate(
        hashes,
        lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(bitSum > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  def simhash(text: Column): Column =
    simhashFromHashes(transform(distinctTokens(text), t => xxhash64(t)))

  /** Native one-pass simhash (graft.plans.SimHash64): the whole sketch
    * as a single codegen'd projected column — no explode, no
    * aggregation, scan-speed sketch-per-document. Bit-identical to
    * [[simhash]] (spec-checked).
    */
  def simhashNative(text: Column): Column =
    column(graft.plans.SimHash64(expression(distinctTokens(text))))

  def simhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    // Band count is DERIVED from maxHamming: a pair within hamming
    // distance d differs in at most d bands, so d+1 bands guarantee at
    // least one exactly-matching band (pigeonhole) — exact candidate
    // recall for the requested radius, whatever the caller passes.
    // 60-bit md5-derived token hashes (see md5Long60), so an external
    // SQL oracle rebuilds the identical sketch.
    val nBits = 60
    val nBands = maxHamming + 1
    require(nBands <= nBits, s"maxHamming=$maxHamming needs $nBands bands over $nBits bits")
    val base = nBits / nBands
    val rem = nBits % nBands
    val widths = Seq.tabulate(nBands)(b => if (b < rem) base + 1 else base)
    val bandOffsets = widths.scanLeft(0)(_ + _).init
    // Same explode->aggregate shape as minhashLsh: one codegen'd pass,
    // nBits bit-counter sums with map-side combine.
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(distinctTokens(col(textCol))).as("tok"))
      .select(col("doc_id"), md5Long60(col("tok")).as("h"))
    val bitSums = (0 until nBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val sh = toks
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col("doc_id"),
        (0 until nBits)
          .map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
    val banded = sh.select(
      col("doc_id"),
      col("sh"),
      posexplode(
        array((0 until nBands).map(b =>
          shiftright(col("sh"), bandOffsets(b)).bitwiseAND((1L << widths(b)) - 1)): _*)
      ).as(Seq("band", "bh")))
    val a = banded.select(col("band"), col("bh"), col("doc_id").as("a"), col("sh").as("sha"))
    val b = banded.select(col("band"), col("bh"), col("doc_id").as("b"), col("sh").as("shb"))
    a.join(b, Seq("band", "bh"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("sha").bitwiseXOR(col("shb")).as("x"))
      .distinct()
      .withColumn("hamming", bit_count(col("x")).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Exact word-set Jaccard over blocked pairs (block = e.g. language)
    * via a prefix-filtered similarity join (AllPairs/PPJoin family,
    * Bayardo et al., WWW'07 — public algorithm):
    *
    *  1. canonical token order = ascending global frequency, so a
    *     doc's prefix holds its rarest tokens;
    *  2. candidate pairs must share a token in their first
    *     `nw - ceil(t*nw) + 1` tokens — any pair with Jaccard >= t
    *     provably does — plus pass the size-ratio filter
    *     (t*|B| <= |A|, t*|A| <= |B|);
    *  3. only candidates get an exact intersect-size verify (the
    *     allocation-free merge walk of [[graft.plans.SortedIntersectSize]]
    *     over the sorted rank arrays).
    *
    * Shuffles are bounded by prefix-token buckets (rarest-first keeps
    * them small on natural corpora), never the full |block|^2 pair
    * matrix, and the verify join re-attaches token arrays by id so the
    * candidate shuffle carries only (block, a, b) triples.
    */
  def jaccardWordPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      maxCandidateInstances: Option[Long] = None
  ): DataFrame = {
    val sorted = freqSortedTokens(docs, idCol, textCol, blockCol)
    val prefix = sorted
      .withColumn("p", (col("nw") - ceil(col("nw") * threshold) + 1).cast("int"))
      .select(
        col("block"), col("doc_id"), col("nw"),
        explode(slice(col("stoks"), lit(1), col("p"))).as("pw"))
    val pa = prefix.select(col("block"), col("pw"), col("doc_id").as("a"), col("nw").as("nwa"))
    val pb = prefix.select(col("block"), col("pw"), col("doc_id").as("b"), col("nw").as("nwb"))
    // fail-fast candidate budget from prefix-bucket sizes — see
    // [[guardBudget]]: Σ C(n_bucket, 2), priced before the join runs;
    // the priced value also sizes the pair-stream dedupe exchange.
    // Budget + payload stats share one driver action (pricedPayloadStats).
    val (priced, payloadBytes, docIdRange) = pricedPayloadStats(
      "jaccardWordPairs", maxCandidateInstances,
      selfBudgetDf(prefix, Seq("block", "pw")), halveBudget = true, sorted)
    val cands = distinctPairs(
      pa
        .join(pb, Seq("block", "pw"))
        .where(
          col("a") < col("b") &&
          col("nwa") >= col("nwb") * threshold && col("nwb") >= col("nwa") * threshold)
        .select(col("a"), col("b")),
      priced, docIdRange)
    // adaptive verify attach — see [[verifyAttach]]: broadcast while
    // the rank arrays fit (zero pair-stream shuffle), SHJ beyond
    val attach = verifyAttach(sorted, payloadBytes)
    val ta = sorted.select(col("doc_id").as("a"), col("stoks").as("ta"), col("nw").as("nwa"))
    val tb = sorted.select(col("doc_id").as("b"), col("stoks").as("tb"), col("nw").as("nwb"))
    cands
      .join(attach(ta), "a")
      .join(attach(tb), "b")
      // merge-walk intersect size over the sorted rank arrays — see
      // [[graft.plans.SortedIntersectSize]]: array_intersect builds a
      // hash set per candidate row; this kernel is allocation-free.
      .withColumn("inter", sortedIntersectSize(col("ta"), col("tb")))
      .withColumn(
        "jaccard",
        round(col("inter") / (col("nwa") + col("nwb") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Shared PPJoin substrate: per doc, its distinct 64-bit-hashed
    * tokens sorted by ascending global frequency (rarest first), with
    * the distinct-token count. Tokens are hashed up front so every
    * downstream shuffle key, sort and intersect works on longs instead
    * of strings (identical set semantics modulo 64-bit collisions).
    *
    * Persisted: multiple consumers read it (both prefix-join sides +
    * both verify-join sides). Under a plain action AQE's runtime
    * exchange reuse evaluates the tokenize + frequency-join + sort
    * subtree once, but consumers that materialize through the RDD path
    * (checkpoint/localCheckpoint — e.g. connectedComponents pinning
    * the edge list) lose that reuse and re-run the subtree per
    * consumer (measured 2-4x the query cost). MEMORY_AND_DISK so a
    * 100 TB corpus spills instead of evicting — the footprint is one
    * row of sorted token hashes per doc, the same order as a shuffle
    * write of the tokenized corpus.
    */
  private def freqSortedTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String
  ): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      col(blockCol).as("block"),
      array_distinct(transform(distinctTokens(col(textCol)), t => xxhash64(t))).as("toks"))
    val words = toks.select(
      col("block"), col("doc_id"), size(col("toks")).as("nw"),
      explode(col("toks")).as("word"))
    val freq = words.groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // Dictionary-encode the vocabulary as DENSE FREQUENCY RANKS via the
    // distributed prefix-sum numbering (never a single-task window — a
    // web-scale vocabulary is billions of rows). Ranks replace token
    // hashes everywhere downstream: ascending rank == ascending
    // (freq, word), so slice(stoks, 1, p) is still the rarest-first
    // prefix, and |a∩b| over ranks equals |a∩b| over the HASHED token
    // sets (rank assignment is a bijection on hash values). Ranks do
    // NOT remove the exact-verify caveat: they number xxhash64(token)
    // values, so two raw tokens colliding in xxhash64 still share one
    // rank — the ~2^-64-per-pair collision risk sits upstream of the
    // ranking and is unchanged. The practical win is bytes: a rank is an
    // int (4B vs 8B) with heavy small-value skew, so the arrays the
    // verify join broadcasts/ships compress well, where xxhash64 values
    // are incompressible noise. A vocabulary beyond Int.MaxValue
    // distinct tokens falls back to long ranks.
    val (numbered, vocabTotal) =
      FeatureStore.globalRowNumbersWithTotal(freq, Seq("freq", "word"))
    val rank =
      if (vocabTotal <= Int.MaxValue.toLong) col("row_number").cast("int")
      else col("row_number")
    words
      .join(numbered.select(col("word"), rank.as("rank")), "word")
      .groupBy(col("block"), col("doc_id"), col("nw"))
      .agg(array_sort(collect_list(col("rank"))).as("stoks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Verify-join physical strategy, chosen from the MEASURED dedup-side
    * payload size (token-rank arrays / raw text). The pairwise verify
    * attaches per-doc payloads to a candidate-pair stream that is
    * orders of magnitude larger than the doc table — Ω(output pairs) —
    * and the three possible strategies differ by decades there:
    *
    *  - BROADCAST the doc payloads: the pair stream never shuffles —
    *    both attach joins run map-side where candidates are produced.
    *    Strictly dominant whenever the payload fits executor memory.
    *  - SHUFFLED HASH: one shuffle of the pair stream, zero sorts;
    *    per-partition build = payloadBytes / numPartitions. The regime
    *    for corpora beyond the broadcast ceiling (billions of docs).
    *  - SORT-MERGE (the static planner's pick once the payload
    *    outgrows its file-size broadcast estimate) SORTS the fat pair
    *    stream: measured 385 s at 100× sf0.1 vs 303 s forced-SHJ vs
    *    35 s broadcast (SCALING.md round 6). Never the right choice
    *    for this join.
    *
    * The decision cannot be left to the planner: its static estimate
    * for an exploded/aggregated subtree is off by orders of magnitude,
    * and AQE's runtime promotion only sees sizes after it has already
    * committed the first shuffle. One cheap aggregate over the
    * (persisted, reused-by-the-query) doc frame reads the exact
    * payload size instead. `graft.dedup.verifyBroadcastBytes`
    * (default 256 MB) is the deployment ceiling — raise it on
    * big-memory executors, lower it on small ones.
    */
  private def verifyAttach(
      docsSide: DataFrame,
      payloadBytes: Long): DataFrame => DataFrame = {
    val ceiling = docsSide.sparkSession.conf
      .getOption("graft.dedup.verifyBroadcastBytes")
      .map(_.toLong).getOrElse(256L << 20)
    if (payloadBytes <= ceiling) df => broadcast(df)
    else df => df.hint("shuffle_hash")
  }

  /** Asymmetric CONTAINMENT join — doc-in-doc detection: emit ordered
    * pairs (a, b) where C(a→b) = |tokens(a) ∩ tokens(b)| / |tokens(a)|
    * >= t, i.e. container b holds at least a t-fraction of a's
    * distinct tokens. Catches quote-expansion, boilerplate-wrapping
    * and doc-inclusion near-dups that the SYMMETRIC Jaccard size-ratio
    * filter deliberately excludes (a small doc inside a big one).
    *
    * Prefix filter, containment form: if |a∩b| >= t·|a| then any
    * nw_a − ceil(t·nw_a) + 1 of a's tokens include one shared with b —
    * so only a's (rarest-first) prefix is indexed, but it probes
    * b's FULL posting list (no symmetric size filter; only the
    * necessary |b| >= t·|a| guard). The verify re-attaches token
    * arrays by id and computes the exact intersection; the emitted
    * ratio is the raw IEEE division of two exact ints (never round a
    * cross-engine output ratio).
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      maxCandidateInstances: Option[Long] = None
  ): DataFrame = {
    val sorted = freqSortedTokens(docs, idCol, textCol, blockCol)
    val prefix = sorted
      .withColumn("p", (col("nw") - ceil(col("nw") * threshold) + 1).cast("int"))
      .select(
        col("block"), col("doc_id").as("a"), col("nw").as("nwa"),
        explode(slice(col("stoks"), lit(1), col("p"))).as("pw"))
    val full = sorted.select(
      col("block"), col("doc_id").as("b"), col("nw").as("nwb"),
      explode(col("stoks")).as("pw"))
    // fail-fast candidate budget from the prefix×posting bucket sizes —
    // see [[guardBudget]]: Σ |prefix_b|·|full_b|, priced before the
    // join; the priced value also sizes the pair-stream dedupe exchange.
    // Budget + payload stats share one driver action (pricedPayloadStats).
    val (priced, payloadBytes, docIdRange) = pricedPayloadStats(
      "containmentPairs", maxCandidateInstances,
      crossBudgetDf(prefix, full, Seq("block", "pw")), halveBudget = false, sorted)
    val cands = distinctPairs(
      prefix
        .join(full, Seq("block", "pw"))
        .where(col("a") =!= col("b") && col("nwb") >= col("nwa") * threshold)
        .select(col("a"), col("b")),
      priced, docIdRange)
    // adaptive verify attach — see [[verifyAttach]]: broadcast while
    // the rank arrays fit (zero pair-stream shuffle), SHJ beyond
    val attach = verifyAttach(sorted, payloadBytes)
    val ta = sorted.select(col("doc_id").as("a"), col("stoks").as("ta"), col("nw").as("nwa"))
    val tb = sorted.select(col("doc_id").as("b"), col("stoks").as("tb"))
    cands
      .join(attach(ta), "a")
      .join(attach(tb), "b")
      // merge-walk intersect size — see [[graft.plans.SortedIntersectSize]]
      .withColumn("inter", sortedIntersectSize(col("ta"), col("tb")).cast("long"))
      .withColumn("containment", col("inter").cast("double") / col("nwa").cast("double"))
      .where(col("containment") >= threshold)
      .select(col("a"), col("b"), col("inter"), col("containment"))
  }

  /** Sequence-level (span) dedup — the paragraph-dedup analog for a
    * corpus without document structure, after Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * public): repeated token sequences are removed corpus-wide, not
    * just whole-document dups. Documents are cut into non-overlapping
    * `spanWords`-token spans (trailing partial span included); a span
    * survives only at its FIRST corpus occurrence (ordered by doc id,
    * then position). Returns per-doc span counts and the reassembled
    * deduped text.
    *
    * Scale shape: explode to one row per span, fingerprint with md5,
    * one groupBy(fingerprint) keeps the min (doc, pos) occurrence
    * (map-side combine), join back on fingerprint (shuffle bounded by
    * span count), then one groupBy(doc) reassembles kept spans in
    * order. No pairwise joins at all — cost is linear in corpus tokens,
    * which is what makes span dedup viable where pair-based near-dup
    * methods need blocking.
    */
  def spanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = 10
  ): DataFrame = {
    require(spanWords > 0, s"spanWords must be positive, got $spanWords")
    // bindArray: the token array must be a BOUND lambda value — slicing
    // a projected `split` column inside the span lambda gets re-inlined
    // by CollapseProject and re-splits the doc once per span.
    val spanArr = graft.functions.TextFunctions.bindArray(split(col(textCol), " ")) { toks =>
      transform(
        // greatest(..., 0): an empty token list still yields one
        // (empty) span — sequence(0, -1) would descend, not stop.
        sequence(
          lit(0),
          greatest(
            ceil(size(toks) / lit(spanWords.toDouble)).cast("int") - 1, lit(0))),
        i => concat_ws(" ", slice(toks, i * spanWords + 1, lit(spanWords))))
    }
    val spans = docs
      .select(col(idCol).as("doc_id"), posexplode(spanArr).as(Seq("pos", "span")))
      .withColumn("fp", md5(col("span")))
    val first = spans
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("fp"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    spans
      .join(first, "fp")
      .withColumn("keep", col("doc_id") === col("fdoc") && col("pos") === col("fpos"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("pos"), col("span"))))),
            s => s.getField("span"))).as("text_dedup"))
  }

  /** Sliding-window duplicated-substring detection (the ExactSubstr
    * flavor of Lee et al.'s "Deduplicating Training Data Makes
    * Language Models Better", at token granularity): every k-token
    * window is fingerprinted; windows whose fingerprint occurs ≥ 2
    * times ANYWHERE in the corpus (another doc or a self-repeat) mark
    * duplicated positions, and overlapping/adjacent positions merge
    * into maximal [span_start, span_end] token ranges per doc — the
    * regions an exact-substring dedup pass would cut. Differs from
    * [[spanDedup]] (disjoint fixed blocks): sliding windows catch
    * duplication at ANY alignment, not just block boundaries.
    *
    * Scale shape: grams per doc = tokens − k + 1 (linear); the global
    * duplicate test is one fingerprint groupBy (map-side combined) +
    * a semi-join back; span merging is a doc-partitioned window —
    * never a corpus-wide sort. The suffix-array formulation finds
    * byte-exact maximal repeats; the k-gram formulation is the
    * standard distributed surrogate (resolution k tokens).
    */
  def ngramSpanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 10
  ): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    val gramArr = graft.functions.TextFunctions.bindArray(
      split(col(textCol), " ")) { tk =>
      when(
        size(tk) >= k,
        transform(
          sequence(lit(0), size(tk) - k),
          i => md5(concat_ws(" ", slice(tk, i + 1, lit(k))))))
        .otherwise(array().cast("array<string>"))
    }
    val grams = docs
      .select(col(idCol).as("doc_id"), posexplode(gramArr).as(Seq("pos", "fp")))
    val dupFps = grams
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select(col("fp"))
    val dupPos = grams.join(dupFps, Seq("fp"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn(
        "new_island",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k - 1, 0).otherwise(1))
      .withColumn(
        "island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Dedup cluster resolution: connected components over a near-dup
    * pair graph via the alternating large-star / small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm). Each doc ends up labeled with the
    * smallest doc id reachable through near-dup edges (the cluster
    * canonical).
    *
    *  - large-star: around each center u, every strictly-larger
    *    neighbor re-attaches to m = min(N(u) ∪ {u});
    *  - small-star: on edges oriented big→small, all of N(u) ∪ {u}
    *    re-attach to the minimum neighbor.
    *
    * Converges in O(log diameter) rounds (vs O(diameter) for plain
    * min-label propagation) with two window passes + two distincts per
    * round — no per-round edge-relation join. Both star steps are
    * partitioned windows keyed on the star center, so no round moves
    * data through a single task.
    *
    * Every pin (the initial edge set and each round's) observes the
    * edge count and a hash-sum in its own job: equal (count, hash-sum)
    * on consecutive pins is the fixpoint. After any pin whose (long id)
    * edges fit the session's bound on a relation it ships whole
    * (`spark.sql.autoBroadcastJoinThreshold`, 16 B per edge), the
    * edges are collected and finished on the driver by union-find with
    * the smaller id as root — the same component-minimum labels the
    * rounds reach, without their jobs. A bound ≤ 0 turns the finish
    * off. A large graph never shrinks below |V| − #components edges,
    * so it keeps the distributed rounds throughout.
    *
    * `durable = true` switches the per-round pin from
    * `localCheckpoint` (executor-memory lineage cut; fine single-node)
    * to `checkpoint` (HDFS/object-store; survives executor loss on a
    * real cluster — requires `sparkContext.setCheckpointDir`).
    */
  def connectedComponents(
      pairs: DataFrame,
      nodes: DataFrame,
      idCol: String,
      durable: Boolean = false
  ): DataFrame = {
    val driverBytes = pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // Fixpoint signature: decimal hash-sum (overflow-proof under ANSI).
    def pin(df: DataFrame): (DataFrame, (Long, java.math.BigDecimal)) = {
      val (pinned, sig) = Pins.pinObserved(df, durable,
        count(lit(1)).as("n"),
        coalesce(
          sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("h"))
      (pinned, (sig("n").asInstanceOf[Long], sig("h").asInstanceOf[java.math.BigDecimal]))
    }
    // Materialize the edge list ONCE: the (possibly expensive)
    // pair-producing subtree must not re-evaluate every round.
    var (edges, signature) = pin(
      pairs
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    def fitsDriver: Boolean = driverBytes > 0 && signature._1 <= driverBytes / 16 &&
      edges.schema("u").dataType == LongType
    var converged = false
    while (!converged && !fitsDriver) {
      val sym = edges
        .select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val wCenter = Window.partitionBy(col("u"))
      // large-star over the symmetric neighborhood. No dedup here: the
      // small-star windows are duplicate-insensitive (min over the
      // partition) and its own distinct canonicalizes the round's
      // output, so skipping a per-round shuffle is free.
      val ls = sym
        .withColumn("m", least(min(col("v")).over(wCenter), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star over big→small edges (ls output is big→small).
      // Emit both (v → m) and (u → m) from ONE pass via explode — the
      // old two-branch unionByName consumed withMin twice, evaluating
      // the large-star + small-star window subtree twice per round
      // (r11 optimization: same multiset of edges, one evaluation).
      val withMin = ls.withColumn("m", min(col("v")).over(wCenter))
      val ss = withMin
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      val (next, nextSignature) = pin(ss)
      converged = nextSignature == signature
      edges = next
      signature = nextSignature
    }
    val labels =
      if (fitsDriver) componentMinima(edges)
      else edges.groupBy(col("u")).agg(min(col("v")).as("lbl")).withColumnRenamed("u", "doc_id")
    nodes
      .select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("canonical_id"))
  }

  /** The driver finish of [[connectedComponents]]: collect a small
    * (u, v) long edge list, union-find it with the smaller root always
    * winning (so every root is its component's minimum; path halving),
    * and return a local (doc_id, lbl) relation for every node that is
    * not its own component minimum.
    */
  private def componentMinima(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var a = x
      if (!parent.contains(a)) parent(a) = a
      while (parent(a) != a) {
        parent(a) = parent(parent(a))
        a = parent(a)
      }
      a
    }
    edges.collect().foreach { r =>
      val (ru, rv) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val rows = parent.keys.toArray.flatMap { x =>
      val root = find(x)
      if (root != x) Some(Row(x, root)) else None
    }
    edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("lbl", LongType))))
  }

  /** Embedding-cosine near-dups within blocks, EXACT, with bounded
    * per-task work. A bare block self-join puts a whole block's |B|^2
    * pairs in one task — one hot block (a dominant language, say)
    * recreates the quadratic blowup blocking was meant to prevent. Here
    * each block is hash-split into ceil(|B|/chunkRows) chunks and every
    * unordered chunk pair becomes its own join key, so one task verifies
    * at most chunkRows^2 pairs regardless of block size. The pair SET is
    * identical to the naive self-join (total O(|B|^2) work is inherent
    * to exact output); what changes is that it is spread across
    * (|B|/chunkRows)^2 parallel tasks instead of one straggler.
    * Small blocks (one chunk) degenerate to the plain self-join.
    *
    * SCALE ROLE: this is the exact VERIFICATION SCAFFOLD / oracle path
    * — total work is inherently O(Σ|block|²) however well it is spread.
    * The production 100 TB paths are [[embeddingNearDupsCellBlocked]]
    * and the hyperplane-LSH dedup (sub-quadratic candidates + exact
    * verify). `maxBlockRows` makes that contract enforceable: when set,
    * the call fails fast if any block exceeds it instead of silently
    * burning a quadratic block.
    */
  def embeddingNearDups(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      chunkRows: Int = 4096,
      maxBlockRows: Option[Long] = None
  ): DataFrame = {
    require(chunkRows > 0, s"chunkRows must be positive, got $chunkRows")
    val s = space.select(col(blockCol).as("block"), col(keyCol).as("k"), col(vecCol).as("vec"))
    val counted = s.groupBy(col("block")).agg(count(lit(1)).as("_n"))
    maxBlockRows.foreach { cap =>
      // one-row driver read, only when the guard is requested
      val worst = counted.agg(max(col("_n"))).head()
      val w = if (worst.isNullAt(0)) 0L else worst.getLong(0)
      require(
        w <= cap,
        s"embeddingNearDups is an exact O(|block|^2) verification scaffold; largest " +
          s"block has $w rows > maxBlockRows=$cap. Use embeddingNearDupsCellBlocked " +
          "or hyperplane-LSH dedup for corpora at this scale.")
    }
    val sizes = counted
      .select(
        col("block"),
        ceil(col("_n") / lit(chunkRows.toDouble)).cast("int").as("_nc"))
    val rows = s
      .join(broadcast(sizes), Seq("block"))
      .withColumn("_c", pmod(xxhash64(col("k")), col("_nc")).cast("int"))
    // Row in chunk c is the LEFT of chunk pairs (c, j>=c) and the RIGHT
    // of chunk pairs (i<=c, c): each unordered row pair meets in exactly
    // one task. Same-chunk tasks (t1 == t2) see both orientations and
    // dedupe with k-order; cross-chunk tasks see exactly one.
    val aSide = rows
      .withColumn("_t2", explode(sequence(col("_c"), col("_nc") - 1)))
      .select(
        col("block"), col("_c").as("_t1"), col("_t2"),
        col("k").as("ka"), col("vec").as("va"))
    val bSide = rows
      .withColumn("_t1", explode(sequence(lit(0), col("_c"))))
      .select(
        col("block"), col("_t1"), col("_c").as("_t2"),
        col("k").as("kb"), col("vec").as("vb"))
    aSide
      .join(bSide, Seq("block", "_t1", "_t2"))
      .where(col("_t1") < col("_t2") || col("ka") < col("kb"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .where(col("cos_sim") > threshold)
      .select(
        least(col("ka"), col("kb")).as("a"),
        greatest(col("ka"), col("kb")).as("b"),
        round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Approximate embedding near-dups with SIZE-BOUNDED blocks: block =
    * (label, k-means cell), multi-probed so each vector joins its
    * nProbe nearest cells. Sub-quadratic — pair count is the sum of
    * per-(block, cell) squares and the codebook bounds cell sizes —
    * with a controlled recall loss for pairs split across non-probed
    * cells (same structure as the minhash band trade-off). Each
    * vector's nProbe cells are one native top-n projection over the
    * collected codebook ([[Similarity.probeCells]]), one row per input
    * row. Candidates carry only id triples; vectors re-attach for the
    * exact cosine verify, so the candidate shuffle stays narrow.
    */
  def embeddingNearDupsCellBlocked(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      nCells: Int,
      nProbe: Int = 2,
      kmeansIterations: Int = 2
  ): DataFrame = {
    val cents = Similarity.kmeansFit(space, keyCol, vecCol, nCells, kmeansIterations)
    val probes = Similarity.probeCells(space, keyCol, vecCol, cents, nProbe)
      .select(col("query_id").as("k"), col("cell"))
    val sides = space
      .select(col(blockCol).as("block"), col(keyCol).as("k"))
      .join(probes, "k")
    val cands = sides.select(col("block"), col("cell"), col("k").as("a"))
      .join(sides.select(col("block"), col("cell"), col("k").as("b")), Seq("block", "cell"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    val va = space.select(col(keyCol).as("a"), col(vecCol).as("va"))
    val vb = space.select(col(keyCol).as("b"), col(vecCol).as("vb"))
    cands
      .join(va, "a")
      .join(vb, "b")
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .where(col("cos_sim") > threshold)
      .select(col("a"), col("b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Embedding near-dups via random-HYPERPLANE LSH (Charikar STOC'02:
    * sign(r·x) bits are a locality-sensitive family for cosine) — the
    * fully sub-quadratic embedding-dedup path, composing two existing
    * kernels: the md5-signed random projection supplies the
    * hyperplanes (graft_rp), the sign bits pack into one BIGINT
    * sketch, and candidates are pairs agreeing EXACTLY on one of
    * `bands` bit-bands (same blocking shape as [[simhashDedup]]).
    * Every emitted pair is verified with exact cosine on the original
    * vectors, so precision is 1.0; banding trades recall for the
    * candidate count, and — unlike [[embeddingDedup]]'s metadata
    * blocking — bucket sizes track the DATA's angular structure, not
    * a label's cardinality.
    *
    * Plan: one projection+sketch pass (pinned — consumed per band),
    * band-hash shuffle, within-bucket id-pair join, verify join
    * re-attaching vectors by id. Deterministic end to end: md5
    * hyperplanes, exact double signs, exact band bits.
    */
  /** Count-adaptive banding parameters for [[embeddingLshDedup]]: the
    * band hash must GROW with the corpus or bucket count stays fixed
    * while bucket SIZE — and the candidate join's output — grows
    * linearly with n, i.e. the "sub-quadratic" path silently reverts
    * to quadratic at scale (measured, round 11: the old fixed
    * planes=16/bands=4 driver query — 16 buckets per band forever —
    * emitted a multi-billion-pair candidate stream at sf10's 200k
    * vectors and filled 65 GB of shuffle before ENOSPC; both engines
    * blew up, DuckDB's oracle spilled past the same disk). Width w is
    * the smallest bit count in [4, 16] with floor(n / 2^w) <=
    * targetBucket — an integer threshold walk, NO float log, so any
    * engine derives the identical w from the same count — and bands
    * tile the 63 usable non-sign bits of the BIGINT sketch
    * (arithmetic-only right shifts never touch the sign bit that
    * way). Returns (planes, bands) with planes = bands·w.
    */
  def lshAdaptiveParams(n: Long, targetBucket: Long = 16L): (Int, Int) = {
    require(targetBucket >= 1, s"targetBucket must be >= 1, got $targetBucket")
    var w = 4
    while (w < 16 && (n >> w) > targetBucket) w += 1
    (63 / w * w, 63 / w)
  }

  def embeddingLshDedup(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      dims: Int,
      planes: Int,
      bands: Int,
      cosFloor: Double,
      seed: String = "rp",
      maxCandidateInstances: Option[Long] = None
  ): DataFrame = {
    require(planes >= 1 && planes <= 64, s"planes must fit one long, got $planes")
    require(bands >= 1 && planes % bands == 0, s"bands=$bands must divide planes=$planes")
    val width = planes / bands
    val rp = graft.operators.Quantization
      .randomProjectionNative(col(vecCol), dims, planes, seed)
    // bindArray: the sketch folds `planes` sign tests over ONE kernel
    // evaluation — referencing the rp expression per bit would re-run
    // the whole projection per plane.
    val sk = bindArray(rp) { v =>
      (0 until planes)
        .map(i => when(element_at(v, i + 1) > 0.0, lit(1L << i)).otherwise(0L))
        .reduce(_.bitwiseOR(_))
    }
    val sketches = space
      .select(col(keyCol).as("id"), sk.as("sk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val banded = sketches.select(
      col("id"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sk"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bh")))
    val x = banded.select(col("band"), col("bh"), col("id").as("a"))
    val y = banded.select(col("band"), col("bh"), col("id").as("b"))
    // fail-fast candidate budget from the band-bucket sizes (reads the
    // persisted sketch once, O(buckets)) — see [[guardBudget]]; the
    // priced value also sizes the pair-stream dedupe exchange and
    // enables the packed-long regime via the id range
    // Budget + id-range stats share one driver action (r12, same fold
    // as pricedPayloadStats — one job barrier instead of two).
    val idStats = sketches.agg(
      min(col("id").cast("long")).as("_i0"), max(col("id").cast("long")).as("_i1"))
    val row = maxCandidateInstances match {
      case Some(_) =>
        selfBudgetDf(banded, Seq("band", "bh")).crossJoin(idStats).head
      case None => idStats.select(lit(0L).as("_budget"), col("*")).head
    }
    val priced = guardBudget("embeddingLshDedup", maxCandidateInstances)(
      row.getLong(0) / 2)
    val idRange =
      if (row.isNullAt(1)) (0L, Long.MaxValue)
      else (row.getLong(1), row.getLong(2))
    val cands = distinctPairs(
      x.join(y, Seq("band", "bh"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b")),
      priced, idRange)
    val va = space.select(col(keyCol).as("a"), col(vecCol).as("va"))
    val vb = space.select(col(keyCol).as("b"), col(vecCol).as("vb"))
    cands
      .join(va, "a")
      .join(vb, "b")
      .withColumn("cos_sim", round(cosine(col("va"), col("vb")), 6))
      .where(col("cos_sim") >= cosFloor)
      .select(col("a"), col("b"), col("cos_sim"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public method):
    * SEMANTIC dedup by cluster-blocked centroid-rank pruning. Cluster
    * the embedding space with the deterministic Lloyd schedule
    * ([[Similarity.kmeansCodebook]]), rank each cluster's members by
    * cosine similarity to their own centroid (descending, id
    * tiebreak), and mark a member a duplicate iff some EARLIER-ranked
    * member of its cluster is within `cos > eps` — so each group of
    * near-identical points keeps exactly its best-ranked exemplar,
    * and what survives is the semantically diverse core of the
    * corpus (the paper's LAION/C4 pruning recipe).
    *
    * Scale shape: clustering is the k-means broadcast/scan loop; the
    * within-cluster pair work is delegated to [[embeddingNearDups]]
    * with block = cluster, so per-task pair count is chunk-bounded
    * even for a hot cluster, and k itself bounds expected cluster
    * size at corpus/k. The ranked assignment is persisted — it feeds
    * the pair join (twice) and the final output, and re-running the
    * Lloyd chain per consumer would triple the dominant cost.
    *
    * Returns (vec_id, cluster, rnk, kept): rank-1 rows are always
    * kept; `kept = false` rows are the prunable semantic duplicates.
    */
  def semDeDup(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int,
      iterations: Int,
      eps: Double
  ): DataFrame = {
    val ranked = Similarity
      .clusterAssign(space, keyCol, vecCol, k, iterations)
      .withColumn(
        "rnk",
        row_number().over(
          Window.partitionBy(col("cluster")).orderBy(col("csim").desc, col("vec_id"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Every eps-pair meets exactly once (a < b); the DUPLICATE of the
    // pair is its later-ranked member — existence of any earlier-ranked
    // eps-neighbor is exactly "some pair names me as the later member".
    val pairs = embeddingNearDups(ranked, "vec_id", "vec", "cluster", eps)
    val ra = ranked.select(col("vec_id").as("a"), col("rnk").as("rnk_a"))
    val rb = ranked.select(col("vec_id").as("b"), col("rnk").as("rnk_b"))
    val dups = pairs
      .join(ra, "a")
      .join(rb, "b")
      .select(
        when(col("rnk_a") > col("rnk_b"), col("a")).otherwise(col("b")).as("vec_id"))
      .distinct()
      .withColumn("_dup", lit(true))
    ranked
      .join(dups, Seq("vec_id"), "left_outer")
      .select(
        col("vec_id"),
        col("cluster").cast("long").as("cluster"),
        col("rnk").cast("long").as("rnk"),
        coalesce(col("_dup"), lit(false)).unary_!.as("kept"))
  }
}
