package graft.operators

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.topKByScore

/** Deterministic sampling for training-data pipelines.
  *
  * Production corpus sampling must be REPRODUCIBLE: re-running the
  * pipeline (or running it on a different cluster) has to select the
  * same rows, and a row's fate must not depend on partitioning or scan
  * order — which rules out RNG-based `df.sample`. The standard answer
  * is content-keyed hash sampling (the same scheme as
  * FeatureStore.trainTestSplit, extended to per-stratum rates): a row
  * is kept iff a hash of (seed, key) falls below the rate threshold.
  *
  * Shape at 100 TB: a narrow scan-time filter — no shuffle, no state,
  * and the filter composes with parquet column pruning. Stratified
  * rates add only a broadcast of the rate table.
  */
object Sampling {

  /** 8-hex-digit lowercase threshold for a fraction of the 16^8 hash
    * space; fixed-width hex compares like the underlying 32-bit value.
    */
  private def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1], got $fraction")
    f"${math.floor(fraction * 4294967296.0).toLong min 4294967295L}%08x"
  }

  private def bucket(keyCol: Column, seed: Long): Column =
    substring(md5(concat(lit(s"$seed:"), keyCol.cast("string"))), 1, 8)

  /** Keep ~`fraction` of rows, chosen by hash of (seed, key). Same key
    * and seed always make the same decision — on any cluster, any
    * partitioning, any engine with md5 (the DuckDB oracle included).
    */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double, seed: Long): DataFrame =
    df.where(bucket(col(keyCol), seed) < lit(hexThreshold(fraction)))

  /** Per-stratum hash sampling: stratum s keeps ~rates(s) of its rows
    * (strata absent from the map keep `defaultRate`). The rate table is
    * a broadcast join of |rates| rows; the decision stays a scan-time
    * filter.
    */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      rates: Map[String, Double],
      defaultRate: Double,
      seed: Long
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rateRows = rates.toSeq.map { case (s, r) => (s, hexThreshold(r)) }
      .toDF(strataCol, "_thr")
    df.join(broadcast(rateRows), Seq(strataCol), "left_outer")
      .where(bucket(col(keyCol), seed) <
        coalesce(col("_thr"), lit(hexThreshold(defaultRate))))
      .drop("_thr")
  }

  /** Exact per-group budget sampling: keep exactly min(n, |group|)
    * rows per group, chosen deterministically by md5 rank — corpus
    * balancing to a hard per-language/per-source budget, where a
    * fraction-based sample can only hit the budget in expectation.
    * Cost: one rank window PARTITIONED BY the group (never global) —
    * the shuffle carries only the sampled table's columns. Ties in
    * the 32-bit hash prefix break on the key, so selection is total.
    */
  def perGroupBudget(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      n: Int,
      seed: Long
  ): DataFrame = {
    require(n > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(bucket(col(keyCol), seed), col(keyCol))
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= n)
      .drop("_rn")
  }

  /** Temperature-rebalanced corpus mixture (the mT5/XLM-R α-scaled
    * multinomial: sample groups ∝ p^α so small languages/sources are
    * upweighted without letting any group dominate), at the fixed
    * α = 0.5 where p^α is an IEEE-exact sqrt — no pow() portability
    * hazard. Group targets are all-integer: r_g = floor(√n_g · 1e6)
    * (sqrt and multiply are correctly-rounded IEEE ops, floor pins
    * them), target_g = min(n_g, B·r_g div Σr) — so the per-group
    * budgets, and therefore the md5-ranked selection, are
    * engine-exact. One tiny count aggregate + broadcast targets + one
    * rank window partitioned by group (never global).
    */
  def temperatureSample(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      totalBudget: Long,
      seed: Long
  ): DataFrame = {
    require(totalBudget > 0, "totalBudget must be positive")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
      .withColumn("_r",
        floor(sqrt(col("_n").cast("double")) * lit(1000000.0)).cast("long"))
    val tot = counts.agg(sum(col("_r")).as("_t"))
    val targets = counts
      .crossJoin(broadcast(tot))
      .select(
        col(groupCol),
        least(col("_n"), expr(s"($totalBudget * _r) div _t")).as("_target"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(bucket(col(keyCol), seed), col(keyCol))
    df.join(broadcast(targets), Seq(groupCol))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= col("_target"))
      .select(col(keyCol), col(groupCol), col("_rn").cast("long").as("rank"))
  }

  /** Greedy k-center coreset (Gonzalez 1985, the classic max-min
    * 2-approximation): start from the smallest id, then repeatedly
    * add the point FARTHEST from its nearest selected center —
    * diversity-maximizing exemplar selection for training-data
    * curation (cover the embedding space with k representatives,
    * the opposite bias of random sampling).
    *
    * Each of the k-1 rounds: one broadcast of the ≤k-row center set
    * into a nested-loop join + one per-candidate min aggregate + ONE
    * global max_by reduce (no sort). Distances are the native
    * graft_l2sq ordered fold; the argmax tiebreaks on the smaller id
    * — selection is total and engine-reproducible. The selected set
    * is pinned per round (it feeds the anti-join and the union).
    *
    * Returns (id, rank, dist): rank = selection order, dist = the
    * max-min distance when picked (the coverage radius sequence;
    * null for the seed row).
    */
  def kCenterSelect(space: DataFrame, keyCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import graft.functions.VectorFunctions.l2Sq
    val pts = space.select(col(keyCol).as("id"), col(vecCol).as("vec"))
    val seed = pts
      .agg(max_by(struct(col("id"), col("vec")), -col("id")).as("b"))
      .select(
        col("b.id").as("id"), col("b.vec").as("vec"),
        lit(1L).as("rank"), lit(null).cast("double").as("dist"))
      .pinned()
    (2 to k).foldLeft(seed) { (selected, r) =>
      val remaining = pts.join(selected.select(col("id")), Seq("id"), "left_anti")
      val scored = remaining
        .crossJoin(broadcast(selected.select(col("vec").as("c_vec"))))
        .groupBy(col("id"))
        .agg(
          first(col("vec")).as("vec"),
          min(l2Sq(col("vec"), col("c_vec"))).as("dmin"))
      val pick = scored
        .agg(max_by(
          struct(col("id"), col("vec"), col("dmin")),
          struct(col("dmin"), (-col("id")).as("nid"))).as("b"))
        .select(
          col("b.id").as("id"), col("b.vec").as("vec"),
          lit(r.toLong).as("rank"), col("b.dmin").as("dist"))
      selected.unionByName(pick).pinned()
    }.select(col("id"), col("rank"), col("dist"))
  }

  /** Priority sampling (Duffield–Lund–Thorup, JACM 2007): weighted
    * sampling WITHOUT replacement of k items plus the unbiased
    * subset-sum estimator. Each item draws a uniform u ∈ (0,1] and
    * gets priority w/u; the k highest priorities are the sample, and
    * with τ = the (k+1)-th priority, est_weight = max(w, τ) makes
    * Σ est_weight over any subset of the sample an unbiased estimate
    * of that subset's true weight sum — the standard way to keep a
    * size-k weighted summary of a 100 TB corpus that still answers
    * "how many bytes does slice X hold".
    *
    * Determinism/portability: u is md5-derived — low 52 bits of
    * md5(seed:key), u = (v+1)/2^52 — so the draw is content-keyed
    * (reproducible on any cluster, any engine with md5), and priority
    * is ONE IEEE division of exact inputs, bit-identical everywhere.
    *
    * Scale shape: one scan into a bounded (k+1)-heap aggregate with
    * map-side combine (the exchange carries ≤ k+1 rows per partition,
    * never the corpus), then a broadcast join of the k winners back
    * for their weights. Ties break on ascending key, so selection is
    * total.
    */
  def prioritySample(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      k: Int,
      seed: Long
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // u ∈ (0,1]: 52-bit md5 slice — (v+1)/2^52 is exact in a double,
    // and the two divisions below round identically in any IEEE engine.
    val u = (conv(
      substring(md5(concat(lit(s"$seed:"), col(keyCol).cast("string"))), 1, 13),
      16, 10).cast("long") + 1).cast("double") / lit(4503599627370496.0)
    // u must be computed in the SAME projection that renames keyCol —
    // it references the original column.
    val keyed = df.select(
      col(keyCol).as("id"),
      col(weightCol).cast("double").as("weight"),
      (col(weightCol).cast("double") / u).as("priority"))
    // k+1 best: rows 1..k are the sample, row k+1 (when it exists)
    // carries the threshold τ. Pinned — it feeds τ, the winner join,
    // and re-running it would re-scan the corpus per consumer.
    val top = keyed
      .agg(topKByScore(col("priority"), col("id"), k + 1).as("top"))
      .select(posexplode(col("top")).as(Seq("r", "e")))
      .select(
        col("e.id").as("id"),
        col("e.score").as("priority"),
        (col("r") + 1).cast("long").as("rank"))
      .pinned()
    val tau = top
      .agg(when(count(lit(1)) === k + 1, min(col("priority")))
        .otherwise(lit(0.0)).as("tau"))
    keyed
      .drop("priority")
      .join(broadcast(top.where(col("rank") <= k)), Seq("id"))
      .crossJoin(broadcast(tau))
      .select(
        col("id"), col("weight"), col("rank"), col("priority"),
        greatest(col("weight"), col("tau")).as("est_weight"))
  }

  /** Prototypicality pruning (SSP, Sorscher et al. NeurIPS'22 "Beyond
    * neural scaling laws" — public method): cluster the embedding
    * space (deterministic Lloyd via [[Similarity.clusterAssign]]),
    * score each point's prototypicality as cosine to its own
    * centroid, and KEEP the hardest `hardFraction` of every cluster
    * (lowest centroid similarity) — the paper's result is that with
    * abundant data, pruning the easy/prototypical examples beats
    * random pruning for downstream model quality. The per-cluster
    * budget (vs a global cut) preserves cluster coverage. With
    * SemDeDup (Dedup.semDeDup) this completes the published
    * embedding-pruning pair: remove near-duplicates, then keep the
    * informative core.
    *
    * Scale shape: Lloyd = one broadcast + one scan per iteration; the
    * ranking is one cluster-partitioned window (never global); kept
    * is a count-over-cluster comparison — no pairwise work at all.
    * Returns (vec_id, cluster, hardness_rank, kept): rank 1 = least
    * prototypical (kept first), ties on ascending vec_id.
    */
  def prototypePrune(
      space: DataFrame,
      keyCol: String,
      vecCol: String,
      k: Int,
      iterations: Int,
      hardFraction: Double
  ): DataFrame = {
    require(hardFraction > 0.0 && hardFraction <= 1.0, s"bad fraction $hardFraction")
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    graft.operators.Similarity
      .clusterAssign(space, keyCol, vecCol, k, iterations)
      .withColumn(
        "hardness_rank",
        row_number().over(byCluster.orderBy(col("csim").asc, col("vec_id")))
          .cast("long"))
      .withColumn("_n", count(lit(1)).over(byCluster))
      .select(
        col("vec_id"),
        col("cluster").cast("long").as("cluster"),
        col("hardness_rank"),
        (col("hardness_rank") <= ceil(col("_n") * hardFraction)).as("kept"))
  }

  /** Weighted corpus mixture: each source contributes a deterministic
    * hash sample at its own rate, tagged with its name — the
    * "data-mixture" step of LLM corpus assembly. All sources must share
    * a schema; the result is their sampled union.
    */
  def mixture(
      sources: Seq[(String, DataFrame, Double)],
      keyCol: String,
      seed: Long
  ): DataFrame = {
    require(sources.nonEmpty, "mixture needs at least one source")
    sources
      .map { case (name, df, rate) =>
        hashSample(df, keyCol, rate, seed).withColumn("mix_source", lit(name))
      }
      .reduce(_ unionByName _)
  }
}
