package graft.operators

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Distributed cardinality estimation — portable HyperLogLog (Flajolet
  * et al. 2007). The 100 TB answer to "how many distinct
  * tokens/users/keys does this corpus have": one pass, one tiny
  * shuffle of at most `m` registers per group, no shuffle of the
  * distinct value space (an exact count_distinct shuffles every
  * distinct value; at web scale that IS the dataset).
  *
  * Engine-portable by construction, unlike Spark's
  * approx_count_distinct (whose HLL++ hash is Spark-private): the item
  * hash is the top 60 bits of md5 ([[TextFunctions.md5Long60]]), the
  * register index is the hash's top `p` bits, and rho (leading-zero
  * rank of the remaining 60-p bits) is derived from the binary string
  * length — integer/string ops every SQL engine reproduces
  * bit-identically. Registers are integers; sketch union is
  * element-wise max (associative/commutative — merge order free).
  *
  * The estimate is emitted as the RAW HLL formula E = alpha_m * m^2 /
  * sum(2^-M_b), computed exactly: the denominator is accumulated as
  * the INTEGER sum of 2^(maxRho+1-M_b) (order-free, overflow-free for
  * p >= 6), and the final few double ops (literal-constant alpha, one
  * cast, one division) are IEEE-identical in any engine. The
  * small/large-range corrections (linear counting, which needs ln)
  * are deliberately NOT folded in — ln is libm-dependent and would
  * break bit-exact verification; callers apply them downstream from
  * the emitted v_empty. Standard error ~= 1.04/sqrt(m): p=8 -> ~6.5%.
  */
object Cardinality {

  /** Max rho for a 60-bit md5 hash with a p-bit register index: the
    * remainder has 60-p bits, so rho (first-set-bit rank from the
    * top) ranges 1..60-p, plus 60-p+1 for an all-zero remainder.
    */
  private def maxRho(p: Int): Int = 60 - p + 1

  /** Per-group HLL registers: one row per (group, register) present.
    * Absent registers are empty (value 0). Input: one row per item
    * occurrence (duplicates are free — max is idempotent).
    */
  def hllRegisters(items: DataFrame, groupCols: Seq[String], itemCol: Column, p: Int)
      : DataFrame = {
    require(p >= 4 && p <= 16, s"register-index bits p=$p out of range [4,16]")
    val h = TextFunctions.md5Long60(itemCol)
    val remBits = 60 - p
    val bucket = shiftright(h, remBits)
    val rem = h.bitwiseAND(lit((1L << remBits) - 1L))
    // rho = leading-zero count of the (60-p)-bit remainder + 1
    //     = remBits+1 - bitlength(rem);   bin() is unpadded in Spark
    // and DuckDB, so bitlength = length(bin(x)) for x > 0.
    val rho = when(rem === 0L, lit(remBits + 1))
      .otherwise(lit(remBits + 1) - length(bin(rem)))
    items
      .select(groupCols.map(col) :+ bucket.as("bucket") :+ rho.as("rho"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).cast("int").as("m_rho"))
  }

  /** Merge register sets (sketch union): element-wise max per
    * (group, bucket). Inputs are outputs of [[hllRegisters]] with the
    * same p.
    */
  def hllMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("m_rho")).cast("int").as("m_rho"))

  /** Estimate from registers: per group, the raw HLL estimate plus the
    * exact-integer evidence columns (n_registers present, v_empty,
    * s_scaled = sum 2^(maxRho-m_rho) over ALL m registers with empty
    * ones contributing 2^maxRho). All columns but the final
    * double-division estimate are BIGINT.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val mr = maxRho(p)
    // alpha_m (m >= 128): 0.7213/(1 + 1.079/m) — literal-double ops,
    // IEEE-identical in any engine.
    require(m >= 128, "alpha constant below assumes m >= 128")
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val grouped = registers
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_registers"),
        sum(call_function("shiftleft", lit(1L), lit(mr) - col("m_rho"))).as("s_present"))
    grouped.select(
      groupCols.map(col) ++ Seq(
        col("n_registers"),
        (lit(m.toLong) - col("n_registers")).as("v_empty"),
        (col("s_present") +
          (lit(m.toLong) - col("n_registers")) * lit(1L << mr)).as("s_scaled")): _*)
      .withColumn(
        "est_distinct",
        alpha * lit(m.toDouble) * lit(m.toDouble) * lit(math.pow(2.0, mr)) /
          col("s_scaled").cast("double"))
  }

  /** One-shot grouped estimate over an item stream. */
  def hllDistinct(items: DataFrame, groupCols: Seq[String], itemCol: Column, p: Int)
      : DataFrame =
    hllEstimate(hllRegisters(items, groupCols, itemCol, p), groupCols, p)

  /** Audience overlap via KMV sketches (Beyer et al. SIGMOD'07) — the
    * set-OPERATION counterpart of HLL's per-group counting: for every
    * segment pair, estimate |A|, |B|, |A∪B| and |A∩B| from k-minimum-
    * value sketches alone. HLL can union but not intersect; KMV's
    * merged sketch carries a Jaccard estimator (the fraction of the
    * union's k minima present in both sides), so overlap questions
    * ("how many users click AND purchase") run on 2·k longs per
    * segment instead of a count-distinct join over the event log.
    *
    * One pass builds every segment's sketch via the bounded
    * [[graft.plans.KmvSketch]] aggregate (dedup inside the buffer — no
    * distinct shuffle; ≤ k longs per partition reach the exchange);
    * the pair stage is array math over |segments|² tiny rows. The
    * md5-derived hash and the fixed IEEE assembly of the estimates
    * make every number engine-exact; `exact_d` (per-segment exact
    * distinct) is emitted alongside as the accuracy witness — at
    * production scale drop it.
    */
  def audienceOverlapKmv(
      events: DataFrame,
      segmentCol: String,
      userCol: String,
      k: Int
  ): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    val M = 1152921504606846976.0 // 2^60, the md5Long60 hash space
    val sk = events
      .groupBy(col(segmentCol).as("seg"))
      .agg(
        TextFunctions.kmvSketch(TextFunctions.md5Long60(col(userCol).cast("string")), k)
          .as("sk"),
        count_distinct(col(userCol)).as("exact_d"))
      // pin: the pair stage self-joins this |segments|-row frame; an
      // unpinned plan would re-scan the event log once per join leg
      .pinned()
    def est(c: Column): Column =
      when(size(c) < k, size(c).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(M) / element_at(c, k).cast("double"))
    val a = sk.select(col("seg").as("seg_a"), col("sk").as("ska"), col("exact_d").as("exact_a"))
    val b = sk.select(col("seg").as("seg_b"), col("sk").as("skb"), col("exact_d").as("exact_b"))
    a.join(b, col("seg_a") < col("seg_b"))
      .withColumn("merged", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("est_union_d", est(col("merged")))
      .withColumn(
        "jacc",
        size(array_intersect(array_intersect(col("merged"), col("ska")), col("skb")))
          .cast("double") / size(col("merged")).cast("double"))
      .select(
        col("seg_a"), col("seg_b"), col("exact_a"), col("exact_b"),
        floor(est(col("ska"))).cast("long").as("est_a"),
        floor(est(col("skb"))).cast("long").as("est_b"),
        floor(col("est_union_d")).cast("long").as("est_union"),
        floor(col("jacc") * col("est_union_d")).cast("long").as("est_intersection"))
  }
}
