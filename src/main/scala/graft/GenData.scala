package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: writes an N-times corpus from a
  * source SF dir by KEY-OFFSET REPLICATION, for measuring how each
  * operator family's runtime scales with input size (SCALING.md).
  *
  * Why replication and not fresh synthesis: the driver's generators are
  * not available, and replication with consistent key offsets preserves
  * every distribution the queries see (per-day densities, per-entity
  * event counts, join fan-outs, text/dup structure, vector geometry)
  * EXACTLY, copy for copy — so a 10x corpus stresses 10x input with
  * identical per-record statistics, which is the controlled experiment
  * a scaling exponent needs.
  *
  * Controls that keep outputs LINEAR in the copy count (so measured
  * growth is engine cost, not output explosion):
  *  - every foreign/primary key is offset by copyIdx * (max(key)+1): joins
  *    never cross copies, and key spaces stay dense and collision-free;
  *  - document token namespaces are suffixed per copy (copy 0
  *    untouched): within-copy dup/similarity structure is byte-exact to
  *    the source corpus, while cross-copy token overlap is zero — pair
  *    outputs grow 10x, not 100x. (The output-explosion regime on
  *    duplication-heavy corpora is governed separately by the
  *    maxCandidateInstances guards — see Dedup.guardCandidates.)
  *  - embedding vectors are cyclically rotated per copy: rotation is an
  *    isometry, so intra-copy cosine structure (kNN lists, cluster
  *    shapes) is exactly the source's, while cross-copy similarities
  *    are incoherent.
  *
  * Usage: runMain graft.GenData <srcDir> <outDir> <copies>
  */
object GenData {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenData <srcDir> <outDir> <copies>")
    val (src, out, copies) = (args(0), args(1), args(2).toInt)
    require(copies >= 1, s"copies must be >= 1, got $copies")
    val spark = Bench.session()

    def load(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    // SPARK_GRAFT_GEN_TABLES=csv limits which tables are WRITTEN —
    // the disk-budget knob for single-family scale probes (an sf300
    // lineitem fits where the full sf300 corpus would not). Strides
    // and FK checks still read every source table, so a filtered run
    // can never produce keys that would collide with a later full run.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_GEN_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def save(df: DataFrame, name: String): Unit =
      if (only.forall(_.contains(name))) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        System.err.println(s"[gendata] wrote $name")
      } else System.err.println(s"[gendata] skipped $name (SPARK_GRAFT_GEN_TABLES)")
    // key-space STRIDE per copy: max+1, because the driver corpus keys
    // are 0-based — offsetting by max(key) alone collides one id per
    // copy boundary (found at 2x: a duplicated doc_id broke CC node
    // counts, prefix-sum total orders and BM25 df in one stroke)
    def stride(df: DataFrame, col0: String): Long =
      df.agg(max(col(col0))).head().getLong(0) + 1L

    // replicate df `copies` times; `f(copyIdx, df)` applies that copy's
    // offsets/perturbations (copy 0 must be the identity)
    def replicate(df: DataFrame)(f: (Int, DataFrame) => DataFrame): DataFrame =
      (0 until copies).map(i => f(i, df)).reduce(_ unionByName _)

    // dimension tables are shared across copies (nationkeys stay valid)
    save(load("region"), "region")
    save(load("nation"), "nation")

    val customer = load("customer")
    val supplier = load("supplier")
    val part = load("part")
    val orders = load("orders")
    val events = load("events")
    val kCust = stride(customer, "c_custkey")
    val kSupp = stride(supplier, "s_suppkey")
    val kPart = stride(part, "p_partkey")
    val kOrder = stride(orders, "o_orderkey")
    val kEvent = stride(events, "event_id")

    // Foreign keys are offset by their REFERENCED table's stride, so the
    // "joins never cross copies" invariant holds only while every FK
    // value fits inside that stride. True for the driver corpus, but a
    // corpus with e.g. non-customer user_ids would silently collide keys
    // across copies and skew the scaling curves — fail fast instead.
    def requireFits(df: DataFrame, fk: String, k: Long, dim: String): Unit =
      require(
        stride(df, fk) <= k,
        s"$fk stride ${stride(df, fk)} exceeds $dim stride $k — " +
          "FK values outside the referenced key space would collide across copies")
    val lineitem = load("lineitem")
    requireFits(orders, "o_custkey", kCust, "customer")
    requireFits(lineitem, "l_orderkey", kOrder, "orders")
    requireFits(lineitem, "l_partkey", kPart, "part")
    requireFits(lineitem, "l_suppkey", kSupp, "supplier")
    requireFits(events, "user_id", kCust, "customer")

    save(replicate(customer)((i, df) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * kCust))), "customer")
    save(replicate(supplier)((i, df) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * kSupp))), "supplier")
    save(replicate(part)((i, df) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * kPart))), "part")
    save(replicate(orders)((i, df) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * kOrder))
        .withColumn("o_custkey", col("o_custkey") + lit(i * kCust))), "orders")
    save(replicate(lineitem)((i, df) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * kOrder))
        .withColumn("l_partkey", col("l_partkey") + lit(i * kPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * kSupp))), "lineitem")
    save(replicate(events)((i, df) =>
      df.withColumn("event_id", col("event_id") + lit(i * kEvent))
        .withColumn("user_id", col("user_id") + lit(i * kCust))), "events")

    val documents = load("documents")
    val kDoc = stride(documents, "doc_id")
    save(replicate(documents) { (i, df) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * kDoc))
      if (i == 0) shifted
      else {
        // disjoint token namespace per copy: within-copy structure is
        // byte-exact to the source, cross-copy overlap is zero
        val t = array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_$i"))), " ")
        shifted
          .withColumn("text", t)
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }, "documents")

    val embeddings = load("embeddings")
    val kVec = stride(embeddings, "vec_id")
    val dims = embeddings.select(size(col("embedding"))).head().getInt(0)
    save(replicate(embeddings) { (i, df) =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(i * kVec))
      // composed isometries so every copy's transform is distinct up
      // to 4*dims copies: rotation (dims choices) x negation x
      // reversal — each preserves intra-copy cosine structure exactly
      // while decorrelating copies from each other
      val r = i % dims
      val neg = (i / dims) % 2 == 1
      val rev = (i / (2 * dims)) % 2 == 1
      // beyond the 4*dims rotation x negation x reversal family,
      // compose a per-group ±1 DIAGONAL (coordinate sign flips): for
      // same-copy vectors (Dx)·(Dy) = Σ d_j² x_j y_j = x·y since
      // d_j² = 1, so intra-copy cosine structure is still EXACT, while
      // distinct multiplicative-hash bit windows decorrelate groups
      // from each other — the family now covers 4*dims*2^31 copies
      // (group 0 is the identity diagonal, so copies < 4*dims are
      // bit-identical to the pre-extension outputs)
      val g = i / (4 * dims)
      require(g < Int.MaxValue, s"copy $i exceeds the isometry family")
      var e = col("embedding")
      if (r != 0) e = concat(slice(e, r + 1, dims - r), slice(e, 1, r))
      if (neg) e = transform(e, x => -x)
      if (rev) e = reverse(e)
      if (g != 0) {
        val pat = g.toLong * 2654435761L // Knuth multiplicative hash
        val signs = (0 until dims).map(j =>
          lit(if (((pat >> (j % 31)) & 1L) == 1L) -1.0f else 1.0f))
        e = zip_with(e, array(signs: _*), (x, s) => x * s)
      }
      if (i == 0) shifted else shifted.withColumn("embedding", e)
    }, "embeddings")

    System.err.println(s"[gendata] done: ${copies}x of $src at $out")
    spark.stop()
  }
}
