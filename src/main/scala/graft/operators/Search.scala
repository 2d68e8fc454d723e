package graft.operators

import graft.operators.Pins.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Full-text ranked retrieval + hybrid (keyword ∪ vector) search — the
  * query-serving complement to the corpus-prep operators: the same
  * engine that dedups and curates the corpus can answer "which
  * documents match this query" over it, lexically (BM25), semantically
  * (kNN, see [[Similarity]]), or fused (reciprocal-rank fusion, the
  * standard hybrid-search combiner).
  *
  * Scale shape: BM25 is two map-side-combined aggregations over the
  * token stream (term frequencies pruned to the query vocabulary
  * BEFORE the shuffle, so the exchange carries only query-term hits)
  * plus broadcast joins of the tiny per-term/corpus statistics. RRF is
  * pure integer arithmetic over two rank lists.
  *
  * Cross-engine exactness: per-term BM25 scores are rounded to 12dp
  * and summed as DECIMAL(28,12) (order-free), ranks break ties on
  * doc_id, and RRF scores are EXACT integers — each rank contributes
  * `SCALE / (c + rank)` where SCALE = lcm(c+1..c+maxRank), so fusion
  * is hash-reproducible in any engine with 64-bit integers.
  */
object Search {

  /** BM25 (Robertson/Spärck Jones; the Lucene-style `ln(1 + ...)`
    * positive idf) top-k documents per query.
    *
    * `queries`: (query_id: long, term: string) rows — one row per query
    * term; duplicate terms in one query are collapsed (standard bag-of-
    * words query with binary query-side tf). The query table is small
    * by construction and is broadcast.
    *
    * `selfExclude`: drop candidates whose doc_id equals the query_id —
    * the more-like-this mode, where queries ARE corpus documents.
    *
    * Plan: tokenize → explode (dl attached pre-explode so no second
    * pass over the corpus) → broadcast-semi-prune to query vocabulary →
    * ONE groupBy(doc, term) with map-side combine → broadcast df/corpus
    * stats → per-term score → decimal sum per (query, doc) → per-query
    * rank window. The window partitions on query_id (never global);
    * production fan-out is many queries, so the ranking stage is as
    * parallel as the query batch.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      selfExclude: Boolean = false
  ): DataFrame = {
    val qTerms = queries.select(col("query_id"), col("term")).distinct()
    val base = docs.select(
      col(idCol).as("doc_id"),
      coalesce(size(tokens(col(textCol))), lit(0)).cast("long").as("dl"),
      tokens(col(textCol)).as("toks"))
    // Corpus stats: one tiny row, broadcast — never a driver collect.
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .join(broadcast(qTerms.select(col("term").as("tok")).distinct()), Seq("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // Constants are built EXPRESSION-IDENTICALLY to the SQL oracle
    // ((k1 + 1), (1 - b) as ops, not pre-folded Scala doubles): IEEE
    // fold order must match for bit-equal scores across engines.
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .join(broadcast(stats))
      .join(broadcast(qTerms), col("tok") === col("term"))
      .withColumn(
        "idf",
        log(lit(1.0) +
          (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn(
        "norm",
        col("dl").cast("double") * col("n_docs") / col("sum_dl"))
      .withColumn(
        "term_score",
        round(
          col("idf") * (col("tf") * (lit(k1) + lit(1.0))) /
            (col("tf") + lit(k1) * ((lit(1.0) - lit(b)) + lit(b) * col("norm"))),
          12).cast("decimal(28,12)"))
    val perDoc = scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score_dec"))
    val candidates =
      if (selfExclude) perDoc.where(col("doc_id") =!= col("query_id")) else perDoc
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_dec").desc, col("doc_id"))
    candidates
      .select(
        col("query_id"), col("doc_id"),
        row_number().over(w).cast("long").as("rank"),
        // decimal → double cast is exact-input deterministic in every
        // engine; never round() a double for output (engines disagree
        // on rendering-vs-binary half-up).
        col("score_dec").cast("double").as("score"))
      .where(col("rank") <= k)
  }

  /** Per-document TF-IDF keyword extraction: the top `k` terms of each
    * document by tf·idf (idf = ln(N/df), raw tf) — the "what is this
    * document about" summarizer feeding tag clouds, sparse retrieval
    * vectors, and cluster labeling. Plan: one (doc, term) count with
    * map-side combine, document frequencies aggregated from it,
    * idf broadcast back, one per-doc rank window. Scores are
    * 12dp-rounded decimals so ranking and output are engine-exact;
    * ties break on the term string.
    */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn(
        "tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 12)
          .cast("decimal(28,12)"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored
      .select(
        col("doc_id"), col("term"),
        row_number().over(w).cast("long").as("rank"),
        col("tfidf").cast("double").as("tfidf"))
      .where(col("rank") <= k)
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — diversify a candidate list: greedily pick the result
    * maximizing λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s), so near-
    * duplicates of already-chosen results fall behind novel ones.
    *
    * `candidates`: (query_id, doc_id, rel, vec) — a SMALL per-query
    * pool (a kNN front, typically 10–100 rows/query; pin it — each of
    * the k greedy rounds references it). Each round is one join of the
    * pool against the ≤(round−1)-row selected set, one max-sim
    * aggregate, and one argmax per query — all tiny, all distributed
    * per query; k stays a constant (result-page size), so the
    * sequential rounds are bounded plan depth, not data passes.
    * Ties break toward the smaller doc_id (argmax on (score, −id)).
    * Returns (query_id, doc_id, rank) with rank = selection order.
    */
  def mmrRerank(candidates: DataFrame, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0,1]")
    import graft.functions.VectorFunctions.cosine
    def pickBest(scored: DataFrame, rank: Int): DataFrame =
      scored
        .groupBy(col("query_id"))
        .agg(max_by(
          struct(col("doc_id"), col("vec")),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("best"))
        .select(
          col("query_id"), col("best.doc_id").as("doc_id"),
          col("best.vec").as("vec"), lit(rank.toLong).as("rank"))
    // Pin the (≤ queries×k row) selected set every round: it feeds the
    // next round TWICE (scored-join and union), so an unpinned plan
    // doubles per round — ~2^k subtrees by round k (an audit showed
    // 400+ exchanges in the static k=5 plan). Each pin is a tiny
    // eager materialization.
    val round1 = pickBest(
      candidates.withColumn("score", lit(lambda) * col("rel")), 1).pinned()
    val (sel, _) = (2 to k).foldLeft((round1, candidates)) { case ((selected, pool), r) =>
      val remaining = pool.join(
        selected.select(col("query_id"), col("doc_id")), Seq("query_id", "doc_id"),
        "left_anti")
      val scored = remaining
        .join(
          selected.select(col("query_id"), col("vec").as("s_vec")), Seq("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(
          first(col("rel")).as("rel"),
          first(col("vec")).as("vec"),
          max(cosine(col("vec"), col("s_vec"))).as("ms"))
        .withColumn(
          "score", lit(lambda) * col("rel") - (lit(1.0) - lit(lambda)) * col("ms"))
      (selected.unionByName(pickBest(scored, r)).pinned(), pool)
    }
    sel.select(col("query_id"), col("doc_id"), col("rank"))
  }

  /** Ranked-retrieval evaluation — the offline eval harness for any
    * retriever in the library (kNN, BM25, hybrid, PQ tiers): per
    * query, hits@k, first-relevant rank, reciprocal rank, recall@k
    * and precision@k against a ground-truth pair set. All float-free
    * where it matters: RR is the exact integer lcm(1..k)/rank (the
    * same scaling trick as RRF), counts are integers, and the two
    * ratios are single divisions of exact integers — deterministic in
    * any engine. Shape: one broadcast-able semi-join of the ranked
    * lists against the truth pairs + two tiny per-query aggregates;
    * every stage partitions on query_id, so eval cost scales with the
    * query batch, not the corpus.
    *
    * `ranked`: (query_id, doc_id, rank), rank 1..k per query.
    * `relevant`: (query_id, doc_id) ground-truth pairs.
    */
  def evalRanking(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    val scale = rrfScale(0, k) // lcm(1..k)
    val anchor = ranked.groupBy(col("query_id")).agg(count(lit(1)).as("n_ranked"))
    val hits = ranked
      .join(relevant.select(col("query_id"), col("doc_id")).distinct(),
        Seq("query_id", "doc_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_rel_at_k"),
        min(col("rank")).as("first_rel_rank"))
    val totals = relevant
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel_total"))
    anchor
      .join(hits, Seq("query_id"), "left_outer")
      .join(totals, Seq("query_id"), "left_outer")
      .select(
        col("query_id"),
        coalesce(col("n_rel_at_k"), lit(0L)).as("n_rel_at_k"),
        col("first_rel_rank"),
        coalesce(lit(scale) / col("first_rel_rank"), lit(0L)).cast("long")
          .as("rr_scaled"),
        coalesce(col("n_rel_total"), lit(0L)).as("n_rel_total"),
        (coalesce(col("n_rel_at_k"), lit(0L)).cast("double") /
          greatest(least(coalesce(col("n_rel_total"), lit(0L)), lit(k.toLong)), lit(1L))
            .cast("double")).as("recall_at_k"),
        (coalesce(col("n_rel_at_k"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("precision_at_k"))
  }

  /** lcm(c+1 .. c+maxRank) — the exact-integer RRF scale. For the
    * standard c=60, maxRank<=10 this is ~1.4e14; sums of a few lists
    * stay far below 2^63.
    */
  def rrfScale(c: Int, maxRank: Int): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (c + 1 to c + maxRank).map(_.toLong).reduce((a, x) => a / gcd(a, x) * x)
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09) of two ranked
    * lists, in EXACT integer arithmetic: contribution of rank r is
    * SCALE/(c+r) with SCALE = lcm(c+1..c+maxRank), which every (c+r)
    * divides — so scores are integers, fusion is order-free, and the
    * result hashes identically in any engine. Candidates appearing in
    * only one list keep their single contribution (standard RRF).
    *
    * Inputs: (query_id, doc_id, rank) with 1 <= rank <= maxRank.
    * Output: top-k fused per query with the integer rrf_score.
    */
  def rrfFuse(
      listA: DataFrame,
      listB: DataFrame,
      c: Int,
      maxRank: Int,
      k: Int
  ): DataFrame = rrfFuseAll(Seq(listA, listB), c, maxRank, k)

  /** N-list RRF — the same exact-integer fusion over any number of
    * ranked lists (e.g. dense kNN + BM25 + a binary-hamming tier).
    * Contributions are summed per (query, doc); the lcm scale keeps
    * every contribution integral, so adding lists never introduces
    * float drift (sum < maxRank·lists·SCALE ≪ 2^63 for practical
    * shapes). Lists are unioned BEFORE the single groupBy, so the
    * fusion costs one shuffle regardless of list count.
    */
  def rrfFuseAll(
      lists: Seq[DataFrame],
      c: Int,
      maxRank: Int,
      k: Int
  ): DataFrame = {
    require(lists.nonEmpty, "rrfFuseAll needs at least one ranked list")
    val scale = rrfScale(c, maxRank)
    def contrib(l: DataFrame) = l.select(
      col("query_id"), col("doc_id"),
      (lit(scale) / (lit(c.toLong) + col("rank"))).cast("long").as("pts"))
    val fused = lists.map(contrib).reduce(_.unionByName(_))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("pts")).as("rrf_score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rrf_score").desc, col("doc_id"))
    fused
      .select(
        col("query_id"), col("doc_id"),
        row_number().over(w).cast("long").as("rank"),
        col("rrf_score"))
      .where(col("rank") <= k)
  }
}
