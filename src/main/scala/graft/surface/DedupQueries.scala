package graft
package surface

import graft.operators.Pins.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators._

import Common._

/** Dedup: each query's Spark build beside its DuckDB oracle. */
object DedupQueries {

  /** Deterministic 1/256 keyed sample of a verified-pair stream (a, b,
    * ...): keep pairs whose md5(a:b) 16-bit prefix ≡ 0 (mod 256).
    * Engine-portable (md5 + integer mod), scale-invariant, and keyed
    * on the pair itself so both engines slice identically — the gate
    * form for generated corpora where the full pair dump is
    * impractical (sf10 containment is ~360 M rows).
    */
  private def pairSample(pairs: DataFrame): DataFrame = {
    // Native kernel (graft.plans.PairSampleMatch) — bit-identical to
    //   conv(substring(md5(concat(cast(a as string), ':',
    //                             cast(b as string))), 1, 4), 16, 10)
    //     .cast("int") % 256 === 0
    // (the predicate tests the SECOND md5 digest byte of "<a>:<b>").
    // The optimizer pushes this filter into the candidate bucket-join
    // condition — once per candidate INSTANCE, not per verified pair —
    // so the declarative form's per-row MessageDigest + hex + conv
    // allocations were the single hottest expression of the bench
    // (r12 stall dumps: >40 CPU-min in NumberConverter/md5Hex when the
    // per-query codegen ran de-optimized). See PairSampleExpression.
    pairs.where(TextFunctions.pairSampleMatch(col("a").cast("long"), col("b").cast("long")))
  }

  private val jaccardWordsOracleSql: String = """
      WITH w AS (
        SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS word,
               len(list_distinct(string_split(text, ' '))) AS nw
        FROM documents),
      i AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter,
               any_value(a.nw) AS nwa, any_value(b.nw) AS nwb
        FROM w a JOIN w b ON a.word = b.word AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT a, b, round(inter / (nwa + nwb - inter), 6) AS jaccard
      FROM i WHERE round(inter / (nwa + nwb - inter), 6) >= 0.9"""

  private val containmentOracleSql: String = """
      WITH w AS (
        SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS word,
               len(list_distinct(string_split(text, ' '))) AS nw
        FROM documents),
      i AS (
        SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS inter,
               any_value(a.nw) AS nwa
        FROM w a JOIN w b ON a.word = b.word AND a.lang = b.lang AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT a, b, inter, CAST(inter AS DOUBLE) / nwa AS containment
      FROM i WHERE CAST(inter AS DOUBLE) / nwa >= 0.8"""

  /** The DuckDB transcription of [[pairSample]]'s filter. */
  private def pairSampleSql(sql: String): String =
    s"""SELECT * FROM ($sql)
      WHERE ('0x' || substr(md5(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 4))::INT % 256 = 0"""

  /** Corpus-pair overlap: exact distinct-shingle Jaccard + the 16-lane
    * split-md5 MinHash estimate, both engines computing identical
    * string minima over fixed-width lowercase hex.
    */
  private val corpusOverlapOracleSql: String = {
    val lanes = 16
    val laneMins = (0 until lanes / 2)
      .flatMap(g => Seq(
        s"min(substr(md5('$g:' || sh), 1, 16)) AS h${2 * g}",
        s"min(substr(md5('$g:' || sh), 17, 16)) AS h${2 * g + 1}"))
      .mkString(",\n               ")
    val laneMatch = (0 until lanes)
      .map(i => s"(CASE WHEN p.h$i = q.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""
      WITH shx AS (
        SELECT DISTINCT grp, sh FROM (
          SELECT source AS grp, unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
          FROM (SELECT source, string_split(text, ' ') AS t FROM documents))),
      sizes AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM shx GROUP BY grp),
      inter AS (
        SELECT x.grp AS a, y.grp AS b, CAST(count(*) AS BIGINT) AS inter
        FROM shx x JOIN shx y ON x.sh = y.sh AND x.grp < y.grp
        GROUP BY x.grp, y.grp),
      sig AS (
        SELECT grp, $laneMins
        FROM shx GROUP BY grp),
      m AS (
        SELECT p.grp AS a, q.grp AS b, CAST($laneMatch AS BIGINT) AS lane_matches
        FROM sig p JOIN sig q ON p.grp < q.grp)
      SELECT m.a, m.b, sa.n AS n_a, sb.n AS n_b,
             coalesce(i.inter, 0) AS inter,
             CAST(coalesce(i.inter, 0) AS DOUBLE)
               / (sa.n + sb.n - coalesce(i.inter, 0)) AS jaccard,
             CAST(m.lane_matches AS DOUBLE) / $lanes AS est_jaccard,
             m.lane_matches
      FROM m
      JOIN sizes sa ON sa.grp = m.a
      JOIN sizes sb ON sb.grp = m.b
      LEFT JOIN inter i ON i.a = m.a AND i.b = m.b"""
  }

  /** Generated oracle for the md5-portable minhash+LSH pipeline:
    * width-3 word shingles, 16 min-hash lanes (seed g's md5 split into
    * its two 64-bit hex halves; min over fixed-width lowercase hex ==
    * min over the 64-bit value), 4 bands of 4.
    */
  private val minhashOracleSql: String =
    s"""
      WITH $minhashChainCtes
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_bands
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id"""

  /** Minhash pairs -> min-label connected components -> canonical
    * survivor per cluster with its absorbed size.
    */
  private val dedupCanonicalizeOracleSql: String =
    s"""
      WITH RECURSIVE $minhashChainCtes,
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x
        JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      sym AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs),
      cc(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, cc.lbl FROM cc JOIN sym s ON s.src = cc.node AND cc.lbl < s.dst),
      cc2 AS (SELECT node AS doc_id, min(lbl) AS canonical_id FROM cc GROUP BY node),
      sizes AS (SELECT canonical_id, count(*) AS n_merged FROM cc2 GROUP BY canonical_id)
      SELECT d.doc_id, CAST(s.n_merged AS BIGINT) AS n_merged, d.n_chars
      FROM documents d JOIN sizes s ON s.canonical_id = d.doc_id"""

  /** Generated oracle for the md5-portable simhash pipeline: 60-bit
    * token hashes (top 60 bits of md5), per-bit counter sums, 4 bands
    * of 15 bits, hamming <= 3.
    */
  private val simhashOracleSql: String = {
    val nBits = 60
    val nBands = 4
    val width = 15
    val bitSumCols = (0 until nBits)
      .map(i => s"sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n               ")
    val shExpr = (0 until nBits)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" | ")
    val bandRows = (0 until nBands).map(b =>
      s"SELECT doc_id, sh, $b AS band, (sh >> ${b * width}) & ${(1L << width) - 1} AS bh FROM sh")
      .mkString("\n        UNION ALL ")
    s"""
      WITH tok AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents)),
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
      bs AS (SELECT doc_id, $bitSumCols FROM h GROUP BY doc_id),
      sh AS (SELECT doc_id, $shExpr AS sh FROM bs),
      banded AS (
        $bandRows)
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
             CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3"""
  }

  /** SemDeDup oracle: the shared k-means CTE chain, a final assignment
    * that KEEPS the winning similarity (the rank key), centroid-rank
    * windows per cluster, then the earlier-ranked eps-neighbor test.
    */
  private lazy val semDeDupOracleSql: String = s"""
      WITH $kmeansCtes,
      $kmeansAssignSimCte,
      ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rnk
        FROM a4s),
      psim AS (
        SELECT a, b, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cs FROM (
          SELECT la.vec_id AS a, lb.vec_id AS b,
                 unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
          FROM ranked la
          JOIN ranked lb ON lb.cell = la.cell AND lb.rnk < la.rnk
          JOIN embeddings ea ON ea.vec_id = la.vec_id
          JOIN embeddings eb ON eb.vec_id = lb.vec_id)
        GROUP BY a, b),
      dups AS (SELECT DISTINCT a AS vec_id FROM psim WHERE cs > 0.25)
      SELECT r.vec_id, CAST(r.cell AS BIGINT) AS cluster,
             CAST(r.rnk AS BIGINT) AS rnk, (d.vec_id IS NULL) AS kept
      FROM ranked r LEFT JOIN dups d ON d.vec_id = r.vec_id"""

  val queries: Seq[(String, Query)] = Seq(
    "dedup_exact" -> Query((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text"),
      """
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text)"""),
    // Native one-pass md5 sketch kernel (graft.plans.MinHashBands) —
    // bit-identical to minhashLsh, so the DuckDB oracle rebuilds the
    // full LSH pipeline hash-for-hash.
    "dedup_minhash_lsh" -> Query((s, dir) =>
      Dedup.minhashLshNative(t(s, dir, "documents"), "doc_id", "text"), minhashOracleSql),
    // Filter+verify record linkage: LSH candidates verified by exact
    // character-level Levenshtein (<= 20% of the longer text).
    "dedup_edit_verify" -> Query((s, dir) =>
      Dedup.editVerifiedPairs(
        t(s, dir, "documents"), "doc_id", "text", 0.2,
        maxCandidateInstances = Some(10000000000L)),
      s"""
      WITH $minhashChainCtes,
      cands AS (
        SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
      SELECT c.a, c.b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
      FROM cands c
      JOIN documents da ON da.doc_id = c.a
      JOIN documents db ON db.doc_id = c.b
      WHERE levenshtein(da.text, db.text)
            <= ceil(0.2 * greatest(len(da.text), len(db.text)))"""),
    // Corpus-governance view: exact distinct-shingle Jaccard between
    // sources, side by side with its 16-lane MinHash estimate.
    "dedup_corpus_overlap" -> Query((s, dir) =>
      Dedup.corpusOverlap(t(s, dir, "documents"), "source", "text"), corpusOverlapOracleSql),
    // maxHamming=3 over 4 derived bands = exact candidate recall
    // (pigeonhole); see Dedup.simhashNearDups.
    "dedup_simhash" -> Query((s, dir) =>
      Dedup.simhashNearDups(
        t(s, dir, "documents"), "doc_id", "text", maxHamming = 3),
      simhashOracleSql),
    // The pairwise verifies run with the candidate-budget circuit
    // breaker armed (Dedup.guardBudget): on a duplication-heavy corpus
    // the verify OUTPUT, not the blocked candidate generation, is the
    // 100x-scale cost — the guard prices the bucket join from index
    // statistics (O(buckets), zero pair-stream passes) and fails fast
    // with sizing guidance instead of a silent quadratic burn. The cap
    // counts JOIN INSTANCES (>= distinct pairs); 1e10 ~ 28 h of verify
    // kernel on one box — past that, fail and resize.
    "dedup_jaccard_words" -> Query((s, dir) =>
      Dedup.jaccardWordPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.9,
        maxCandidateInstances = Some(10000000000L)), jaccardWordsOracleSql),
    // Asymmetric doc-in-doc containment: ordered (contained, container)
    // pairs at C(a->b) >= 0.8 — catches the small-doc-inside-big-doc
    // class the symmetric Jaccard size-ratio filter excludes.
    "dedup_containment" -> Query((s, dir) =>
      Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.8,
        maxCandidateInstances = Some(10000000000L)), containmentOracleSql),
    // Keyed 1/256 samples of the two heavy verified-pair streams — the
    // sf10-and-beyond gate form: the FULL pair set at sf10 is ~360 M
    // rows (impractical to single-file hash-compare), but a
    // deterministic md5(a:b)-keyed slice hashes the same verified
    // pairs in both engines at any scale. The full queries stay gated
    // at the driver SFs; these run everywhere and keep the generated-
    // corpus gate honest where the full dump can't go.
    "dedup_jaccard_sampled" -> Query((s, dir) =>
      pairSample(Dedup.jaccardWordPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.9,
        maxCandidateInstances = Some(10000000000L))),
      // md5(a:b)-keyed 1/256 slices of the verified pair streams — the
      // scale-invariant gate form (see pairSample)
      pairSampleSql(jaccardWordsOracleSql)),
    "dedup_containment_sampled" -> Query((s, dir) =>
      pairSample(Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.8,
        maxCandidateInstances = Some(10000000000L))), pairSampleSql(containmentOracleSql)),
    // Sequence-level span dedup (Lee et al. 2021 analog): repeated
    // 8-token spans survive only at their first corpus occurrence.
    "dedup_spans" -> Query((s, dir) =>
      Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", spanWords = 8),
      """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      spans AS (
        SELECT doc_id, i AS pos,
               array_to_string(t[i * 8 + 1 : i * 8 + 8], ' ') AS span
        FROM toks,
             unnest(range(0, greatest(CAST(ceil(len(t) / 8.0) AS INT), 1))) AS u(i)),
      marked AS (
        SELECT doc_id, pos, span,
               row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, pos) AS rn
        FROM spans)
      SELECT doc_id,
             count(*) AS n_spans,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY pos), '')
               AS text_dedup
      FROM marked GROUP BY doc_id"""),
    // Sliding-window duplicated-substring ranges (ExactSubstr flavor):
    // any-alignment 10-token matches merged into maximal spans.
    "dedup_ngram_spans" -> Query((s, dir) =>
      Dedup.ngramSpanDedup(t(s, dir, "documents"), "doc_id", "text", k = 10),
      """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      grams AS (
        SELECT doc_id, i.pos AS pos,
               md5(array_to_string(tk[i.pos + 1 : i.pos + 10], ' ')) AS fp
        FROM toks, LATERAL (
          SELECT unnest(generate_series(0, len(tk) - 10)) AS pos) i
        WHERE len(tk) >= 10),
      dupfp AS (SELECT fp FROM grams GROUP BY fp HAVING count(*) >= 2),
      duppos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dupfp USING (fp)),
      isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 9
                    THEN 0 ELSE 1 END AS new_island
        FROM duppos),
      runs AS (
        SELECT doc_id, pos,
               sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
        FROM isl)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + 9 AS BIGINT) AS span_end,
             count(*) AS n_grams
      FROM runs GROUP BY doc_id, island"""),
    // Exact verification scaffold (O(|block|^2) by construction; the
    // production paths are dedup_embedding_lsh / dedup_semantic). The
    // maxBlockRows guard enforces that role: oversize blocks fail fast.
    "dedup_embedding" -> Query((s, dir) =>
      Dedup.embeddingNearDups(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", 0.3,
        maxBlockRows = Some(100000L)),
      """
      SELECT a, b, round(cos_sim, 6) AS cos_sim FROM (
        SELECT a, b, dot / (sqrt(na) * sqrt(nb)) AS cos_sim FROM (
          SELECT a, b, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb FROM (
            SELECT a.vec_id AS a, b.vec_id AS b,
                   unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id) GROUP BY a, b))
      WHERE cos_sim > 0.3"""),
    // Sub-quadratic embedding near-dup via random-hyperplane LSH
    // (Charikar'02): md5-signed hyperplanes -> sign-bit sketch ->
    // exact-band candidates -> exact-cosine verify. The data-adaptive
    // counterpart of dedup_embedding's label blocking. Banding is
    // COUNT-ADAPTIVE (Dedup.lshAdaptiveParams — band width grows with
    // the corpus so expected bucket size stays bounded; the r10 fixed
    // 4-bit bands were 16 buckets forever and went quadratic at sf10),
    // and the candidate join is budget-guarded like every pair family.
    "dedup_embedding_lsh" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (planes, bands) = Dedup.lshAdaptiveParams(emb.count())
      Dedup.embeddingLshDedup(
        emb, "vec_id", "embedding",
        dims = 64, planes = planes, bands = bands, cosFloor = 0.3,
        maxCandidateInstances = Some(10000000000L))
    },
      // Same md5-signed hyperplanes as emb_random_projection; sign bits
      // summed as disjoint powers of two (== the OR fold), band bits by
      // shift/mask, exact cosine verify on the originals. Banding is
      // count-adaptive exactly as Dedup.lshAdaptiveParams derives it:
      // width w = smallest bits in [4,16] with (n >> w) <= 16 — the
      // integer threshold walk, no float log, so both engines compute
      // the identical w from the identical count — and nb = 63 // w
      // bands tile the 63 non-sign sketch bits. All 63 sign chains are
      // emitted; rows beyond nb*w bits are never banded. Signs compare
      // the RAW projection sum (> 0 is invariant under the positive
      // 1/sqrt(planes) normalization the Spark kernel applies).
      {
      val chains = (0 until 63).map { j =>
        (1 to 64)
          .map(i => s"embedding[$i]::DOUBLE * (${Quantization.rpSign("rp", i, j)})")
          .mkString("(", " + ", ")")
      }.mkString("list_value(", ", ", ")")
      val skBits = (0 until 63)
        .map(i => s"(CASE WHEN v[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      val wArms = (4 until 16)
        .map(w => s"WHEN (c >> $w) <= 16 THEN $w").mkString(" ")
      s"""
      WITH par AS (
        SELECT CASE $wArms ELSE 16 END AS w
        FROM (SELECT count(*) AS c FROM embeddings)),
      bp AS (SELECT w, 63 // w AS nb FROM par),
      rpv AS (SELECT vec_id, $chains AS v FROM embeddings),
      sks AS (SELECT vec_id, $skBits AS sk FROM rpv),
      banded AS (
        SELECT vec_id, b, (sk >> (b * w)) & ((1::BIGINT << w) - 1) AS bh
        FROM sks
        CROSS JOIN bp
        CROSS JOIN (SELECT unnest(range(0, 16)) AS b) t
        WHERE b < nb),
      cand AS (
        SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        FROM banded x JOIN banded y
          ON x.b = y.b AND x.bh = y.bh AND x.vec_id < y.vec_id),
      scored AS (
        SELECT a, b, sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))) AS cos FROM (
          SELECT c.a, c.b,
                 unnest(ea.embedding)::DOUBLE AS xa, unnest(eb.embedding)::DOUBLE AS xb
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.a
          JOIN embeddings eb ON eb.vec_id = c.b)
        GROUP BY a, b)
      SELECT a, b, round(cos, 6) AS cos_sim FROM scored WHERE round(cos, 6) >= 0.3"""
    }),
    "dedup_components" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = Dedup
        .jaccardWordPairs(docs, "doc_id", "text", "lang", 0.9)
        .select(col("a"), col("b"))
      Dedup.connectedComponents(edges, docs, "doc_id")
    }, """
      WITH RECURSIVE w AS (
        SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS word,
               len(list_distinct(string_split(text, ' '))) AS nw
        FROM documents),
      i AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter,
               any_value(a.nw) AS nwa, any_value(b.nw) AS nwb
        FROM w a JOIN w b ON a.word = b.word AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      edges AS (
        SELECT a, b FROM i WHERE round(inter / (nwa + nwb - inter), 6) >= 0.9),
      sym AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL SELECT b, a FROM edges),
      cc(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, cc.lbl FROM cc JOIN sym s ON s.src = cc.node AND cc.lbl < s.dst)
      SELECT node AS doc_id, min(lbl) AS canonical_id FROM cc GROUP BY node"""),
    // The full published near-dedup pipeline in one query (the GPT-3/
    // Lee-et-al corpus-dedup recipe): MinHash-LSH candidate pairs ->
    // connected components -> keep the min-id doc per cluster, with
    // the cluster size it absorbed — the cleaned-corpus view.
    "dedup_canonicalize" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshNative(docs, "doc_id", "text").select(col("a"), col("b"))
      val cc = Dedup.connectedComponents(pairs, docs, "doc_id")
      val sizes = cc.groupBy(col("canonical_id")).agg(count(lit(1)).as("n_merged"))
      docs
        .join(sizes, col("doc_id") === col("canonical_id"))
        .select(col("doc_id"), col("n_merged"), col("n_chars"))
    }, dedupCanonicalizeOracleSql),
    // INCREMENTAL connected components — the daily-delta path: docs
    // with id < cut are "yesterday's corpus" whose CC labels are
    // already stored; today only the label STAR EDGES (node ->
    // canonical, |V_old| edges) plus the delta pairs (any pair
    // touching a new doc) enter the loop, never yesterday's full pair
    // set. Output must equal full CC over all pairs — the oracle IS
    // the full recompute (recursive CTE), so the equivalence is
    // hash-gated. Work scales with |delta| + |labels|, not |pairs|.
    "dedup_cc_incremental" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = lit(docs.count() / 2) // "yesterday" = the older half
      val pairs = Dedup.minhashLshNative(docs, "doc_id", "text")
        .select(col("a"), col("b"))
        .pinned()
      val oldPairs = pairs.where(col("a") < cut && col("b") < cut)
      val deltaPairs = pairs.where(col("a") >= cut || col("b") >= cut)
      val oldDocs = docs.where(col("doc_id") < cut)
      val oldLabels = Dedup.connectedComponents(oldPairs, oldDocs, "doc_id")
      val starEdges = oldLabels
        .where(col("doc_id") =!= col("canonical_id"))
        .select(col("doc_id").as("a"), col("canonical_id").as("b"))
      Dedup.connectedComponents(starEdges.unionByName(deltaPairs), docs, "doc_id")
    },
      // Full-recompute CC over ALL minhash pairs: the incremental path
      // must reproduce it exactly.
      s"""
      WITH RECURSIVE $minhashChainCtes,
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x
        JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      sym AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs),
      cc(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, cc.lbl FROM cc JOIN sym s ON s.src = cc.node AND cc.lbl < s.dst)
      SELECT node AS doc_id, min(lbl) AS canonical_id FROM cc GROUP BY node"""),
    // SemDeDup (Abbas et al. 2023): semantic pruning — same Lloyd
    // schedule as emb_kmeans (k=8, 3 iterations), members ranked by
    // similarity to their centroid, later-ranked members with an
    // earlier eps-neighbor are pruned. The whole chain (clustering,
    // assignment, ranking, pair test) unrolls into the SQL oracle.
    "dedup_semantic" -> Query((s, dir) =>
      Dedup.semDeDup(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iterations = 3, eps = 0.25), semDeDupOracleSql)
  )
}
