package graft
package surface

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.operators._

import Common._

/** Text analysis: each query's Spark build beside its DuckDB oracle. */
object TextQueries {

  /** Unrolled greedy k-center (k=5): seed = min vec_id, then four
    * rounds of "farthest from nearest selected center" (max-min L2,
    * tiebreak smaller id) — the exact schedule
    * Sampling.kCenterSelect runs, with the same ordered double fold.
    */
  private lazy val kCenterOracleSql: String = {
    val d = sqlL2("e.embedding", "c.embedding", 64)
      .replaceAll("e\\.embedding\\[i\\]", "e.embedding[i]::DOUBLE")
      .replaceAll("c\\.embedding\\[i\\]", "c.embedding[i]::DOUBLE")
    def round(prev: String, n: Int): String = s"""
      d$n AS (
        SELECT e.vec_id, min($d) AS dmin
        FROM embeddings e, $prev c
        WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev)
        GROUP BY e.vec_id),
      p$n AS (SELECT vec_id, dmin FROM d$n ORDER BY dmin DESC, vec_id LIMIT 1),
      c$n AS (
        SELECT vec_id, embedding FROM $prev
        UNION ALL
        SELECT e.vec_id, e.embedding FROM embeddings e JOIN p$n ON p$n.vec_id = e.vec_id)"""
    s"""
      WITH c1 AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
      ${round("c1", 2)},
      ${round("c2", 3)},
      ${round("c3", 4)},
      ${round("c4", 5)}
      SELECT vec_id AS id, CAST(1 AS BIGINT) AS rank, NULL::DOUBLE AS dist FROM c1
      UNION ALL SELECT vec_id, 2, dmin FROM p2
      UNION ALL SELECT vec_id, 3, dmin FROM p3
      UNION ALL SELECT vec_id, 4, dmin FROM p4
      UNION ALL SELECT vec_id, 5, dmin FROM p5"""
  }

  /** Fixed keyword queries for text_bm25_topk (terms from the synthetic
    * vocabulary, mixed document frequencies).
    */
  private val Bm25DemoQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("hash", "join"),
    2L -> Seq("vector", "scan", "filter"),
    3L -> Seq("customer", "order", "slow"))

  /** Demo blocklist for text_scrub (vocabulary terms — the corpus is
    * synthetic lowercase words; production swaps in PII regexes).
    */
  private val ScrubBlocklist = Seq("hash", "key", "secret")

  /** Deterministic PII seeding for text_pii_scrub: the synthetic corpus
    * is lowercase words with no PII, so the query appends class spans
    * derived from doc_id arithmetic — an email for doc_id ≡ 0 (mod 3),
    * a phone for ≡ 1 (mod 4), a dotted-quad IP for ≡ 2 (mod 5), an
    * SSN-shaped id for ≡ 3 (mod 6), a 16-digit card run for ≡ 4
    * (mod 7); docs hitting none of the residues exercise the no-PII
    * path, docs hitting several get multiple classes in one row. Every
    * piece is integer-mod + lpad string building that the DuckDB
    * oracle reproduces verbatim, and the seeded spans are pairwise
    * non-overlapping by construction so per-class counts are exact
    * under sequential redaction.
    */
  private def piiSeeded(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def str(c: Column) = c.cast("string")
    val email = when(id % 3 === 0,
      concat(lit(" contact u"), str(id), lit("@mail"), str(id % 7),
        lit(".example.com"))).otherwise(lit(""))
    val phone = when(id % 4 === 1,
      concat(lit(" call 555-"), str(id % 900 + 100), lit("-"),
        str(id % 9000 + 1000))).otherwise(lit(""))
    val ip = when(id % 5 === 2,
      concat(lit(" from 10."), str(id % 256), lit("."),
        str(floor(id / 7) % 256), lit("."), str(id % 250 + 1)))
      .otherwise(lit(""))
    val ssn = when(id % 6 === 3,
      concat(lit(" ssn 123-45-"), lpad(str(id % 10000), 4, "0")))
      .otherwise(lit(""))
    val card = when(id % 7 === 4,
      concat(lit(" card 4111222233"), lpad(str(id % 1000000), 6, "0")))
      .otherwise(lit(""))
    docs.select(
      col("doc_id"),
      concat(col("text"), email, phone, ip, ssn, card).as("text"))
  }

  /** Fixed probe set for the CMS/Bloom sketch queries: four known
    * vocabulary terms + one never-seen token (exercises the empty-cell
    * and non-member paths).
    */
  private val SketchProbeTokens = Seq("hash", "join", "vector", "customer", "zzznever")

  private val stopwordList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  /** Shared BM25 WITH-clause body (expects a preceding `ql(query_id,
    * term)` CTE; yields `bm25_ranked(query_id, doc_id, rank,
    * score_dec)`). Expression-identical to Search.bm25TopK — constants
    * appear as the same ops ((1.2 + 1.0), (1.0 - 0.75)), per-term
    * scores round to 12dp then sum as DECIMAL(28,12).
    */
  private def bm25Ctes(selfExclude: Boolean): String = {
    val self = if (selfExclude) "WHERE doc_id <> query_id" else ""
    s"""bm25_base AS (
        SELECT doc_id, coalesce(len(string_split(text, ' ')), 0) AS dl FROM documents),
      bm25_stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM bm25_base),
      bm25_tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok IN (SELECT DISTINCT term FROM ql)
        GROUP BY doc_id, tok),
      bm25_df AS (SELECT tok, count(*) AS df FROM bm25_tf GROUP BY tok),
      bm25_scored AS (
        SELECT ql.query_id, bm25_tf.doc_id,
               CAST(round(
                 ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
                 (tf * (1.2 + 1.0)) /
                 (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl))),
                 12) AS DECIMAL(28,12)) AS term_score
        FROM bm25_tf
        JOIN bm25_df USING (tok)
        JOIN bm25_base USING (doc_id)
        JOIN ql ON bm25_tf.tok = ql.term
        CROSS JOIN bm25_stats),
      bm25_perdoc AS (
        SELECT query_id, doc_id, sum(term_score) AS score_dec
        FROM bm25_scored $self
        GROUP BY query_id, doc_id),
      bm25_ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank,
               score_dec
        FROM bm25_perdoc)"""
  }

  val queries: Seq[(String, Query)] = Seq(
    "text_token_count" -> Query((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text"),
      """
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             length(text) AS n_chars
      FROM documents"""),
    "text_quality" -> Query((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text"),
      s"""
      WITH b AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dis,
               CAST(length(text) AS DOUBLE) AS n_chr,
               CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
               CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS upper,
               CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopwordList))) AS DOUBLE) AS stop
        FROM documents)
      SELECT doc_id,
             round(n_dis / n_tok, 6) AS type_token_ratio,
             round(stop / n_tok, 6) AS stopword_ratio,
             round(punct / n_chr, 6) AS punct_ratio,
             round((n_dis / n_tok) * 0.5 + (1.0 - stop / n_tok) * 0.3 +
                   (1.0 - punct / n_chr) * 0.1 + (1.0 - upper / n_chr) * 0.1, 6) AS quality
      FROM b"""),
    "text_lang_id" -> Query((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text"),
      {
      val scoreExprs = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        val ms = markers.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), x -> x IN ($ms))) AS s_$lang"
      }.mkString(",\n               ")
      // alphabetical-first argmax, same tiebreak as the Spark side
      """
      WITH s AS (
        SELECT doc_id, SCORES
        FROM documents)
      SELECT doc_id,
             CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS lang_pred,
             greatest(s_de, s_en, s_es, s_fr, s_zh) AS marker_hits
      FROM s""".replace("SCORES", scoreExprs)
    }),
    "text_fingerprint" -> Query((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text"),
      """
      WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents)
      SELECT doc_id, md5(norm) AS fp, length(norm) AS n_norm_chars FROM n"""),
    "text_ngram_freq" -> Query((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.shingles(col("text"), 2)).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 5),
      """
      SELECT ngram, count(*) AS n FROM (
        SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS ngram
        FROM (SELECT string_split(text, ' ') AS t FROM documents))
      GROUP BY ngram HAVING count(*) >= 5"""),
    // End-to-end corpus prep: fingerprint-dedup (keep min doc per
    // canonical form) -> quality floor -> per-language profile. One
    // Catalyst plan composing three operators.
    "text_prep_pipeline" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      val deduped = TextAnalysis.fingerprints(docs, "doc_id", "text")
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .join(docs, "doc_id")
      val scored = deduped.join(TextAnalysis.qualityScore(deduped, "doc_id", "text"), "doc_id")
      scored
        .where(col("quality") >= 0.6)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("quality").cast("decimal(18,6)")).cast("double") / count(lit(1)))
            .as("avg_quality"),
          sum(col("n_chars")).as("total_chars"))
    }, s"""
      WITH norm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        FROM documents),
      kept AS (
        SELECT d.doc_id, d.lang, d.text, d.n_chars
        FROM (SELECT fp, min(doc_id) AS doc_id FROM norm GROUP BY fp) k
        JOIN documents d ON d.doc_id = k.doc_id),
      q AS (
        SELECT doc_id, lang, n_chars,
               (n_dis / n_tok) * 0.5 + (1.0 - stop / n_tok) * 0.3 +
               (1.0 - punct / n_chr) * 0.1 + (1.0 - upper / n_chr) * 0.1 AS quality
        FROM (
          SELECT doc_id, lang, n_chars,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dis,
                 CAST(length(text) AS DOUBLE) AS n_chr,
                 CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
                 CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS upper,
                 CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopwordList))) AS DOUBLE) AS stop
          FROM kept))
      SELECT lang, count(*) AS n_docs,
             CAST(sum(CAST(round(quality, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_quality,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM q WHERE round(quality, 6) >= 0.6 GROUP BY lang"""),
    "text_subword_count" -> Query((s, dir) =>
      TextAnalysis.subwordCounts(t(s, dir, "documents"), "doc_id", "text"),
      """
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]')) AS n_subwords,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents"""),
    // Temperature-rebalanced mixture (mT5-style α=0.5): per-source
    // budgets from the sqrt-scaled distribution (all-integer targets),
    // md5-ranked selection within each source.
    "sample_temperature" -> Query((s, dir) =>
      Sampling.temperatureSample(
        t(s, dir, "documents"), "source", "doc_id", totalBudget = 200L, seed = 23L),
      """
      WITH counts AS (
        SELECT source, count(*) AS n,
               CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS r
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM counts),
      targets AS (
        SELECT source, CAST(least(n, (200 * r) // t) AS BIGINT) AS target
        FROM counts CROSS JOIN tot)
      SELECT doc_id, source, rank FROM (
        SELECT d.doc_id, d.source, t.target,
               row_number() OVER (PARTITION BY d.source
                 ORDER BY substr(md5('23:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
                 AS rank
        FROM documents d JOIN targets t USING (source))
      WHERE rank <= target"""),
    // Tokenizer fertility (subwords per whitespace word) by language —
    // the standard multilingual tokenizer-quality metric.
    "text_fertility" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.subwordCounts(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("n_subwords")).as("subwords"), sum(col("n_tokens")).as("words"))
        .withColumn("fertility_micro", expr("(subwords * 1000000) div words"))
    }, """
      WITH c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_subwords,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT lang,
             CAST(sum(n_subwords) AS BIGINT) AS subwords,
             CAST(sum(n_tokens) AS BIGINT) AS words,
             (CAST(sum(n_subwords) AS BIGINT) * 1000000) // CAST(sum(n_tokens) AS BIGINT)
               AS fertility_micro
      FROM c JOIN documents USING (doc_id) GROUP BY lang"""),
    // Pretraining sequence-packing manifest: docs concatenated in id
    // order, cut into 2048-token sequences; per doc its stream offset
    // and first/last pack. Distributed prefix sum — no global window.
    "text_seq_pack" -> Query((s, dir) =>
      TextAnalysis.seqPack(t(s, dir, "documents"), "doc_id", "text", capacity = 2048L),
      """
      WITH c AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      s AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens AS BIGINT) AS stream_offset
        FROM c)
      SELECT doc_id, n_tokens, stream_offset,
             stream_offset // 2048 AS pack_first,
             (stream_offset + n_tokens - 1) // 2048 AS pack_last,
             (stream_offset + n_tokens - 1) // 2048 - stream_offset // 2048 + 1 AS n_packs
      FROM s"""),
    // Bigram LM with stupid backoff, trained on the even-id half so
    // backoff genuinely fires on the scored half.
    "text_bigram_lm" -> Query((s, dir) =>
      TextAnalysis.bigramLmScore(
        t(s, dir, "documents"), "doc_id", "text", col("doc_id") % 2 === 0),
      """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      docbi AS (
        SELECT doc_id, doc_id % 2 = 0 AS is_train,
               unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bi
        FROM toks),
      trainbi AS (SELECT bi, count(*) AS c12 FROM docbi WHERE is_train GROUP BY bi),
      trainuni AS (
        SELECT tok, count(*) AS c FROM (
          SELECT unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE doc_id % 2 = 0)
        GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM trainuni),
      terms AS (
        SELECT d.doc_id,
          CASE WHEN tb.c12 IS NOT NULL THEN
            CAST(floor(ln(CAST(tb.c12 AS DOUBLE) / u1.c) * 1000000000000.0) AS BIGINT)
          ELSE
            CAST(floor(ln(0.4 * (CAST(coalesce(u2.c, 0) + 1 AS DOUBLE) / (t + v)))
                       * 1000000000000.0) AS BIGINT)
          END AS term_pico,
          tb.c12 IS NULL AS is_backoff
        FROM docbi d
        LEFT JOIN trainbi tb USING (bi)
        LEFT JOIN trainuni u1 ON split_part(d.bi, ' ', 1) = u1.tok
        LEFT JOIN trainuni u2 ON split_part(d.bi, ' ', 2) = u2.tok
        CROSS JOIN tot)
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(CASE WHEN is_backoff THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
             CAST(-sum(term_pico) AS BIGINT) AS nll_pico
      FROM terms GROUP BY doc_id"""),
    // DSIR data selection: lang='en' is the target domain; top-50 raw
    // docs by unigram log-likelihood ratio (pico-nat integer weights).
    "text_dsir_select" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TextAnalysis.dsirWeights(docs, "doc_id", "text", col("lang") === "en")
      val top = w.orderBy(col("weight_pico").desc, col("doc_id")).limit(50)
      top.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("weight_pico"))
    }, """
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_target, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      vocab AS (
        SELECT tok, count(*) AS cr,
               CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
        FROM toks GROUP BY tok),
      tot AS (
        SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt,
               count(*) AS v
        FROM vocab),
      scored AS (
        SELECT tok,
               CAST(floor(ln(CAST(ct + 1 AS DOUBLE) / (tt + v)) * 1000000000000.0) AS BIGINT)
               - CAST(floor(ln(CAST(cr + 1 AS DOUBLE) / (tr + v)) * 1000000000000.0) AS BIGINT)
                 AS dw_pico
        FROM vocab CROSS JOIN tot),
      w AS (
        SELECT doc_id, count(*) AS n_tokens, CAST(sum(dw_pico) AS BIGINT) AS weight_pico
        FROM toks JOIN scored USING (tok)
        GROUP BY doc_id)
      SELECT w.doc_id, d.lang, w.n_tokens, w.weight_pico
      FROM w JOIN documents d ON w.doc_id = d.doc_id
      ORDER BY weight_pico DESC, w.doc_id
      LIMIT 50"""),
    // Deterministic 10% corpus sample: content-keyed hash, so the
    // selection is identical on any cluster / partitioning / engine.
    "sample_hash" -> Query((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "doc_id", fraction = 0.1, seed = 7L)
        .select(col("doc_id"), col("lang")),
      // hexThreshold(0.1) = floor(0.1 * 2^32) = 0x19999999, etc. — the
      // same fixed-width-hex compare Sampling.hashSample runs.
      """
      SELECT doc_id, lang FROM documents
      WHERE substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'"""),
    // Per-language stratified rates (en down-sampled, de kept, rest at
    // the default) — the corpus-balancing step of LLM data prep.
    "sample_stratified" -> Query((s, dir) =>
      Sampling.stratifiedSample(
        t(s, dir, "documents"), "lang", "doc_id",
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, seed = 11L)
        .select(col("doc_id"), col("lang")),
      """
      SELECT doc_id, lang FROM documents
      WHERE substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 8) <
            CASE lang WHEN 'en' THEN '80000000'
                      WHEN 'de' THEN '40000000'
                      ELSE '19999999' END"""),
    // Weighted source mixture: three sources at different rates,
    // tagged — LLM corpus assembly's data-mixture step.
    "sample_mixture" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.mixture(
        Seq(
          ("src0", docs.where(col("source") === "src0"), 1.0),
          ("src1", docs.where(col("source") === "src1"), 0.5),
          ("src2", docs.where(col("source") === "src2"), 0.25)),
        "doc_id", seed = 13L)
        .select(col("doc_id"), col("mix_source"))
    }, """
      SELECT doc_id, 'src0' AS mix_source FROM documents
      WHERE source = 'src0'
        AND substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'ffffffff'
      UNION ALL
      SELECT doc_id, 'src1' FROM documents
      WHERE source = 'src1'
        AND substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
      UNION ALL
      SELECT doc_id, 'src2' FROM documents
      WHERE source = 'src2'
        AND substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'"""),
    // Exact per-group budget: exactly min(60, |lang|) docs per
    // language by md5 rank — hard corpus balancing (a fraction-based
    // sample only hits a budget in expectation).
    "sample_group_budget" -> Query((s, dir) =>
      Sampling.perGroupBudget(
        t(s, dir, "documents"), "lang", "doc_id", n = 60, seed = 17L)
        .select(col("doc_id"), col("lang")),
      """
      SELECT doc_id, lang FROM documents
      QUALIFY row_number() OVER (PARTITION BY lang
        ORDER BY substr(md5('17:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) <= 60"""),
    // Greedy k-center coreset: 5 diversity-maximizing exemplars of
    // the embedding space (Gonzalez max-min farthest-point), with the
    // coverage-radius sequence — the 5-step schedule unrolls into SQL.
    "sample_kcenter" -> Query((s, dir) =>
      Sampling.kCenterSelect(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5),
      kCenterOracleSql),
    // Priority sampling (Duffield–Lund–Thorup): 50 docs weighted by
    // byte size, with the unbiased max(w, τ) subset-sum estimator —
    // the bounded weighted summary of a corpus.
    "sample_priority" -> Query((s, dir) =>
      Sampling.prioritySample(
        t(s, dir, "documents"), "doc_id", "n_chars", k = 50, seed = 23L)
        .withColumnRenamed("id", "doc_id"),
      // Priority sampling: identical md5-52-bit uniform, identical two
      // IEEE divisions, global rank, τ = the 51st priority (0 when the
      // corpus is smaller than k+1).
      """
      WITH keyed AS (
        SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS weight,
               CAST(n_chars AS DOUBLE) /
                 (CAST(('0x' || substr(md5('23:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1
                       AS DOUBLE) / 4503599627370496.0) AS priority
        FROM documents),
      ranked AS (
        SELECT id, weight, priority,
               row_number() OVER (ORDER BY priority DESC, id) AS rank
        FROM keyed),
      tau AS (
        SELECT coalesce(max(CASE WHEN rank = 51 THEN priority END), 0.0) AS tau
        FROM ranked)
      SELECT r.id AS doc_id, r.weight, CAST(r.rank AS BIGINT) AS rank, r.priority,
             greatest(r.weight, t.tau) AS est_weight
      FROM ranked r CROSS JOIN tau t WHERE r.rank <= 50"""),
    // Unigram-entropy quality gate: low-entropy docs are templates /
    // keyword stuffing; the decimal-exact H makes keep reproducible.
    "text_entropy" -> Query((s, dir) =>
      TextAnalysis.entropyScore(t(s, dir, "documents"), "doc_id", "text", minBits = 3.0),
      // Unigram entropy: fixed-point pico-nat units — floor(x·1e12) is
      // two IEEE ops identical in both engines (ln agrees bit-for-bit;
      // log2 and round(double,12) both measurably do NOT) — integer
      // decimal sums, bits = nats / ln2 literal at the end.
      """
      WITH cnt AS (
        SELECT doc_id, tok, count(*) AS c FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok),
      agg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
               CAST(sum(CAST(floor(c * ln(c) * 1e12) AS DECIMAL(28,0)))
                    AS DECIMAL(28,0)) AS sclog
        FROM cnt GROUP BY doc_id),
      h AS (
        SELECT doc_id, n_tokens, n_distinct,
               CAST(CAST(floor(ln(n_tokens) * 1e12) AS DECIMAL(14,0)) *
                      CAST(n_tokens AS DECIMAL(14,0)) - sclog AS DOUBLE)
                 / 1e12 / n_tokens / 0.6931471805599453 AS entropy_bits
        FROM agg)
      SELECT d.doc_id,
             coalesce(h.n_tokens, 0) AS n_tokens,
             coalesce(h.n_distinct, 0) AS n_distinct,
             h.entropy_bits,
             coalesce(CAST(h.entropy_bits >= 3.0 AS INT), 0) AS keep
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN h ON d.doc_id = h.doc_id"""),
    // Blocklist redaction (the PII-scrub shape: same operator, swap the
    // word list for email/phone/id regexes on a real corpus).
    "text_scrub" -> Query((s, dir) =>
      TextAnalysis.scrub(
        t(s, dir, "documents"), "doc_id", "text", ScrubBlocklist),
      """
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\b(hash|key|secret)\b')) AS BIGINT) AS n_redacted,
             regexp_replace(text, '\b(hash|key|secret)\b', '[REDACTED]', 'g') AS scrubbed
      FROM documents"""),
    // Regex-class PII scrub (TextAnalysis.PiiClasses: email / card /
    // IPv4 / SSN / phone, sequential-redaction counts). The synthetic
    // corpus carries no PII, so the query seeds class spans from
    // doc_id arithmetic first (piiSeeded — reproducible in ANSI SQL),
    // then redacts; per-class counts AND the scrubbed text both
    // hash-compare against the oracle, which runs the IDENTICAL
    // pattern strings in DuckDB's RE2 — the Java ∩ RE2 shared-dialect
    // contract documented on PiiClasses.
    "text_pii_scrub" -> Query((s, dir) =>
      TextAnalysis.piiScrub(piiSeeded(t(s, dir, "documents")), "doc_id", "text"),
      // The IDENTICAL pattern strings as TextAnalysis.PiiClasses (the
      // Java-regex ∩ RE2 shared dialect), the IDENTICAL seeding
      // arithmetic as piiSeeded, and the IDENTICAL sequential-redaction
      // semantics: class k counts on the text as classes < k left it.
      """
      WITH seeded AS (
        SELECT doc_id, text
          || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)
               || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ELSE '' END
          || CASE WHEN doc_id % 4 = 1 THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
               || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 5 = 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
               || '.' || CAST(doc_id % 250 + 1 AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 6 = 3 THEN ' ssn 123-45-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
          || CASE WHEN doc_id % 7 = 4 THEN ' card 4111222233'
               || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') ELSE '' END
          AS t0
        FROM documents),
      s1 AS (SELECT doc_id,
               CAST(len(regexp_extract_all(t0, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
               regexp_replace(t0, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g') AS t1
             FROM seeded),
      s2 AS (SELECT doc_id, n_email,
               CAST(len(regexp_extract_all(t1, '\b\d{16}\b')) AS BIGINT) AS n_card,
               regexp_replace(t1, '\b\d{16}\b', '[CARD]', 'g') AS t2
             FROM s1),
      s3 AS (SELECT doc_id, n_email, n_card,
               CAST(len(regexp_extract_all(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
               regexp_replace(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g') AS t3
             FROM s2),
      s4 AS (SELECT doc_id, n_email, n_card, n_ipv4,
               CAST(len(regexp_extract_all(t3, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
               regexp_replace(t3, '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS t4
             FROM s3),
      s5 AS (SELECT doc_id, n_email, n_card, n_ipv4, n_ssn,
               CAST(len(regexp_extract_all(t4, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
               regexp_replace(t4, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS t5
             FROM s4)
      SELECT doc_id, n_email, n_card, n_ipv4, n_ssn, n_phone,
             n_email + n_card + n_ipv4 + n_ssn + n_phone AS n_redacted,
             t5 AS scrubbed
      FROM s5"""),
    // Gopher-style repetition/quality gates with keep/drop verdict.
    "text_gopher_filter" -> Query((s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text"),
      """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      f AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM tok) GROUP BY doc_id, tok),
      a AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_cnt,
               CAST(sum(c * length(tok)) AS BIGINT) AS n_word_chars
        FROM f GROUP BY doc_id),
      b AS (
        SELECT doc_id,
               len(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS n_bg,
               len(list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))) AS n_bgd
        FROM tok),
      s AS (
        SELECT a.doc_id, n_tokens,
               round(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS top_word_frac,
               round(CASE WHEN n_bg = 0 THEN 0.0
                          ELSE 1.0 - CAST(n_bgd AS DOUBLE) / n_bg END, 6) AS dup_bigram_frac,
               round(CAST(n_word_chars AS DOUBLE) / n_tokens, 6) AS mean_word_len
        FROM a JOIN b ON a.doc_id = b.doc_id)
      SELECT doc_id, n_tokens, top_word_frac, dup_bigram_frac, mean_word_len,
             CAST(n_tokens BETWEEN 20 AND 80 AND top_word_frac <= 0.12
                  AND dup_bigram_frac <= 0.05
                  AND mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS keep
      FROM s"""),
    // Unigram-LM quality score (CCNet shape): per-doc average token
    // negative log-likelihood under the corpus unigram distribution.
    "text_lm_score" -> Query((s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text"),
      """
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tt AS (SELECT count(*) AS tt FROM toks),
      nll AS (
        SELECT doc_id,
               CAST(round(-ln(CAST(c AS DOUBLE) / tt), 12) AS DECIMAL(28,12)) AS nll
        FROM toks JOIN vocab USING (tok) CROSS JOIN tt)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(nll) AS DOUBLE) / count(*) AS avg_nll
      FROM nll GROUP BY doc_id"""),
    // fastText-shaped hashed linear classifier inference: bigrams hash
    // into 1024 weight slots, doc score = summed evidence, all inside
    // one per-row HOF fold — no explode, no shuffle, scan-speed.
    "text_classifier_score" -> Query((s, dir) =>
      TextAnalysis.classifierScore(t(s, dir, "documents"), "doc_id", "text"),
      """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      u AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
        FROM t),
      wt AS (
        SELECT doc_id,
               (('0x' || substr(md5('w:' ||
                    CAST(('0x' || substr(md5('clf:' || g), 1, 15))::BIGINT % 1024
                         AS VARCHAR)), 1, 15))::BIGINT % 2000001) - 1000000 AS wm
        FROM u)
      SELECT doc_id, count(*) AS n_bigrams, CAST(sum(wm) AS BIGINT) AS score_sum_micro,
             CAST(CASE WHEN sum(wm) >= 0 THEN 1 ELSE 0 END AS INT) AS keep
      FROM wt GROUP BY doc_id"""),
    // CCNet head/middle/tail quality terciles over the LM score —
    // exact NTILE via the distributed numbering primitive.
    "text_ppl_buckets" -> Query((s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text"),
      """
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tt AS (SELECT count(*) AS tt FROM toks),
      nll AS (
        SELECT doc_id,
               CAST(round(-ln(CAST(c AS DOUBLE) / tt), 12) AS DECIMAL(28,12)) AS nll
        FROM toks JOIN vocab USING (tok) CROSS JOIN tt),
      scored AS (
        SELECT doc_id, CAST(sum(nll) AS DOUBLE) / count(*) AS avg_nll
        FROM nll GROUP BY doc_id)
      SELECT doc_id, avg_nll,
             CASE ntile(3) OVER (ORDER BY avg_nll, doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
      FROM scored"""),
    // Train/eval decontamination: docs sharing a 4-gram with the
    // held-out benchmark slice (doc_id % 50 == 0).
    "text_decontaminate" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminate(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 4)
    }, """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      grams AS (
        SELECT doc_id,
               list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' ')) AS gs
        FROM tok),
      bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 50 = 0),
      corp AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 50 <> 0)
      SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_shared
      FROM corp JOIN bench USING (g) GROUP BY doc_id"""),
    // Context-window chunking: 32-token windows at stride 24 (the
    // overlapping LM-sequence split).
    "text_chunk_windows" -> Query((s, dir) =>
      TextAnalysis.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 32, stride = 24),
      """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      SELECT doc_id, CAST(i // 24 AS BIGINT) AS chunk_idx,
             array_to_string(t[i+1:i+32], ' ') AS chunk,
             CAST(len(t[i+1:i+32]) AS BIGINT) AS n_chunk_tokens
      FROM tok, unnest(range(0, len(t), 24)) AS u(i)"""),
    // Tokenizer training: the first 3 BPE merge rules learned from the
    // corpus (distributed pair counts, greedy merge application).
    "text_bpe_merges" -> Query((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "doc_id", "text", merges = 3),
      // The same 3-round greedy schedule unrolled: count pairs, pick the
      // (count desc, pair asc) winner, apply it corpus-wide as a plain
      // space-delimited replace (left-to-right non-overlapping = greedy
      // BPE in both engines), repeat.
      """
      WITH t1 AS (SELECT ' ' || replace(text, ' ', '  ') || ' ' AS t FROM documents),
      c1 AS (
        SELECT p, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS p
          FROM (SELECT string_split(trim(t), '  ') AS tk FROM t1))
        GROUP BY p),
      m1 AS (SELECT p, n FROM c1 ORDER BY n DESC, p LIMIT 1),
      t2 AS (
        SELECT replace(t, (SELECT ' '||replace(p,' ','  ')||' ' FROM m1),
                          (SELECT ' '||replace(p,' ','@@')||' ' FROM m1)) AS t FROM t1),
      c2 AS (
        SELECT p, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS p
          FROM (SELECT string_split(trim(t), '  ') AS tk FROM t2))
        GROUP BY p),
      m2 AS (SELECT p, n FROM c2 ORDER BY n DESC, p LIMIT 1),
      t3 AS (
        SELECT replace(t, (SELECT ' '||replace(p,' ','  ')||' ' FROM m2),
                          (SELECT ' '||replace(p,' ','@@')||' ' FROM m2)) AS t FROM t2),
      c3 AS (
        SELECT p, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS p
          FROM (SELECT string_split(trim(t), '  ') AS tk FROM t3))
        GROUP BY p),
      m3 AS (SELECT p, n FROM c3 ORDER BY n DESC, p LIMIT 1)
      SELECT CAST(1 AS BIGINT) AS rank, string_split(p,' ')[1] AS lhs,
             string_split(p,' ')[2] AS rhs, replace(p,' ','@@') AS merged,
             n AS n_pairs FROM m1
      UNION ALL SELECT 2, string_split(p,' ')[1], string_split(p,' ')[2],
             replace(p,' ','@@'), n FROM m2
      UNION ALL SELECT 3, string_split(p,' ')[1], string_split(p,' ')[2],
             replace(p,' ','@@'), n FROM m3"""),
    // Tokenizer application: encode every doc with the 3 learned merge
    // rules (greedy replace chain over the double-spaced encoding).
    "text_bpe_encode" -> Query((s, dir) =>
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text", merges = 3),
      // Same unrolled 3-round schedule as text_bpe_merges, but carrying
      // doc_id through the replace chain and emitting per-doc counts.
      {
      def round(prev: String, c: String, m: String, tn: String): String = s"""
      $c AS (
        SELECT p, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS p
          FROM (SELECT string_split(trim(t), '  ') AS tk FROM $prev))
        GROUP BY p),
      $m AS (SELECT p, n FROM $c ORDER BY n DESC, p LIMIT 1),
      $tn AS (
        SELECT doc_id, replace(t, (SELECT ' '||replace(p,' ','  ')||' ' FROM $m),
                                  (SELECT ' '||replace(p,' ','@@')||' ' FROM $m)) AS t
        FROM $prev)"""
      s"""
      WITH t1 AS (
        SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS t
        FROM documents WHERE text IS NOT NULL),
      ${round("t1", "c1", "m1", "t2")},
      ${round("t2", "c2", "m2", "t3")},
      ${round("t3", "c3", "m3", "t4")}
      SELECT doc_id, len(string_split(trim(t), '  ')) AS n_tokens_bpe,
             len(list_filter(string_split(trim(t), '  '), x -> contains(x, '@@')))
               AS n_merged_tokens
      FROM t4"""
    }),
    // Per-doc TF-IDF keyword extraction: top-3 characteristic terms
    // per document (cluster labeling / sparse-vector summarization).
    "text_tfidf_top_terms" -> Query((s, dir) =>
      Search.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3),
      """
      WITH tf AS (
        SELECT doc_id, tok AS term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term,
               CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df), 12) AS DECIMAL(28,12))
                 AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN nd)
      SELECT doc_id, term, rank, CAST(tfidf AS DOUBLE) AS tfidf FROM (
        SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank,
               tfidf
        FROM scored) WHERE rank <= 3"""),
    // Count-Min frequency sketch: token occurrence counts in a 4x2048
    // integer matrix (O(sketch) memory at any corpus size, upward-only
    // bias); probed for a fixed token set against exact counts.
    "text_cms_counts" -> Query((s, dir) => {
      val spark = s
      import spark.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val sketch = Sketches.cmsBuild(toks, col("tok"), depth = 4, width = 2048)
      val probes = SketchProbeTokens.toDF("item")
      val exact = toks
        .where(col("tok").isin(SketchProbeTokens: _*))
        .groupBy(col("tok").as("item"))
        .agg(count(lit(1)).as("exact_count"))
      Sketches.cmsQuery(sketch, probes, depth = 4, width = 2048)
        .join(exact, Seq("item"), "left_outer")
        .select(
          col("item"), col("est_count"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"))
    }, {
      val probeList = SketchProbeTokens.map(t => s"'$t'").mkString(", ")
      s"""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      probes AS (SELECT unnest([$probeList]) AS item),
      cells AS (
        SELECT row, col, count(*) AS cnt FROM (
          SELECT r AS row,
                 ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15))::BIGINT
                   % 2048 AS col
          FROM toks, (SELECT unnest(range(4)) AS r))
        GROUP BY row, col),
      lanes AS (
        SELECT item, r AS row,
               ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || item), 1, 15))::BIGINT
                 % 2048 AS col
        FROM probes, (SELECT unnest(range(4)) AS r)),
      est AS (
        SELECT item, min(coalesce(cnt, 0)) AS est_count
        FROM lanes LEFT JOIN cells USING (row, col) GROUP BY item),
      ex AS (
        SELECT tok AS item, count(*) AS exact_count FROM toks
        WHERE tok IN ($probeList) GROUP BY tok)
      SELECT item, CAST(est_count AS BIGINT) AS est_count,
             CAST(coalesce(exact_count, 0) AS BIGINT) AS exact_count
      FROM est LEFT JOIN ex USING (item)"""
    }),
    // Bloom membership filter in relational form (distinct k-hash
    // positions; member iff all k set): the English vocabulary as the
    // key set, probed with the fixed token list — zero false
    // negatives, FP rate bounded by (1-e^{-kn/m})^k.
    "text_bloom_vocab" -> Query((s, dir) => {
      val spark = s
      import spark.implicits._
      val enToks = t(s, dir, "documents")
        .where(col("lang") === "en")
        .select(explode(TextFunctions.distinctTokens(col("text"))).as("tok"))
      val filter = Sketches.bloomBuild(enToks, col("tok"), k = 4, bits = 4096)
      val probes = SketchProbeTokens.toDF("item")
      val members = enToks.select(col("tok").as("item")).distinct()
        .withColumn("is_member", lit(true))
      Sketches.bloomProbe(filter, probes, k = 4, bits = 4096)
        .join(members, Seq("item"), "left_outer")
        .select(
          col("item"), col("n_set"), col("maybe_member"),
          coalesce(col("is_member"), lit(false)).as("is_member"))
    }, {
      val probeList = SketchProbeTokens.map(t => s"'$t'").mkString(", ")
      s"""
      WITH vocab AS (
        SELECT DISTINCT tok FROM (
          SELECT unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents WHERE lang = 'en')),
      filt AS (
        SELECT DISTINCT
               ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15))::BIGINT
                 % 4096 AS pos
        FROM vocab, (SELECT unnest(range(4)) AS r)),
      probes AS (SELECT unnest([$probeList]) AS item),
      lanes AS (
        SELECT item,
               ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || item), 1, 15))::BIGINT
                 % 4096 AS pos
        FROM probes, (SELECT unnest(range(4)) AS r)),
      pr AS (
        SELECT item, CAST(sum(CASE WHEN filt.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_set
        FROM lanes LEFT JOIN filt ON filt.pos = lanes.pos
        GROUP BY item)
      SELECT pr.item, n_set, n_set = 4 AS maybe_member,
             coalesce(vocab.tok IS NOT NULL, false) AS is_member
      FROM pr LEFT JOIN vocab ON vocab.tok = pr.item"""
    }),
    // Portable HyperLogLog: per-language distinct-token estimates in
    // one pass — at most 2^p registers per group cross the shuffle,
    // never the distinct value space (the 100 TB cardinality answer;
    // Spark's approx_count_distinct is equivalent but its hash is
    // engine-private, so this md5 formulation is the verifiable one).
    "text_hll_tokens" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      Cardinality.hllDistinct(
        docs.select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("tok")),
        Seq("lang"), col("tok"), p = 8)
    }, """
      WITH items AS (
        SELECT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)),
      regs AS (
        SELECT lang, h >> 52 AS bucket,
               max(CASE WHEN (h & 4503599627370495) = 0 THEN 53
                        ELSE 53 - length(bin(h & 4503599627370495)) END) AS m_rho
        FROM items GROUP BY lang, bucket),
      agg AS (
        SELECT lang, count(*) AS n_registers,
               sum(1::BIGINT << (53 - m_rho)) AS s_present
        FROM regs GROUP BY lang)
      SELECT lang, CAST(n_registers AS BIGINT) AS n_registers,
             CAST(256 - n_registers AS BIGINT) AS v_empty,
             CAST(s_present + (256 - n_registers) * (1::BIGINT << 53) AS BIGINT)
               AS s_scaled,
             0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
               * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE
               / CAST(s_present + (256 - n_registers) * (1::BIGINT << 53) AS DOUBLE)
               AS est_distinct
      FROM agg"""),
    // BM25 ranked retrieval: top-10 docs for 3 fixed keyword queries.
    // Per-term scores rounded to 12dp + decimal-summed (order-free),
    // ranks tie-break on doc_id — hash-reproducible cross-engine.
    "text_bm25_topk" -> Query((s, dir) => {
      val spark = s
      import spark.implicits._
      val q = Bm25DemoQueries
        .flatMap { case (id, terms) => terms.map(id -> _) }
        .toDF("query_id", "term")
      Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text", q, k = 10)
    }, {
      val ql = Bm25DemoQueries
        .flatMap { case (id, terms) => terms.map(t => s"($id, '$t')") }
        .mkString(", ")
      s"""
      WITH ql AS (SELECT * FROM (VALUES $ql) AS v(query_id, term)),
      ${bm25Ctes(selfExclude = false)}
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank,
             CAST(score_dec AS DOUBLE) AS score
      FROM bm25_ranked WHERE rank <= 10"""
    }),
    // MMR diversity re-rank: greedy maximal-marginal-relevance over a
    // 20-candidate cosine front (lambda = 0.5) — near-duplicates of
    // already-picked results fall behind novel ones.
    "search_mmr_rerank" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = broadcast(
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_vec")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rel").desc, col("doc_id"))
      val cands = emb
        .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
        .join(q, col("doc_id") =!= col("query_id"))
        .withColumn("rel", VectorFunctions.cosine(col("q_vec"), col("vec")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 20)
        .select(col("query_id"), col("doc_id"), col("rel"), col("vec"))
        .pinned() // each greedy round re-reads the pool
      Search.mmrRerank(cands, k = 5, lambda = 0.5)
    }, {
      // Unrolled 5-step greedy MMR: candidate front + pairwise sims
      // once, then per step an excluded-max-sim aggregate and an
      // argmax (row_number on (score DESC, doc_id)).
      def step(t: Int): String = s"""
      m$t AS (
        SELECT c.query_id, c.doc_id, c.rel, max(ps.sim) AS ms
        FROM cands c
        JOIN sel${t - 1} s ON s.query_id = c.query_id
        JOIN psim ps ON ps.query_id = c.query_id AND ps.da = c.doc_id AND ps.db = s.doc_id
        WHERE NOT EXISTS (
          SELECT 1 FROM sel${t - 1} z
          WHERE z.query_id = c.query_id AND z.doc_id = c.doc_id)
        GROUP BY c.query_id, c.doc_id, c.rel),
      p$t AS (
        SELECT query_id, doc_id FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY 0.5 * rel - (1.0 - 0.5) * ms DESC, doc_id) AS rn
          FROM m$t) WHERE rn = 1),
      sel$t AS (
        SELECT * FROM sel${t - 1}
        UNION ALL SELECT query_id, doc_id, $t AS rank FROM p$t)"""
      s"""
      WITH scored AS (
        SELECT qid AS query_id, nvid AS doc_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS rel FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        GROUP BY qid, nvid),
      cands AS (
        SELECT query_id, doc_id, rel FROM (
          SELECT query_id, doc_id, rel,
                 row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rk
          FROM scored) WHERE rk <= 20),
      pv AS (
        SELECT c.query_id, c.doc_id, e.embedding
        FROM cands c JOIN embeddings e ON e.vec_id = c.doc_id),
      psim AS (
        SELECT query_id, da, db,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
                 unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
          FROM pv a JOIN pv b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id)
        GROUP BY query_id, da, db),
      p1 AS (
        SELECT query_id, doc_id FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY 0.5 * rel DESC, doc_id) AS rn
          FROM cands) WHERE rn = 1),
      sel1 AS (SELECT query_id, doc_id, 1 AS rank FROM p1),
      ${step(2)}, ${step(3)}, ${step(4)}, ${step(5)}
      SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank FROM sel5"""
    }),
    // Hybrid search: fuse semantic (cosine kNN over embeddings) and
    // lexical (BM25 more-like-this over the query doc's own tokens)
    // rank lists with exact-integer reciprocal-rank fusion. The two
    // retrieval legs are the already-verified operators; fusion adds
    // zero float risk (integer points per rank).
    "search_hybrid_rrf" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val vecList = Similarity
        .knnBruteForce(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 10)
        .withColumnRenamed("neighbor_id", "doc_id")
        .select(col("query_id"), col("doc_id"), col("rank"))
      val qTerms = docs
        .where(col("doc_id") < 5)
        .select(
          col("doc_id").as("query_id"),
          explode(TextFunctions.distinctTokens(col("text"))).as("term"))
      val textList = Search
        .bm25TopK(docs, "doc_id", "text", qTerms, k = 10, selfExclude = true)
        .select(col("query_id"), col("doc_id"), col("rank"))
      Search.rrfFuse(vecList, textList, c = 60, maxRank = 10, k = 10)
    }, {
      val scale = graft.operators.Search.rrfScale(60, 10)
      s"""
      WITH ql AS (
        SELECT doc_id AS query_id,
               unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents WHERE doc_id < 5),
      ${bm25Ctes(selfExclude = true)},
      vscored AS (
        SELECT qid AS query_id, nvid AS doc_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        GROUP BY qid, nvid),
      vlist AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
          FROM vscored)
        WHERE rank <= 10),
      pts AS (
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts FROM vlist
        UNION ALL
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts
        FROM bm25_ranked WHERE rank <= 10),
      fused AS (
        SELECT query_id, doc_id, CAST(sum(pts) AS BIGINT) AS rrf_score
        FROM pts GROUP BY query_id, doc_id)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, rrf_score FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank,
               rrf_score
        FROM fused)
      WHERE rank <= 10"""
    }),
    // Offline retrieval eval: the cosine-kNN retriever scored against
    // label ground truth (same-label = relevant) — hits@10, exact
    // lcm-scaled reciprocal rank, recall@10, precision@10 per query.
    "search_eval_knn" -> Query((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ranked = Similarity
        .knnBruteForce(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 10)
        .withColumnRenamed("neighbor_id", "doc_id")
      val truth = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
        .join(
          emb.select(col("vec_id").as("doc_id"), col("label")),
          col("label") === col("qlabel") && col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      Search.evalRanking(ranked, truth, k = 10)
    }, """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS doc_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      ranked AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
          FROM scored)
        WHERE rank <= 10),
      truth AS (
        SELECT q.vec_id AS query_id, n.vec_id AS doc_id
        FROM embeddings q JOIN embeddings n
          ON n.label = q.label AND n.vec_id <> q.vec_id
        WHERE q.vec_id < 10),
      hits AS (
        SELECT r.query_id, count(*) AS n_rel_at_k, min(r.rank) AS first_rel_rank
        FROM ranked r JOIN truth t ON t.query_id = r.query_id AND t.doc_id = r.doc_id
        GROUP BY r.query_id),
      totals AS (SELECT query_id, count(*) AS n_rel_total FROM truth GROUP BY query_id),
      anchor AS (SELECT query_id FROM ranked GROUP BY query_id)
      SELECT a.query_id,
             CAST(coalesce(n_rel_at_k, 0) AS BIGINT) AS n_rel_at_k,
             CAST(first_rel_rank AS BIGINT) AS first_rel_rank,
             CAST(coalesce(2520 // first_rel_rank, 0) AS BIGINT) AS rr_scaled,
             CAST(coalesce(n_rel_total, 0) AS BIGINT) AS n_rel_total,
             CAST(coalesce(n_rel_at_k, 0) AS DOUBLE) /
               CAST(greatest(least(coalesce(n_rel_total, 0), 10), 1) AS DOUBLE)
               AS recall_at_k,
             CAST(coalesce(n_rel_at_k, 0) AS DOUBLE) / 10.0::DOUBLE AS precision_at_k
      FROM anchor a
      LEFT JOIN hits USING (query_id)
      LEFT JOIN totals USING (query_id)"""),
    // Three-tier hybrid retrieval: dense cosine kNN + lexical BM25 +
    // the 1-bit hamming sketch tier, fused with exact-integer RRF in
    // ONE groupBy regardless of list count. The production shape for
    // "fuse whatever retrievers you have" — adding a tier adds a union
    // branch, not a shuffle.
    "search_hybrid_rrf3" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val vecList = Similarity
        .knnBruteForce(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 10)
        .withColumnRenamed("neighbor_id", "doc_id")
        .select(col("query_id"), col("doc_id"), col("rank"))
      val qTerms = docs
        .where(col("doc_id") < 5)
        .select(
          col("doc_id").as("query_id"),
          explode(TextFunctions.distinctTokens(col("text"))).as("term"))
      val textList = Search
        .bm25TopK(docs, "doc_id", "text", qTerms, k = 10, selfExclude = true)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val binList = Quantization
        .knnBinaryHamming(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          dims = 64, k = 10)
        .withColumnRenamed("neighbor_id", "doc_id")
        .select(col("query_id"), col("doc_id"), col("rank"))
      Search.rrfFuseAll(Seq(vecList, textList, binList), c = 60, maxRank = 10, k = 10)
    }, {
      val scale = graft.operators.Search.rrfScale(60, 10)
      s"""
      WITH ql AS (
        SELECT doc_id AS query_id,
               unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents WHERE doc_id < 5),
      ${bm25Ctes(selfExclude = true)},
      vscored AS (
        SELECT qid AS query_id, nvid AS doc_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        GROUP BY qid, nvid),
      vlist AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
          FROM vscored)
        WHERE rank <= 10),
      bsk AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 64),
                    i -> CASE WHEN embedding[i + 1] <= 0 THEN 0::BIGINT
                              WHEN i = 63 THEN ((-9223372036854775807)::BIGINT - 1)
                              ELSE (1::BIGINT << i) END)) AS BIGINT) AS sk
        FROM embeddings),
      blist AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.sk, n.sk)), n.vec_id) AS rank
          FROM bsk q JOIN bsk n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        WHERE rank <= 10),
      pts AS (
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts FROM vlist
        UNION ALL
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts
        FROM bm25_ranked WHERE rank <= 10
        UNION ALL
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts FROM blist),
      fused AS (
        SELECT query_id, doc_id, CAST(sum(pts) AS BIGINT) AS rrf_score
        FROM pts GROUP BY query_id, doc_id)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, rrf_score FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank,
               rrf_score
        FROM fused)
      WHERE rank <= 10"""
    })
  )
}
