package graft.operators

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators over a document table — the corpus-prep
  * stage of a training-data pipeline. The per-row operators are narrow
  * projections with the text column pruned straight off parquet; at
  * 100TB the scan gives them more splits than cores and they run at
  * scan speed. On a compact input planned in fewer splits than cores,
  * the CPU-bound ones (quality signals, language markers, PII regexes)
  * first round-robin spread it to full width ([[Width.spread]]).
  */
object TextAnalysis {

  /** Token counts: total, distinct, chars. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      size(distinctTokens(col(textCol))).cast("long").as("n_distinct"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Heuristic quality score: length band + type-token ratio + stopword
    * ratio + punctuation/uppercase ratios. Deterministic rationals so an
    * external oracle reproduces it bit-for-bit.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nTok = size(tokens(t)).cast("double")
    val nDis = size(distinctTokens(t)).cast("double")
    val nChar = length(t).cast("double")
    val punct = (nChar - length(regexp_replace(t, "[.!?,;:]", ""))).cast("double")
    val upper = (nChar - length(regexp_replace(t, "[A-Z]", ""))).cast("double")
    val stop = markerCount(tokens(t), Stopwords).cast("double")
    val ttr = nDis / nTok
    val score = ttr * lit(0.5) +
      (lit(1.0) - stop / nTok) * lit(0.3) +
      (lit(1.0) - punct / nChar) * lit(0.1) +
      (lit(1.0) - upper / nChar) * lit(0.1)
    Width.spread(docs).select(
      col(idCol).as("doc_id"),
      round(ttr, 6).as("type_token_ratio"),
      round(stop / nTok, 6).as("stopword_ratio"),
      round(punct / nChar, 6).as("punct_ratio"),
      round(score, 6).as("quality"))
  }

  val Stopwords: Seq[String] = Seq("a", "the", "of", "and", "to", "in")

  /** Marker-word language ID: score each candidate language by marker
    * hits, pick argmax with deterministic alphabetical tiebreak. (An
    * n-gram character model is the production variant; marker scoring is
    * the same shuffle-free shape.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // bindArray: ten marker counts over one BOUND tokenization — the
    // inlined form re-split the text once per language per greatest()
    // and its generated code took seconds to Janino-compile.
    val best = bindArray(tokens(col(textCol))) { toks =>
      // struct(score, negIdx) max ==> highest score, earliest
      // (alphabetical) language on ties.
      greatest(LangMarkers.zipWithIndex.map { case ((lang, markers), i) =>
        struct(
          markerCount(toks, markers).as("score"),
          lit(-i).as("ni"),
          lit(lang).as("lang"))
      }: _*)
    }
    Width.spread(docs).select(
      col(idCol).as("doc_id"),
      best.getField("lang").as("lang_pred"),
      best.getField("score").cast("long").as("marker_hits"))
  }

  /** Canonical-text fingerprint (md5 of normalized form). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      fingerprint(col(textCol)).as("fp"),
      length(normalizeText(col(textCol))).cast("long").as("n_norm_chars"))

  /** Blocklist scrub — the redaction step of corpus prep. In
    * production the same operator runs with PII regexes (emails,
    * phone numbers, id-like digit runs); the synthetic corpus is
    * lowercase words only, so the demo blocklist is vocabulary terms.
    * One word-boundary regexp_replace per row: a narrow codegen'd
    * projection, scan speed at 100 TB.
    */
  def scrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blocklist: Seq[String],
      replacement: String = "[REDACTED]"
  ): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    // Entries are literals, not regex fragments: quote them so terms
    // with metacharacters ("c++", "a.b") match literally instead of
    // throwing or silently widening; likewise the replacement must not
    // be interpreted as group references ("$5 fee").
    val pat = "\\b(" +
      blocklist.map(java.util.regex.Pattern.quote).mkString("|") + ")\\b"
    val repl = java.util.regex.Matcher.quoteReplacement(replacement)
    docs.select(
      col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long").as("n_redacted"),
      regexp_replace(col(textCol), pat, repl).as("scrubbed"))
  }

  /** One PII redaction class: name (column suffix), pattern, token. */
  final case class PiiClass(name: String, pattern: String, replacement: String)

  /** The day-one PII classes of every published pipeline's scrub pass
    * (CCNet / RefinedWeb / Dolma all redact or drop these): emails,
    * 16-digit card runs, dotted-quad IPs, SSN-shaped ids, US-shaped
    * phone numbers.
    *
    * Dialect contract: patterns stay inside the Java-regex ∩ RE2
    * shared subset — character classes, bounded repetition, `\b`, `\d`,
    * alternation, non-capturing groups; NO backreferences, lookarounds,
    * possessive quantifiers, or inline flags (RE2 lacks the first three,
    * Java differs on defaults for the last) — so the identical pattern
    * string runs in Spark (java.util.regex) and in an external RE2
    * engine (DuckDB oracle) with identical match sets. `\b`/`\d`/`\w`
    * agree because both dialects are ASCII-default here.
    *
    * Order matters and is fixed: email before the digit classes (an
    * address like `a1234567890123456@x.ie` must redact as ONE email,
    * not leak its local part to the card class), card (longest digit
    * run) before IP/SSN/phone.
    */
  val PiiClasses: Seq[PiiClass] = Seq(
    PiiClass("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "[EMAIL]"),
    PiiClass("card", "\\b\\d{16}\\b", "[CARD]"),
    PiiClass("ipv4", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "[IP]"),
    PiiClass("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "[SSN]"),
    PiiClass("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "[PHONE]"))

  /** Regex-class PII scrub — the production form of [[scrub]]: each
    * class is counted on the text AS THE PREVIOUS CLASSES LEFT IT and
    * then replaced, i.e. a sequential redaction pipeline. Sequential
    * semantics (not count-on-original) is what makes the per-class
    * counts exact even when classes could overlap on adversarial input:
    * a span consumed by an earlier class can never double-count under a
    * later one.
    *
    * Scale shape: k chained regexp passes fused into one codegen'd
    * projection — no explode; the text column prunes straight off
    * parquet. The regex work is CPU-bound per row, so an input planned
    * in fewer splits than cores is round-robin spread first
    * ([[Width.spread]]): one row group would otherwise run every regex
    * in one task. The stage-k count column re-evaluates the k-1 prior
    * replaces inside the same task (expression-tree sharing keeps no
    * state), so cost is O(k²) regex passes per row with k = 5 — still
    * scan-bound; a corpus with hundreds of classes would motivate a
    * custom Expression holding one compiled Matcher chain, not a
    * different plan shape.
    */
  def piiScrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      classes: Seq[PiiClass] = PiiClasses
  ): DataFrame = {
    require(classes.nonEmpty, "need at least one PII class")
    var cur: Column = col(textCol)
    val counts = classes.map { c =>
      val n = size(regexp_extract_all(cur, lit(c.pattern), lit(0)))
        .cast("long").as(s"n_${c.name}")
      cur = regexp_replace(cur, c.pattern,
        java.util.regex.Matcher.quoteReplacement(c.replacement))
      n
    }
    val total = classes.map(c => col(s"n_${c.name}"))
      .reduce(_ + _).as("n_redacted")
    Width.spread(docs)
      .select(col(idCol).as("doc_id") +: counts :+ cur.as("scrubbed"): _*)
      .select(col("*"), total)
  }

  /** Gopher-style repetition/quality signals (Rae et al. 2021 §A1.1:
    * word-count bounds, mean word length, repetition fractions) with a
    * combined keep/drop verdict. The per-word frequency goes through
    * explode → (doc, word) count → per-doc max — two map-side-combined
    * aggregations, never an O(len²) per-row scan — so the shape holds
    * for book-length documents; the bigram fractions are per-row array
    * projections.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val freq = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        max(col("c")).as("top_cnt"),
        sum(col("c") * length(col("tok"))).as("n_word_chars"))
    val bigrams = shingles(col(textCol), 2)
    val perRow = docs.select(
      col(idCol).as("doc_id"),
      size(bigrams).cast("long").as("n_bigrams"),
      size(array_distinct(bigrams)).cast("long").as("n_distinct_bigrams"))
    val topFrac = round(col("top_cnt").cast("double") / col("n_tokens"), 6)
    val dupFrac = round(
      when(col("n_bigrams") === 0, 0.0)
        .otherwise(lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams")), 6)
    val meanLen = round(col("n_word_chars").cast("double") / col("n_tokens"), 6)
    // Left join FROM the per-row side: a null-text doc produces no
    // exploded rows (so no freq entry), but must still surface with a
    // keep=0 verdict — an inner join would silently drop it from the
    // corpus accounting entirely.
    perRow
      .join(freq, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        topFrac.as("top_word_frac"),
        dupFrac.as("dup_bigram_frac"),
        meanLen.as("mean_word_len"))
      // Verdict on the ROUNDED signals so any external re-computation
      // reaches the identical keep/drop decision; null signals -> 0.
      .withColumn(
        "keep",
        coalesce(
          (col("n_tokens").between(20, 80) &&
            col("top_word_frac") <= 0.12 &&
            col("dup_bigram_frac") <= 0.05 &&
            col("mean_word_len").between(3.0, 10.0)).cast("int"),
          lit(0)))
  }

  /** Unigram-LM quality score — the CCNet-shape "how surprising is
    * this document under a language model" filter, with the LM being
    * the corpus's own unigram distribution (production swaps in a
    * pretrained n-gram model; the plan shape is identical). Per doc:
    * average negative log-likelihood of its tokens — high avg_nll =
    * rare-token noise, very low = boilerplate repetition; CCNet keeps
    * the middle of the distribution. Perplexity = exp(avg_nll)
    * (left to callers: exp is the one op here whose last ulp is not
    * pinned cross-engine).
    *
    * Plan: one vocabulary aggregation + one join back on token (the
    * scale path — a 100 TB vocabulary outgrows any broadcast) + one
    * per-doc aggregation, all map-side combined. NLL terms are
    * 12dp-rounded and decimal-summed so the score is partition-order
    * independent and engine-reproducible.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = toks.agg(count(lit(1)).as("tt"))
    toks
      .join(vocab, "tok")
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"),
        round(-log(col("c").cast("double") / col("tt")), 12)
          .cast("decimal(28,12)").as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll")).as("snll"))
      .select(
        col("doc_id"), col("n_tokens"),
        (col("snll").cast("double") / col("n_tokens")).as("avg_nll"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): rank the corpus by LM score and cut it into head / middle
    * / tail terciles — the standard quality-tiered mixture that
    * pretraining pipelines sample from at different rates. Ranking is
    * the exact NTILE over (avg_nll, doc_id), computed WITHOUT a
    * single-task global window: [[FeatureStore.globalRowNumbers]]
    * range-partitions and prefix-sums per-partition counts, then the
    * NTILE bucket is closed-form integer math on (row_number, n) —
    * identical to SQL NTILE's "first n mod k buckets get one extra
    * row" definition, so the oracle is a plain ntile().
    */
  def perplexityBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int = 3
  ): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val scored = lmScore(docs, idCol, textCol).select(col("doc_id"), col("avg_nll"))
    // total comes free from the numbering's prefix-sum offsets — no
    // second counting pass (and no second window) over the corpus.
    val (numbered, n) = FeatureStore.globalRowNumbersWithTotal(
      scored, Seq("avg_nll", "doc_id"))
    val names = Seq("head", "middle", "tail")
    val k = nBuckets.toLong
    val q = n / k
    val r = n % k
    def idiv(a: Column, b: Long): Column = floor(a / b).cast("long")
    val rn = col("row_number")
    val bucket =
      if (q == 0L) rn // fewer rows than buckets: bucket = rank
      else when(
        rn <= r * (q + 1L), idiv(rn - 1L, q + 1L) + 1L
      ).otherwise(idiv(rn - r * (q + 1L) - 1L, q) + (r + 1L))
    val label =
      if (nBuckets == 3)
        when(col("bucket") === 1L, names(0))
          .when(col("bucket") === 2L, names(1))
          .otherwise(names(2))
      else col("bucket").cast("string")
    numbered
      .withColumn("bucket", bucket)
      .select(col("doc_id"), col("avg_nll"), label.as("bucket"))
  }

  /** Per-document unigram Shannon entropy — the "is this text actually
    * varied language or a template/keyword-stuffing artifact" quality
    * gate (low entropy = few distinct tokens dominating; used alongside
    * the Gopher repetition signals). H = ln(n) − (Σ c·ln c)/n nats over
    * the doc's token counts c, computed in FIXED-POINT INTEGER units:
    * each c·ln(c) term (and ln(n)) becomes floor(x·1e12) pico-nats —
    * two IEEE ops both engines execute identically — and the integer
    * sums are partition-order exact, so the final double (and the
    * `keep` verdict comparing it) is bit-identical in any engine.
    * Two portability traps measured and avoided here: Spark's log2 is
    * a quotient of two logs (≈2 ulp adrift from libm log2 → 12dp
    * round flips), and round(double, 12) itself half-ups the SHORTEST
    * RENDERING in Spark but the binary value in DuckDB (~1% of terms
    * flip) — ln + floor-scaling sidesteps both; bits = nats / ln 2 as
    * one literal IEEE division at the very end.
    *
    * Plan shape: explode → (doc, tok) count → per-doc aggregate, both
    * map-side combined; one left join back to the doc base so empty
    * docs surface with keep = false instead of vanishing from corpus
    * accounting. No corpus-wide state — scan shape at 100 TB.
    */
  def entropyScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minBits: Double
  ): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(floor(col("c") * log(col("c")) * lit(1e12)).cast("decimal(28,0)"))
          .cast("decimal(28,0)").as("sclog"))
    // H·n in pico-nat units = floor(ln n·1e12)·n − Σ floor(c·ln c·1e12),
    // exact integer decimals throughout (floor(ln n·1e12) < 4.6e13
    // fits (14,0); n < 10^14 tokens/doc fits (14,0); per-doc sums fit
    // (28,0)); the three divisions at the end are IEEE-exact.
    val hn = floor(log(col("n_tokens")) * lit(1e12)).cast("decimal(14,0)") *
      col("n_tokens").cast("decimal(14,0)") - col("sclog")
    docs
      .select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        (hn.cast("double") / lit(1e12) / col("n_tokens") / lit(0.6931471805599453))
          .as("entropy_bits"))
      .withColumn(
        "keep",
        coalesce((col("entropy_bits") >= minBits).cast("int"), lit(0)))
  }

  /** Benchmark decontamination — drop/flag training documents sharing
    * any word n-gram with an evaluation set (the n-gram-overlap rule
    * used for LLM train/test hygiene, e.g. GPT-3 appendix C). The
    * benchmark's distinct n-grams are broadcast (eval suites are tiny
    * next to the corpus); the corpus side is explode → broadcast-join →
    * one per-doc count — a single shuffle at any corpus size.
    * Returns contaminated docs: (doc_id, n_shared distinct n-grams).
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val bench = broadcast(
      benchmark.select(explode(shingles(col(textCol), n)).as("g")).distinct())
    corpus
      .select(col(idCol).as("doc_id"), explode(shingles(col(textCol), n)).as("g"))
      .join(bench, "g")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n_shared"))
  }

  /** Fixed-size token windows with stride — the chunking step that
    * turns documents into model-context-sized training sequences
    * (stride < chunkSize gives the standard overlapping LM windows).
    * Pure per-row array work: sequence of window starts → slice →
    * re-join; posexplode keeps a deterministic chunk index. Trailing
    * partial windows are kept (callers filter on n_chunk_tokens if a
    * full window is required).
    */
  def chunkTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int
  ): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    // bindArray: the tokenization must enter the window lambda as a
    // BOUND value — slicing `tokens(text)` directly inside it would
    // re-split the document once per window (O(len²/stride) per row).
    val windows = bindArray(tokens(col(textCol))) { t =>
      transform(
        sequence(lit(0), greatest(size(t) - 1, lit(0)), lit(stride)),
        st => {
          val w = slice(t, st + 1, lit(chunkSize))
          struct(concat_ws(" ", w).as("chunk"), size(w).as("n"))
        })
    }
    docs
      .select(
        col(idCol).as("doc_id"),
        posexplode(windows).as(Seq("chunk_idx", "c")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.chunk").as("chunk"),
        col("c.n").cast("long").as("n_chunk_tokens"))
  }

  /** Learn the first `merges` BPE merge rules from the corpus — the
    * train-the-tokenizer step of LLM data prep (Sennrich et al. 2016:
    * repeatedly merge the most frequent adjacent pair). Each round is
    * one distributed pair-count (explode bigrams → map-side-combined
    * groupBy) plus a single-row driver read of the winning pair (the
    * O(1) fixpoint artifact, like the CC loop's count); the merge is
    * then applied corpus-wide as a plain string `replace` over a
    * DOUBLE-spaced token encoding (" a  b  c "): each " x  y " match
    * consumes one delimiter space from each side, so adjacent pair
    * occurrences stay independently matchable and left-to-right
    * non-overlapping replace IS greedy BPE application ("a b a b"
    * merges both pairs; a single-spaced encoding would eat the shared
    * delimiter and merge alternately). Plain replace has identical
    * semantics in every engine, so the whole schedule is externally
    * reproducible. Word-level pairs here (the corpus is word-tokenized);
    * byte/char-level BPE is the same loop seeded with character tokens.
    * At 100 TB you run this on a sample (standard practice — merge
    * tables converge long before the full corpus is consumed); the
    * per-round shape is a single scan + tiny shuffle either way.
    * Ties break lexicographically so the merge table is deterministic.
    *
    * Returns (rank, lhs, rhs, merged, n_pairs) — the ordered merge
    * table.
    */
  /** Lineage re-pin cadence for the chained-replace loops ([[bpeMerges]],
    * [[bpeEncode]]): plans stay <= this many projections deep.
    */
  private val RepinEvery = 16

  def bpeMerges(docs: DataFrame, idCol: String, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1, "merges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    var texts = docs
      .where(col(textCol).isNotNull)
      .select(
        concat(lit(" "), replace(col(textCol), lit(" "), lit("  ")), lit(" ")).as("t"))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var exhausted = false
    for (r <- 1 to merges if !exhausted) {
      val toks = split(trim(col("t")), "  ")
      val pairs = filter(
        zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
        p => p.isNotNull)
      val top = texts
        .select(explode(pairs).as("p"))
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("p"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val p = top.head.getAs[String]("p")
        val n = top.head.getAs[Long]("n")
        val Array(x, y) = p.split(" ", 2)
        val merged = s"$x@@$y"
        learned += ((r.toLong, x, y, merged, n))
        texts = texts.select(replace(col("t"), lit(s" $x  $y "), lit(s" $merged ")).as("t"))
        // Each round appends one `replace` projection to the lineage,
        // and every round's pair-count re-analyzes the whole chain —
        // quadratic in the merge count if left to grow. Re-pin every
        // RepinEvery rounds so a production-scale merge table (64,
        // 32k, …) keeps each analyzed plan bounded at RepinEvery
        // projections; the pin honors graft.pins.durable on clusters.
        if (r % RepinEvery == 0) texts = Pins.pin(texts)
      }
    }
    learned.toSeq.toDF("rank", "lhs", "rhs", "merged", "n_pairs")
  }

  /** Apply learned BPE merges to encode the corpus — the tokenize-the-
    * corpus step that follows [[bpeMerges]] training. The merge table
    * is tiny by construction (vocab-sized); applying it is `merges`
    * chained `replace` projections over the same double-spaced
    * encoding the trainer used (greedy left-to-right, engine-portable
    * — see bpeMerges), i.e. scan-speed per merge rule at any corpus
    * size. Null-text docs carry no tokens and are omitted (same rule
    * as training). Returns per-doc post-merge token counts plus how
    * many emitted tokens are merged pairs.
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String, merges: Int): DataFrame = {
    val table = bpeMerges(docs, idCol, textCol, merges).collect() // <= `merges` rows
    var enc = docs
      .where(col(textCol).isNotNull)
      .select(
        col(idCol).as("doc_id"),
        concat(lit(" "), replace(col(textCol), lit(" "), lit("  ")), lit(" ")).as("t"))
    table.zipWithIndex.foreach { case (r, i) =>
      val (x, y, m) =
        (r.getAs[String]("lhs"), r.getAs[String]("rhs"), r.getAs[String]("merged"))
      enc = enc.select(
        col("doc_id"), replace(col("t"), lit(s" $x  $y "), lit(s" $m ")).as("t"))
      // same bounded-plan guard as the trainer (one replace per rule)
      if ((i + 1) % RepinEvery == 0) enc = Pins.pin(enc)
    }
    val toks = split(trim(col("t")), "  ")
    enc.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens_bpe"),
      size(filter(toks, t => t.contains("@@"))).cast("long").as("n_merged_tokens"))
  }

  /** BPE-ish subword token counting: greedy regex chunking — letter
    * runs capped at 4 chars, single digits, single punctuation — as a
    * cheap deterministic proxy for a byte-pair tokenizer's token count
    * (a real BPE vocab is a lookup table; the greedy-longest-chunk scan
    * is the same cost shape). Narrow projection, scan speed at 100 TB;
    * counts are engine-portable (same greedy semantics in any
    * POSIX-style regex engine, oracle included).
    */
  def subwordCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"), lit(0)))
        .cast("long").as("n_subwords"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))

  /** Sequence-packing manifest — GPT-style pretraining batching:
    * documents are concatenated in id order into one token stream and
    * cut into fixed-`capacity` training sequences (docs split at pack
    * boundaries; no padding waste). Emits, per doc, its token count,
    * its offset in the global stream, and the first/last pack it lands
    * in — the manifest a loader needs to assemble any pack by reading
    * only the docs that intersect it.
    *
    * Scale: the global running offset is NOT a single-task
    * `ORDER BY doc_id` window. Docs are range-partitioned by id (so a
    * partition owns a contiguous id range), only the numPartitions
    * per-partition token SUMS come to the driver, and each partition
    * adds its broadcast prefix offset to a partition-local cumsum —
    * the materializeRange prefix-sum pattern applied to token counts.
    */
  def seqPack(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      capacity: Long
  ): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val counts = docs.select(
      col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val parted = counts
      .repartitionByRange(col("doc_id"))
      .select(col("*"), spark_partition_id().as("_pid"))
      .pinned() // pin the partition assignment the offsets describe
    val sums = parted.groupBy(col("_pid")).agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = sums.map { case (pid, s) => val o = acc; acc += s; (pid, o) }
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("_pid", "_off"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("doc_id"))
    parted
      .join(offDf, Seq("_pid"))
      .withColumn(
        "stream_offset", sum(col("n_tokens")).over(w) - col("n_tokens") + col("_off"))
      .select(
        col("doc_id"), col("n_tokens"), col("stream_offset"),
        expr(s"stream_offset div $capacity").as("pack_first"),
        expr(s"(stream_offset + n_tokens - 1) div $capacity").as("pack_last"))
      .withColumn("n_packs", col("pack_last") - col("pack_first") + 1L)
  }

  /** Bigram language-model scoring with stupid backoff (Brants et al.
    * 2007): the LM trains on a held-out SLICE of the corpus (`isTrain`)
    * and scores every doc, so unseen bigrams genuinely back off to the
    * 0.4-discounted add-one unigram — the higher-order sibling of
    * [[lmScore]]'s unigram perplexity, and a sharper fluency signal
    * (word-salad shuffles keep their unigram score but crater here).
    * score(w1 w2) = ln(c12/c1) when the train corpus saw the bigram,
    * else ln(0.4·(c2+1)/(T+V)). Terms are fixed-point pico-nats, so
    * per-doc totals are exact integer sums; `n_backoff` counts the
    * out-of-model bigrams (itself a novelty signal).
    *
    * Plan: two count aggregates over the train slice (bigram, unigram),
    * unigram side broadcast twice (w1, w2 lookups), bigram join on the
    * composite key — shuffle count independent of horizon count.
    */
  def bigramLmScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTrain: Column
  ): DataFrame = {
    def bigrams(textC: Column): Column = {
      val toks = tokens(textC)
      filter(
        zip_with(toks, slice(toks, 2, 2147483646), (a, b) => concat_ws(" ", a, b)),
        p => p.contains(" "))
    }
    val docBi = docs.select(
      col(idCol).as("doc_id"), isTrain.as("is_train"),
      explode(bigrams(col(textCol))).as("bi"))
    val trainBi = docBi.where(col("is_train"))
      .groupBy(col("bi")).agg(count(lit(1)).as("c12"))
    val trainUni = docs.where(isTrain)
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = trainUni.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val w1c = trainUni.select(col("tok").as("_w1"), col("c").as("c1"))
    val w2c = trainUni.select(col("tok").as("_w2"), col("c").as("c2"))
    docBi
      .withColumn("_w1", split(col("bi"), " ").getItem(0))
      .withColumn("_w2", split(col("bi"), " ").getItem(1))
      .join(trainBi, Seq("bi"), "left")
      .join(broadcast(w1c), Seq("_w1"), "left")
      .join(broadcast(w2c), Seq("_w2"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("doc_id"),
        when(col("c12").isNotNull,
          floor(log(col("c12").cast("double") / col("c1")) * lit(1000000000000.0)))
          .otherwise(
            floor(log(lit(0.4) *
              ((coalesce(col("c2"), lit(0L)) + 1L).cast("double") / (col("t") + col("v"))))
              * lit(1000000000000.0)))
          .cast("long").as("term_pico"),
        col("c12").isNull.as("is_backoff"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("is_backoff"), 1L).otherwise(0L)).as("n_backoff"),
        (-sum(col("term_pico"))).as("nll_pico"))
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw doc
    * by the log-likelihood ratio of a target-domain unigram LM over
    * the raw-corpus LM, log p_t(x) − log p_r(x) = Σ_w c_w(x)·(ln
    * p_t(w) − ln p_r(w)), with add-one smoothing over the shared
    * vocabulary; the top-weighted docs are the ones to keep.
    * The per-token log-ratio is fixed-point pico-nats (floor(ln·1e12)
    * per probability, then an integer difference), so per-doc weights
    * are integer sums — partition-order exact and engine-portable.
    *
    * Plan: one explode → token-level (cr, ct) counts (map-side
    * combined), a 1-row totals broadcast, then the per-doc aggregate
    * re-joins tokens to the scored vocab — two shuffles total (vocab
    * key, doc key) regardless of corpus size.
    */
  def dsirWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column
  ): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"), isTarget.as("is_target"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
    val totals = vocab.agg(
      sum(col("cr")).as("tr"), sum(col("ct")).as("tt"), count(lit(1)).as("v"))
    val scored = vocab
      .crossJoin(broadcast(totals))
      .select(
        col("tok"),
        (floor(log((col("ct") + 1L).cast("double") / (col("tt") + col("v"))) * lit(1000000000000.0))
          - floor(log((col("cr") + 1L).cast("double") / (col("tr") + col("v"))) * lit(1000000000000.0)))
          .cast("long").as("dw_pico"))
    toks
      .join(scored, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("dw_pico")).as("weight_pico"))
  }

  /** Hashed linear classifier INFERENCE — the fastText-shaped quality/
    * toxicity filter CCNet and RefinedWeb run over a crawl: each doc's
    * word bigrams hash into a fixed table of `buckets` weight slots and
    * the doc's score is the summed evidence (embedding-bag of hashed
    * n-grams, the exact fastText scoring shape). Weights here derive
    * deterministically from the bucket id (micro-units in
    * [-1e6, 1e6] — a stand-in for trained parameters that keeps the
    * score engine-portable; production swaps in a broadcast weight
    * array, same plan). keep = summed evidence >= 0, which is the
    * mean-threshold-at-zero decision without a division (no negative
    * integer-division portability trap).
    *
    * Scale shape: the whole scorer is a per-row HOF fold inside the
    * scan projection — NO explode, NO shuffle, NO join; classifier
    * inference at 100 TB runs at scan speed, which is exactly why the
    * hashing-trick linear model is the filter of choice at corpus
    * scale. Docs too short to form a bigram carry no evidence and are
    * excluded (same row set as the SQL oracle's unnest).
    */
  def classifierScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 1024
  ): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val weighted = transform(
      shingles(col(textCol), 2),
      g => {
        val bucket =
          conv(substring(md5(concat(lit("clf:"), g)), 1, 15), 16, 10)
            .cast("long") % lit(buckets.toLong)
        (conv(
          substring(md5(concat(lit("w:"), bucket.cast("string"))), 1, 15),
          16, 10).cast("long") % lit(2000001L)) - lit(1000000L)
      })
    docs
      .select(col(idCol).as("doc_id"), weighted.as("ws"))
      .select(
        col("doc_id"),
        size(col("ws")).cast("long").as("n_bigrams"),
        aggregate(col("ws"), lit(0L), (a, x) => a + x).as("score_sum_micro"))
      .where(col("n_bigrams") > 0)
      .withColumn("keep", (col("score_sum_micro") >= 0L).cast("int"))
  }
}
