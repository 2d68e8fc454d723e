package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  test("md5Long60 is pinned to the externally computed 60-bit md5 prefix") {
    import org.apache.spark.sql.functions.col
    // int(md5('hello')[0:15], 16) computed independently — the portable
    // sketch hashes (simhash/minhash oracle mode) rely on this value
    // being reproducible by any engine with md5.
    val got = Seq("hello").toDF("s")
      .select(graft.functions.TextFunctions.md5Long60(col("s")))
      .collect().head.getLong(0)
    assert(got == 419982666956583591L)
    assert(got >= 0L)
  }

  test("token counts") {
    val docs = Seq((1L, "a b b c")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCounts(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_tokens") == 4L)
    assert(r.getAs[Long]("n_distinct") == 3L)
    assert(r.getAs[Long]("n_chars") == 7L)
  }

  test("fingerprint is invariant to case, punctuation and extra spaces") {
    val docs = Seq(
      (1L, "Hello,  World! 42"),
      (2L, "hello world 42"),
      (3L, "different text")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp")).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("langId scores marker words with alphabetical tiebreak") {
    val docs = Seq(
      (1L, "the cat is on the mat and the dog"), // en markers
      (2L, "le chat et la maison est grande les"), // fr markers
      (3L, "xyzzy qwerty")                         // no markers -> tie -> 'de'
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "fr")
    assert(out(3L) == "de")
  }

  test("bigram fast path equals the general shingle construction") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val docs = Seq("a b c d", "single", "x y", "repeat repeat repeat")
      .toDF("text")
    // general path: same construction shingles() uses for n != 2
    val general = transform(split(col("text"), " "),
      (_, i) => concat_ws(" ", slice(split(col("text"), " "), i + lit(1), lit(2))))
    val rows = docs.select(
      TextFunctions.shingles(col("text"), 2).as("fast"),
      filter(general, (_, i) => i <= size(split(col("text"), " ")) - 2).as("slow"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("quality score favors diverse non-stopword text") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "the the the the the the")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    assert(q(1L) > q(2L))
  }

  test("scrub redacts blocklist words only at word boundaries") {
    val docs = Seq(
      (1L, "key lookup by hash and hashkey monkey"),
      (2L, "no match here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrub(docs, "doc_id", "text", Seq("hash", "key"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_redacted"), r.getAs[String]("scrubbed")))
      .toMap
    // "hashkey" and "monkey" survive: the match is boundary-anchored.
    assert(out(1L) == ((2L, "[REDACTED] lookup by [REDACTED] and hashkey monkey")))
    assert(out(2L) == ((0L, "no match here")))
  }

  test("scrub treats blocklist entries and replacement as literals") {
    val docs = Seq((1L, "uses c++ and a.b but not axb")).toDF("doc_id", "text")
    val out = TextAnalysis.scrub(docs, "doc_id", "text", Seq("c++", "a.b"), "$5 [X]")
      .collect().head
    // metacharacters don't throw, don't widen ("axb" untouched — '.'
    // is literal), and the replacement's $ is not a group reference.
    // "c++" goes unmatched: \b needs a word-char edge and '+' isn't
    // one — boundary-anchored semantics, documented not crashed.
    assert(out.getAs[Long]("n_redacted") == 1L)
    assert(out.getAs[String]("scrubbed") == "uses c++ and $5 [X] but not axb")
  }

  test("piiScrub redacts every class with exact per-class counts") {
    val docs = Seq(
      (1L, "mail bob.smith+x@sub.example.co.uk now"),
      (2L, "card 4111222233445566 ip 10.1.200.3"),
      (3L, "ssn 123-45-6789 phone 555-123-4567"),
      (4L, "clean words only"),
      (5L, "two mails a@b.io c@d.io one ip 8.8.8.8")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_email") == 1L)
    assert(out(1L).getAs[String]("scrubbed") == "mail [EMAIL] now")
    assert(out(2L).getAs[Long]("n_card") == 1L)
    assert(out(2L).getAs[Long]("n_ipv4") == 1L)
    assert(out(2L).getAs[String]("scrubbed") == "card [CARD] ip [IP]")
    assert(out(3L).getAs[Long]("n_ssn") == 1L)
    assert(out(3L).getAs[Long]("n_phone") == 1L)
    assert(out(3L).getAs[String]("scrubbed") == "ssn [SSN] phone [PHONE]")
    assert(out(4L).getAs[Long]("n_redacted") == 0L)
    assert(out(4L).getAs[String]("scrubbed") == "clean words only")
    assert(out(5L).getAs[Long]("n_email") == 2L)
    assert(out(5L).getAs[Long]("n_ipv4") == 1L)
    assert(out(5L).getAs[Long]("n_redacted") == 3L)
  }

  test("piiScrub sequential semantics: earlier classes consume spans first") {
    // The digits of an email's local part must NOT leak to the card
    // class: email runs first and removes the whole address. And an
    // SSN-shaped span inside a phone-shaped context stays one class.
    val docs = Seq(
      (1L, "a1234567890123456@x.ie end"),
      (2L, "overlap 123-45-6789 and 555-123-4567")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_email") == 1L)
    assert(out(1L).getAs[Long]("n_card") == 0L)
    assert(out(1L).getAs[String]("scrubbed") == "[EMAIL] end")
    assert(out(2L).getAs[Long]("n_ssn") == 1L)
    assert(out(2L).getAs[Long]("n_phone") == 1L)
    assert(out(2L).getAs[Long]("n_redacted") == 2L)
  }

  /** Round-robin exchanges in `df`'s physical plan (read, not run). */
  private def roundRobinExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Plans.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }.size
  }

  test("Width.spread: a narrow input gains one round-robin exchange, a wide or streaming one none") {
    import graft.operators.Width
    val width = spark.sparkContext.defaultParallelism
    val docs = graft.sources.Tables.load(spark, GraftTestSession.Sf0001, "documents")
    val narrow = docs.coalesce(1)
    val spread = Width.spread(narrow)
    assert(roundRobinExchanges(narrow) == 0)
    assert(roundRobinExchanges(spread) == 1)
    assert(spread.rdd.getNumPartitions == width)
    assert(spread.collect().map(_.toString).sorted.sameElements(
      narrow.collect().map(_.toString).sorted))
    val wide = docs.repartition(width)
    assert(Width.spread(wide) eq wide)
    val wider = spark.range(0, 100, 1, width + 3).toDF()
    assert(Width.spread(wider) eq wider, "never narrows a wider input")
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](spark).toDF()
    assert(Width.spread(stream) eq stream)
  }

  test("qualityScore, langId and piiScrub give the same rows spread or not") {
    import org.apache.spark.sql.DataFrame
    val docs = graft.sources.Tables.load(spark, GraftTestSession.Sf0001, "documents")
    val narrow = docs.coalesce(1)
    val wide = docs.repartition(spark.sparkContext.defaultParallelism)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "qualityScore" -> (d => TextAnalysis.qualityScore(d, "doc_id", "text")),
      "langId" -> (d => TextAnalysis.langId(d, "doc_id", "text")),
      "piiScrub" -> (d => TextAnalysis.piiScrub(d, "doc_id", "text")))
    ops.foreach { case (name, op) =>
      assert(roundRobinExchanges(op(narrow)) == 1, s"$name spreads a one-partition input")
      assert(roundRobinExchanges(op(wide)) == 1, s"$name adds nothing to a full-width input")
      assert(rows(op(narrow)) == rows(op(wide)), s"$name output differs when spread")
    }
  }

  test("repetitionSignals computes gopher signals and the keep verdict") {
    val passing = (1 to 25).map(i => f"wd$i%02d").mkString(" ") // 25 x 4-char distinct
    val docs = Seq((1L, "aa aa aa bb"), (2L, passing)).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_tokens") == 4L)
    assert(r1.getAs[Double]("top_word_frac") == 0.75)
    // bigrams: "aa aa","aa aa","aa bb" -> 3 total, 2 distinct
    assert(r1.getAs[Double]("dup_bigram_frac") == 0.333333)
    assert(r1.getAs[Double]("mean_word_len") == 2.0)
    assert(r1.getAs[Int]("keep") == 0) // too short, too repetitive
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_tokens") == 25L)
    assert(r2.getAs[Double]("top_word_frac") == 0.04)
    assert(r2.getAs[Double]("dup_bigram_frac") == 0.0)
    assert(r2.getAs[Double]("mean_word_len") == 4.0)
    assert(r2.getAs[Int]("keep") == 1)
  }

  test("repetitionSignals keeps null-text docs visible with keep=0") {
    val docs = Seq((1L, "aa bb cc"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("keep")).toMap
    assert(out.keySet == Set(1L, 2L)) // the null doc is not silently dropped
    assert(out(2L) == 0)
  }

  test("decontaminate flags exactly the docs sharing an n-gram with the benchmark") {
    val corpus = Seq((1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text")
    val bench = Seq((10L, "q q a b c d q")).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    assert(out == Map(1L -> 1L)) // shares "a b c d"; doc 2 is clean
  }

  test("bpeMerges learns greedy merges with deterministic tiebreaks") {
    val docs = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMerges(docs, "doc_id", "text", merges = 2)
      .collect()
      .map(r => r.getAs[Long]("rank") ->
        (r.getAs[String]("lhs"), r.getAs[String]("rhs"),
          r.getAs[String]("merged"), r.getAs[Long]("n_pairs")))
      .toMap
    // "a b" appears 3x (twice in doc 1 — the middle "b a" does not
    // overlap-consume it — once in doc 2)
    assert(out(1L) == (("a", "b", "a@@b", 3L)))
    // round 2: all pairs now tie at 1; lexicographically smallest is
    // "a@@b a@@b" (from " a@@b a@@b c ")
    assert(out(2L) == (("a@@b", "a@@b", "a@@b@@a@@b", 1L)))
    assert(out.size == 2)
  }

  test("chunkTokens emits overlapping stride windows incl. trailing partial") {
    val docs = Seq((1L, "t1 t2 t3 t4 t5 t6 t7")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs, "doc_id", "text", chunkSize = 3, stride = 2)
      .collect()
      .map(r => (r.getAs[Long]("chunk_idx"), r.getAs[String]("chunk"), r.getAs[Long]("n_chunk_tokens")))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, "t1 t2 t3", 3L),
      (1L, "t3 t4 t5", 3L),
      (2L, "t5 t6 t7", 3L),
      (3L, "t7", 1L)))
  }

  test("lmScore: rare tokens raise avg_nll; values match the closed form") {
    // Corpus tokens: a a b  ->  p(a)=2/3, p(b)=1/3.
    val docs = Seq((1L, "a a"), (2L, "b")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_nll"))))
      .toMap
    assert(out(1L)._1 == 2L && out(2L)._1 == 1L)
    assert(math.abs(out(1L)._2 - -math.log(2.0 / 3.0)) < 1e-9)
    assert(math.abs(out(2L)._2 - -math.log(1.0 / 3.0)) < 1e-9)
    assert(out(2L)._2 > out(1L)._2, "rarer tokens must be more surprising")
  }

  test("bpeEncode applies learned merges greedily and counts merged tokens") {
    // "a b" is the most frequent pair (4 occurrences) -> merge 1 =
    // a@@b. Doc 1 "a b a b c": both pairs merge (greedy non-overlap)
    // -> [a@@b, a@@b, c]. With merges=1 nothing else changes.
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "a b x y"),
      (3L, "x y z a b")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges = 1)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens_bpe"), r.getAs[Long]("n_merged_tokens"))))
      .toMap
    assert(out(1L) == ((3L, 2L))) // 5 tokens - 2 merges
    assert(out(2L) == ((3L, 1L))) // a@@b x y
    assert(out(3L) == ((4L, 1L))) // x y z a@@b
  }

  test("bpeEncode drops null-text docs and keeps unmergeable docs intact") {
    val docs = Seq(
      (1L, "p q p q p q"),
      (2L, null.asInstanceOf[String]),
      (3L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens_bpe"), r.getAs[Long]("n_merged_tokens"))))
      .toMap
    assert(!out.contains(2L))
    assert(out(1L)._1 < 6L, "repeated pair must have merged")
    assert(out(3L) == ((1L, 0L)))
  }

  test("subword counts chunk greedily into <=4-char pieces") {
    val docs = Seq(
      (1L, "hello world42 spark!"), // hell,o + worl,d,4,2 + spar,k,! = 9
      (2L, "ab")                    // one chunk
    ).toDF("doc_id", "text")
    val out = TextAnalysis.subwordCounts(docs, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_subwords"), r.getAs[Long]("n_tokens")))
      .toMap
    assert(out(1L) == ((9L, 3L)))
    assert(out(2L) == ((1L, 1L)))
  }

  test("entropyScore: exact H on uniform/degenerate docs, null doc surfaces") {
    val docs = Seq(
      (1L, "a b c d"),   // uniform over 4 -> exactly 2 bits
      (2L, "a a b b"),   // uniform over 2 -> exactly 1 bit
      (3L, "a a a a"),   // degenerate -> 0 bits
      (4L, null.asInstanceOf[String]) // must surface with keep = 0
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .entropyScore(docs, "doc_id", "text", minBits = 1.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct"),
          Option(r.get(r.fieldIndex("entropy_bits"))), r.getAs[Int]("keep"))))
      .toMap
    assert(out.size == 4)
    def close(o: Option[Any], v: Double) =
      math.abs(o.get.asInstanceOf[Double] - v) < 1e-9
    assert(out(1L)._1 == 4L && out(1L)._2 == 4L && close(out(1L)._3, 2.0) && out(1L)._4 == 1)
    assert(out(2L)._1 == 4L && out(2L)._2 == 2L && close(out(2L)._3, 1.0) && out(2L)._4 == 0)
    assert(out(3L)._1 == 4L && out(3L)._2 == 1L && close(out(3L)._3, 0.0) && out(3L)._4 == 0)
    assert(out(4L) == ((0L, 0L, None, 0)))
  }

  test("seqPack: global stream offsets are a gapless prefix sum; packs cut at capacity") {
    // 20 docs × 3 tokens, capacity 5 → stream of 60 tokens, packs 0..11
    val docs = (1L to 20L).map(i => (i, "a b c")).toDF("doc_id", "text")
      .repartition(7) // offsets must survive an arbitrary input layout
    val out = TextAnalysis.seqPack(docs, "doc_id", "text", capacity = 5L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("stream_offset"), r.getAs[Long]("pack_first"),
          r.getAs[Long]("pack_last"), r.getAs[Long]("n_packs"))))
      .toMap
    (1L to 20L).foreach { i =>
      val off = (i - 1) * 3
      assert(out(i)._1 == off, s"doc $i offset")
      assert(out(i)._2 == off / 5 && out(i)._3 == (off + 2) / 5)
      assert(out(i)._4 == (off + 2) / 5 - off / 5 + 1)
    }
    // doc 2 (tokens 3..5) straddles the first pack boundary
    assert(out(2L) == ((3L, 0L, 1L, 2L)))
  }

  test("bigramLmScore: seen bigrams score ln(c12/c1), unseen back off to 0.4-discounted unigram") {
    import org.apache.spark.sql.functions.col
    // train = doc 2 ("a b b"): uni a:1 b:2 (t=3, v=2); bi "a b":1 "b b":1
    val docs = Seq((1L, "a b a"), (2L, "a b b")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "doc_id", "text", col("doc_id") % 2 === 0)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_backoff"),
          r.getAs[Long]("nll_pico")))).toMap
    // doc 1: "a b" seen -> ln(1/1)=0; "b a" unseen -> ln(0.4*(1+1)/(3+2))
    val backoffA = math.floor(math.log(0.4 * (2.0 / 5)) * 1e12).toLong
    assert(out(1L) == ((2L, 1L, -backoffA)))
    // doc 2 (train): "a b" -> 0; "b b" -> ln(1/2)
    val halfTerm = math.floor(math.log(1.0 / 2) * 1e12).toLong
    assert(out(2L) == ((2L, 0L, -halfTerm)))
  }

  test("dsirWeights: docs made of target-domain tokens score above off-domain docs") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "tea tea tea", true), // target domain speaks "tea"
      (2L, "tea tea tea", false), // same text, raw side: same weight as 1
      (3L, "ore ore ore", false), // off-domain tokens: negative ratio
      (4L, "tea ore tea", false)
    ).toDF("doc_id", "text", "is_target")
    val w = TextAnalysis.dsirWeights(docs, "doc_id", "text", col("is_target"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("weight_pico")).toMap
    assert(w(1L) == w(2L)) // weight depends on content, not membership
    assert(w(1L) > w(4L) && w(4L) > w(3L)) // monotone in target-token share
    assert(w(3L) < 0) // "ore" never appears in the target: ratio < 1
  }

  test("perplexityBuckets: exact NTILE semantics — first n mod k buckets get the extra row") {
    // 5 docs, 3 buckets: NTILE gives sizes 2,2,1. Token frequencies are
    // arranged so avg_nll strictly orders doc 1 < 2 < 3 < 4 < 5.
    val docs = Seq(
      (1L, "a a a a a"), // most common token -> lowest nll
      (2L, "a a a a b"),
      (3L, "a a a b b"),
      (4L, "a a b b c"),
      (5L, "b c d e f") // rare tokens -> highest nll
    ).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    assert(out == Map(1L -> "head", 2L -> "head", 3L -> "middle", 4L -> "middle", 5L -> "tail"))
  }

  test("classifierScore: exact hashed-linear evidence vs naive; short docs excluded") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def h15(s: String): Long = java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    def weight(bigram: String): Long =
      (h15(s"w:${h15(s"clf:$bigram") % 1024}") % 2000001L) - 1000000L
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "one two"), (3L, "solo"),
      (4L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val out = TextAnalysis.classifierScore(docs, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("score_sum_micro"), r.getAs[Int]("keep"))))
      .toMap
    def naive(text: String): (Long, Long, Int) = {
      val w = text.split(" ")
      val ws = w.indices.dropRight(1).map(i => weight(s"${w(i)} ${w(i + 1)}"))
      (ws.size.toLong, ws.sum, if (ws.sum >= 0) 1 else 0)
    }
    assert(out == Map(
      1L -> naive("alpha beta gamma"),
      2L -> naive("one two"),
      4L -> naive("alpha beta alpha beta"))) // doc 3: no bigram, excluded
    // a repeated bigram contributes its weight every occurrence
    assert(out(4L)._2 ==
      2 * weight("alpha beta") + weight("beta alpha"))
  }

  test("bpeMerges at production depth: 64 merges, re-pinned lineage, equals naive replay") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val vocab = (0 until 22).map(i => s"w$i")
    val docsSeq = (1L to 60L).map { id =>
      (id, Seq.fill(30)(vocab(math.min(rnd.nextInt(22), rnd.nextInt(22)))).mkString(" "))
    }
    val docs = docsSeq.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val out = TextAnalysis.bpeMerges(docs, "doc_id", "text", merges = 64)
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[String]("merged"), r.getAs[Long]("n_pairs")))
      .sortBy(_._1)
    val secs = (System.nanoTime() - t0) / 1e9

    // naive single-JVM replay of greedy BPE with the same tiebreak
    var corpus = docsSeq.map(_._2.split(" ").toList)
    val naive = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var rounds = 0
    var done = false
    while (rounds < 64 && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      corpus.foreach { toks =>
        toks.zip(toks.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + 1L)
      }
      if (counts.isEmpty) done = true
      else {
        val ((x, y), n) = counts.toSeq.minBy { case ((a, b), c) => (-c, s"$a $b") }
        naive += ((x, y, n))
        corpus = corpus.map { toks =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == x && toks(i + 1) == y) {
              out += s"$x@@$y"; i += 2
            } else { out += toks(i); i += 1 }
          }
          out.toList
        }
        rounds += 1
      }
    }
    assert(out.length == 64, s"corpus must support 64 merges, learned ${out.length}")
    assert(out.map(t => (t._2, t._3, t._5)).toSeq == naive.toSeq,
      "distributed schedule must equal the naive greedy replay, rule for rule")
    // bounded-lineage sanity: 64 rounds with re-pins every 16 must not
    // exhibit the quadratic analysis blowup (53s-class) the unpinned
    // chain shows; generous ceiling for slow CI
    assert(secs < 120, s"64-merge train took ${secs}s — lineage growth suspected")
  }
}
