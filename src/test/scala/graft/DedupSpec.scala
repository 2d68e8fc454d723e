package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {

  /** Connected components with the driver finish off, so every graph
    * runs the distributed star rounds to their fixpoint.
    */
  private def roundsOnly[A](body: => A): A = {
    val conf = GraftTestSession.spark.conf
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val previous = conf.get(key)
    conf.set(key, "-1")
    try body
    finally conf.set(key, previous)
  }

  test("embeddingLshDedup finds identical vectors, verifies exactly, misses nothing it emits") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = (0 until 8).map(i => math.cos(i * 0.7).toFloat)
    val ortho = Seq(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
    val space = Seq(
      (1L, base), (2L, base),            // exact duplicates: must pair
      (3L, base.map(x => (x * 1.01f))),  // near-duplicate: same signs
      (4L, ortho)                        // far away
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingLshDedup(
      space, "vec_id", "embedding", dims = 8, planes = 16, bands = 4, cosFloor = 0.9)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("cos_sim"))
      .toMap
    assert(out.contains((1L, 2L)), "identical vectors share every band")
    assert(out((1L, 2L)) > 0.999999)
    assert(out.contains((1L, 3L)) && out.contains((2L, 3L)),
      "same-sign scaling shares the full sketch")
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "the orthogonal vector fails the cosine floor even if banded together")
    assert(out.values.forall(_ >= 0.9), "precision 1.0: every pair is verified")
  }
  test("lshAdaptiveParams widens the band hash with the corpus; cap at 16 bits") {
    assert(Dedup.lshAdaptiveParams(20L) == ((60, 15)))          // w=4
    assert(Dedup.lshAdaptiveParams(2000L) == ((63, 9)))         // w=7
    assert(Dedup.lshAdaptiveParams(200000L) == ((56, 4)))       // w=14
    assert(Dedup.lshAdaptiveParams(Long.MaxValue / 2) == ((48, 3))) // w=16 cap
    // monotone: a bigger corpus never gets a narrower band hash
    val widths = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
      .map(n => 63 / Dedup.lshAdaptiveParams(n)._2)
    assert(widths == widths.sorted)
  }

  test("embeddingLshDedup budget guard prices the bucket join before it runs") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    val base = (0 until 8).map(i => math.cos(i * 0.7).toFloat)
    val space = Seq((1L, base), (2L, base), (3L, base))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingLshDedup(
        space, "vec_id", "embedding", dims = 8, planes = 16, bands = 4,
        cosFloor = 0.0, maxCandidateInstances = Some(1L)).collect()
    }
    assert(e.getMessage.contains("maxCandidateInstances"))
  }

  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls on the green hill near the old stone bridge"
  private lazy val docs = Seq(
    (1L, base, "en"),
    (2L, base, "en"),                                   // exact dup of 1
    (3L, base.replace("lazy", "sleepy"), "en"),         // near-dup of 1
    (4L, "completely different words entirely unrelated content about spark engines and parquet files", "en"),
    (5L, base, "fr")                                    // same text, other block
  ).toDF("doc_id", "text", "lang")

  test("exact dedup groups identical content and keeps the smallest id") {
    val groups = Dedup.exact(docs, "doc_id", "text").collect()
    val dupGroup = groups.filter(_.getAs[Long]("n_copies") >= 2)
    assert(dupGroup.length == 1 && dupGroup.head.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH surfaces exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("identical docs have simhash hamming distance 0") {
    val out = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("hamming"))
      .toMap
    assert(out((1L, 2L)) == 0L)
  }

  test("jaccard word pairs respects blocks and computes exact values") {
    val out = Dedup.jaccardWordPairs(docs, "doc_id", "text", "lang", 0.5)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(out((1L, 2L)) == 1.0)      // identical
    assert(out.contains((1L, 3L)))    // near-dup passes 0.5
    assert(!out.keys.exists(p => p._1 == 5L || p._2 == 5L)) // fr block alone
  }

  test("connectedComponents labels every node with its component minimum") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val out = Dedup.connectedComponents(edges, nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("embedding near-dups finds only the high-cosine pair within a block") {
    val space = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.999f, 0.01f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDups(space, "vec_id", "embedding", "label", 0.99)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  private def fan(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      val ang = i * 0.15
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")

  test("chunk-split embedding near-dups equals the single-chunk pair set") {
    // 40 vectors in one block; chunkRows = 4 forces 10 chunks and the
    // chunk-pair task fan-out — output must be EXACTLY the naive result.
    val space = fan(40)
    def run(chunk: Int) =
      Dedup.embeddingNearDups(space, "vec_id", "embedding", "label", 0.9, chunkRows = chunk)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val chunked = run(4)
    assert(chunked == run(1000000))
    assert(chunked.nonEmpty && chunked.forall { case (a, b, _) => a < b })
  }

  test("embeddingNearDups maxBlockRows guard fails fast on an oversize block") {
    val space = fan(40)
    // under the cap: identical result to the unguarded call
    val guarded = Dedup.embeddingNearDups(
      space, "vec_id", "embedding", "label", 0.9, maxBlockRows = Some(40L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Dedup.embeddingNearDups(space, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == plain)
    // over the cap: fail fast, naming the production alternatives
    val ex = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDups(
        space, "vec_id", "embedding", "label", 0.9, maxBlockRows = Some(39L))
        .collect()
    }
    assert(ex.getMessage.contains("verification scaffold"))
    assert(ex.getMessage.contains("embeddingNearDupsCellBlocked"))
  }

  test("cell-blocked near-dups: full probe equals exact, partial probe is a subset") {
    val space = fan(30)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keys(Dedup.embeddingNearDups(space, "vec_id", "embedding", "label", 0.95))
    val full = keys(Dedup.embeddingNearDupsCellBlocked(
      space, "vec_id", "embedding", "label", 0.95, nCells = 4, nProbe = 4))
    val partial = keys(Dedup.embeddingNearDupsCellBlocked(
      space, "vec_id", "embedding", "label", 0.95, nCells = 4, nProbe = 1))
    assert(full == exact)           // probing every cell loses nothing
    assert(partial.subsetOf(exact)) // blocking only ever drops pairs
    assert(partial.nonEmpty)        // same-cell neighbors survive
  }

  test("semDeDup: rank-1 survives; kept == no earlier-ranked eps-neighbor in cluster") {
    // 40 spread vectors plus 5 exact-direction duplicates of the first
    // five (scaled — cosine 1.0): each duplicate pair must lose exactly
    // its later-ranked member. The kept flag is then re-derived brute
    // force from the operator's own clusters/ranks + exact cosines.
    val dups = (0 until 5).map { i =>
      val ang = i * 0.15
      (100L + i, Array((1.5 * math.cos(ang)).toFloat, (1.5 * math.sin(ang)).toFloat))
    }
    val space = ((0 until 40).map { i =>
      val ang = i * 0.15
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
    } ++ dups).toDF("vec_id", "embedding")
    val out = Dedup.semDeDup(space, "vec_id", "embedding", k = 3, iterations = 2, eps = 0.95)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[Long]("cluster"), r.getAs[Long]("rnk"), r.getAs[Boolean]("kept"))))
      .toMap
    assert(out.size == 45)
    // ranks are 1..size within each cluster
    out.values.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).toSeq.sorted == (1L to rows.size).toSeq)
    }
    val vecs = space.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    def cos(a: collection.Seq[Float], b: collection.Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    out.foreach { case (id, (cl, rnk, kept)) =>
      val expected = !out.exists { case (oid, (ocl, ornk, _)) =>
        ocl == cl && ornk < rnk && cos(vecs(id), vecs(oid)) > 0.95
      }
      assert(kept == expected, s"vec $id kept=$kept expected=$expected")
      if (rnk == 1L) assert(kept, s"rank-1 of cluster $cl must survive")
    }
    assert(out.count(!_._2._3) >= 5, "each duplicated direction prunes a member")
  }

  test("large-star/small-star converges on chains and with a durable checkpoint") {
    // A path graph is the worst case for label propagation (diameter =
    // n); star alternation must still collapse it to the minimum.
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L), (6L, 7L)).toDF("a", "b")
    val nodes = (1L to 8L).toDF("id")
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 6L, 7L -> 6L, 8L -> 8L)
    // Rounds only: the driver finish would take this small graph
    // before the per-round pins under test run.
    roundsOnly {
      val local = Dedup.connectedComponents(edges, nodes, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == expected)
      val durable = TempDirs.withCheckpointDir(spark.sparkContext, "graft_cc_ckpt") {
        Dedup.connectedComponents(edges, nodes, "id", durable = true)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(durable == expected)
    }
  }

  test("connectedComponents: driver finish and star rounds give identical labels") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, typedLit}
    val rnd = new scala.util.Random(42)
    def shuffledIds(n: Int): IndexedSeq[Long] = rnd.shuffle((1 to n).map(_ * 7L + 3L))
    val chain = { val ids = shuffledIds(120); ids.zip(ids.tail) }
    val star = { val ids = shuffledIds(40); ids.tail.map(ids.head -> _) }
    val sparse = {
      val ids = shuffledIds(300)
      Seq.fill(220)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
    }
    // duplicates, reversed copies and self-loops on top of the sparse graph
    val messy = sparse ++ sparse.take(60) ++ sparse.take(60).map(_.swap) ++
      sparse.take(20).map { case (a, _) => (a, a) }
    val graphs = Seq(
      "chain" -> chain, "star" -> star, "sparse" -> sparse, "messy" -> messy,
      "chains+star" -> (chain ++ star.map { case (a, b) => (a + 5000L, b + 5000L) }),
      "self-loops only" -> Seq((3L, 3L), (10L, 10L)),
      "no edges" -> Seq.empty[(Long, Long)])
    graphs.foreach { case (name, edges) =>
      // isolated nodes beyond every edge endpoint label themselves
      val ids = (edges.flatMap { case (a, b) => Seq(a, b) } ++ (9001L to 9010L)).distinct
      val pairs = edges.toDF("a", "b")
      // not a LocalRelation, so the plan check below sees only the finish's
      val nodes = spark.range(0, 1).select(explode(typedLit(ids)).as("id"))
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val finished = Dedup.connectedComponents(pairs, nodes, "id")
      val rounds = roundsOnly(labels(Dedup.connectedComponents(pairs, nodes, "id")))
      assert(finished.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        s"$name: a small graph takes the driver finish")
      assert(labels(finished) == rounds, s"$name: driver finish != star rounds")
      // reference: component minimum by repeated min-label relaxation
      var ref = ids.map(i => i -> i).toMap
      var changed = true
      while (changed) {
        val next = edges.foldLeft(ref) { case (m, (a, b)) =>
          val l = math.min(m(a), m(b)); m.updated(a, l).updated(b, l)
        }
        changed = next != ref
        ref = next
      }
      assert(rounds == ref, s"$name: labels are not the component minima")
    }
  }

  test("native one-pass simhash equals the declarative HOF sketch") {
    import org.apache.spark.sql.functions.col
    val corpus = sources.Tables.load(spark, GraftTestSession.Sf0001, "documents")
    val mismatches = corpus
      .select(
        Dedup.simhash(col("text")).as("hof"),
        Dedup.simhashNative(col("text")).as("native"))
      .where(col("hof") =!= col("native"))
      .count()
    assert(mismatches == 0L)
  }

  test("canonicalize pipeline: min-id doc survives per near-dup cluster with absorbed size") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (5L, dup), (2L, dup), (9L, dup),
      (3L, "completely different words in this one with no overlap at all here")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    val pairs = Dedup.minhashLshNative(docs, "doc_id", "text").select(col("a"), col("b"))
    val cc = Dedup.connectedComponents(pairs, docs, "doc_id")
    val sizes = cc.groupBy(col("canonical_id")).agg(count(lit(1)).as("n_merged"))
    val out = docs.join(sizes, col("doc_id") === col("canonical_id"))
      .select(col("doc_id"), col("n_merged"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 3L, 3L -> 1L))
  }

  test("native minhash band kernel is bit-identical to the declarative portable pipeline") {
    val corpus = sources.Tables.load(spark, GraftTestSession.Sf0001, "documents")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("n_bands")
    val declarative = Dedup
      .minhashLsh(corpus, "doc_id", "text")
      .collect().map(key).toMap
    val native = Dedup
      .minhashLshNative(corpus, "doc_id", "text")
      .collect().map(key).toMap
    assert(native == declarative)
    assert(native.nonEmpty)
  }

  test("native minhash band kernel: two-digit seed groups and empty-shingle rows") {
    import org.apache.spark.sql.functions.col
    // 11 groups (bands=11, rowsPerBand=2 -> 22 lanes) exercises g >= 10
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "z y x w v u"))
      .toDF("doc_id", "text")
    val declarative = Dedup
      .minhashLsh(docs, "doc_id", "text", bands = 11, rowsPerBand = 2)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("n_bands"))
      .toMap
    val native = Dedup
      .minhashLshNative(docs, "doc_id", "text", bands = 11, rowsPerBand = 2)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("n_bands"))
      .toMap
    assert(native == declarative)
    assert(native((1L, 2L)) == 11L)
    // a doc shorter than the shingle width drops out of both pipelines
    val tiny = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    assert(Dedup.minhashLshNative(tiny, "doc_id", "text").where(col("a") === 1L).count() == 0)
  }

  test("bandedSketch rejects an overflowing lane count at the call, before any job runs") {
    // bands * rowsPerBand wraps as an Int: 2 x Int.MaxValue is -2 and
    // 65536 x 65536 is 0, both even and <= 200
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val group = "bandedSketch-overflow"
    sc.setJobGroup(group, group)
    try {
      Seq((2, Int.MaxValue), (65536, 65536)).foreach { case (bands, rowsPerBand) =>
        val e = intercept[IllegalArgumentException](
          Dedup.bandedSketch(docs, "doc_id", "text", bands = bands, rowsPerBand = rowsPerBand))
        assert(e.getMessage.contains("lane count capped at 200"), e.getMessage)
      }
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("spanDedup keeps a repeated span only at its first corpus occurrence") {
    import org.apache.spark.sql.functions.col
    // span width 2: doc 1 = [a b][c d], doc 2 = [a b][x y], doc 3 = [a b][c d]
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b x y"),
      (3L, "a b c d")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanWords = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_kept"), r.getAs[String]("text_dedup"))))
      .toMap
    assert(out(1L) == ((2L, 2L, "a b c d"))) // first occurrence of both spans
    assert(out(2L) == ((2L, 1L, "x y")))     // "a b" already seen in doc 1
    assert(out(3L) == ((2L, 0L, "")))        // exact dup of doc 1: nothing survives
  }

  test("spanDedup keeps the trailing partial span and intra-doc repeats dedup too") {
    // width 3 over 7 tokens: [a b c][a b c][z] — 2nd span dups the 1st
    val docs = Seq((1L, "a b c a b c z")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", spanWords = 3).collect()(0)
    assert(out.getAs[Long]("n_spans") == 3L)
    assert(out.getAs[Long]("n_kept") == 2L)
    assert(out.getAs[String]("text_dedup") == "a b c z")
  }

  test("simhash band derivation guarantees candidate recall up to maxHamming") {
    // maxHamming = 7 must derive 8 bands (pigeonhole) over the 60 bits
    val out = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 7)
    // (1,2) identical -> present regardless of banding
    val pairs = out.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("incremental CC: star edges from stored labels + delta pairs = full recompute") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nodes = (1L to 7L).toDF("doc_id")
    val oldPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b") // comps {1,2,3} {5,6}
    val deltaPairs = Seq((3L, 7L), (7L, 5L)).toDF("a", "b")         // merges both via new node 7
    val full = Dedup.connectedComponents(oldPairs.unionByName(deltaPairs), nodes, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oldLabels = Dedup.connectedComponents(
      oldPairs, nodes.where(col("doc_id") <= 6), "doc_id")
    val star = oldLabels.where(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as("a"), col("canonical_id").as("b"))
    val incr = Dedup.connectedComponents(star.unionByName(deltaPairs), nodes, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == full)
    assert(full(7L) == 1L && full(5L) == 1L, "delta node merged both old components")
    assert(full(4L) == 4L, "isolated node stays its own canonical")
  }

  test("containmentPairs: small doc inside big doc found (Jaccard would miss it); direction correct") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon"                       // 5 distinct tokens
    val big = small + " zeta eta theta iota kappa lambda mu nu xi"     // superset, 14 tokens
    val docs = Seq(
      (1L, small, "en"),
      (2L, big, "en"),
      (3L, "unrelated words entirely different content here", "en"),
      (4L, small, "fr") // other block: never paired
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", "lang", 0.8)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        ((r.getAs[Long]("inter"), r.getAs[Double]("containment"))))
      .toMap
    // 1 ⊂ 2 fully: containment 5/5 = 1.0; the reverse is 5/14 < 0.8
    assert(out((1L, 2L)) == ((5L, 1.0)))
    assert(!out.contains((2L, 1L)))
    // Jaccard(1,2) = 5/14 — the symmetric size-ratio filter would
    // never emit this pair at t=0.8; containment is the point
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L || a == 4L || b == 4L })
  }

  test("corpusOverlap: exact Jaccard from hand-counted shingles; disjoint pair at 0; identical at 1") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    val docs = Seq(
      // srcA and srcB share exactly one distinct doc text (4 shingles
      // each doc: 6 tokens -> 4 3-shingles)
      (1L, "a b c d e f", "srcA"),
      (2L, "a b c d e f", "srcB"), // identical text, other source
      (3L, "p q r s t u", "srcB"),
      (4L, "x y z w v k", "srcC")  // disjoint from everything
    ).toDF("doc_id", "text", "source")
    val out = Dedup.corpusOverlap(docs, "source", "text")
      .collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("inter"),
          r.getAs[Double]("jaccard"), r.getAs[Long]("lane_matches"))))
      .toMap
    // A: 4 shingles; B: 8; C: 4. A∩B = 4 -> J = 4/8 = 0.5
    assert(out(("srcA", "srcB")) == ((4L, 8L, 4L, 0.5, out(("srcA", "srcB"))._5)))
    assert(out(("srcA", "srcC"))._3 == 0L && out(("srcA", "srcC"))._4 == 0.0)
    assert(out(("srcB", "srcC"))._3 == 0L)
    // disjoint corpora agree on a lane only by md5 collision: impossible here
    assert(out(("srcA", "srcC"))._5 == 0L)
    // A ⊂ B with every A-shingle shared: each of B's lane minima is
    // either an A minimum (match) or from B's extra doc
    assert(out(("srcA", "srcB"))._5 >= 1L)
  }

  test("corpusOverlap rejects more than 200 lanes at the call, before any plan is built") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    val docs = Seq((1L, "a b c d", "srcA")).toDF("doc_id", "text", "source")
    val err = intercept[IllegalArgumentException](
      Dedup.corpusOverlap(docs, "source", "text", lanes = 202))
    assert(err.getMessage.contains("lanes must be <= 200") && err.getMessage.contains("202"),
      err.getMessage)
    // no lanes at all is named too, not an empty-Seq failure mid-build
    Seq(0, -2).foreach { lanes =>
      val e = intercept[IllegalArgumentException](
        Dedup.corpusOverlap(docs, "source", "text", lanes = lanes))
      assert(e.getMessage.contains("lanes must be even and positive") &&
        e.getMessage.endsWith(s"got $lanes"), e.getMessage)
    }
    // the cap itself is accepted
    assert(Dedup.corpusOverlap(docs, "source", "text", lanes = 200).columns.contains("lane_matches"))
  }

  test("editVerifiedPairs: exact dup at distance 0, small edit verified, unrelated text absent") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    val long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "phi chi psi omega one two three four five six").trim
    val edited = long.replace("omicron", "omicorn") // 2-char transposition region
    val unrelated = "zero nine eight seven night day sun moon star cloud " +
      "tree rock fish bird wolf bear lake hill sand snow"
    val docs = Seq(
      (1L, long), (2L, long),  // exact duplicate
      (3L, edited),            // near-dup within the 20% budget
      (4L, unrelated)
    ).toDF("doc_id", "text")
    val out = Dedup.editVerifiedPairs(docs, "doc_id", "text", maxEditFrac = 0.2)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("edit_dist"))
      .toMap
    assert(out((1L, 2L)) == 0L, "identical docs share every band and verify at 0")
    assert(out.get((1L, 3L)).exists(d => d > 0 && d <= 4), s"small edit verified: $out")
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "unrelated text never survives the verify")
  }

  test("ngramSpanDedup: any-alignment matches merge into maximal spans; short docs skip") {
    // doc 1 and doc 2 share a 12-token run at DIFFERENT offsets (doc 2
    // prepends two tokens) — block dedup at alignment 0 would miss it;
    // sliding k=10 grams catch positions {0,1,2} in doc 1 and {2,3,4}
    // in doc 2, each merging to one maximal span of 12 tokens.
    val shared = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " x1 x2"),
      (2L, "p1 p2 " + shared),
      (3L, "q1 q2 q3 q4 q5"), // shorter than k: no grams at all
      (4L, (1 to 15).map(i => s"u$i").mkString(" ")) // unique: no dup spans
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.ngramSpanDedup(docs, "doc_id", "text", k = 10)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("span_start"), r.getAs[Long]("span_end"), r.getAs[Long]("n_grams"))))
      .toMap
    assert(out == Map(1L -> ((0L, 11L, 3L)), 2L -> ((2L, 13L, 3L))))
  }

  test("ngramSpanDedup: a within-doc self-repeat counts as duplication; gap splits spans") {
    // one doc where tokens 0..9 repeat at 20..29 with unique filler
    // between: the two occurrences are two separate maximal spans
    val rep = (1 to 10).map(i => s"r$i").mkString(" ")
    val filler = (1 to 10).map(i => s"f$i").mkString(" ")
    val docs = Seq((7L, s"$rep $filler $rep")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.ngramSpanDedup(docs, "doc_id", "text", k = 10)
      .collect()
      .map(r => ((r.getAs[Long]("span_start"), r.getAs[Long]("span_end"), r.getAs[Long]("n_grams"))))
      .toSet
    assert(out == Set((0L, 9L, 1L), (20L, 29L, 1L)))
  }

  test("maxCandidateInstances circuit breaker: trips on a duplication-heavy block, transparent when under cap") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    // 30 identical docs in one block: every bucket holds all 30 docs,
    // so the priced budgets are 3 prefix tokens x 30x30 = 2700 join
    // instances (containment), 2 x C(30,2) = 870 (jaccard), 4 bands x
    // C(30,2) = 1740 (edit) — the boilerplate corpus that makes verify
    // OUTPUT the cost even though the blocked candidate generation is
    // sub-quadratic. All exceed cap=100 and must fail fast.
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (1L to 30L).map(i => (i, txt, "en")).toDF("doc_id", "text", "lang")

    val eC = intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", "lang", 0.8,
        maxCandidateInstances = Some(100L)).count()
    }
    assert(eC.getMessage.contains("maxCandidateInstances=100"), eC.getMessage)
    val eJ = intercept[IllegalArgumentException] {
      Dedup.jaccardWordPairs(docs, "doc_id", "text", "lang", 0.9,
        maxCandidateInstances = Some(100L)).count()
    }
    assert(eJ.getMessage.contains("jaccardWordPairs"), eJ.getMessage)
    val eE = intercept[IllegalArgumentException] {
      Dedup.editVerifiedPairs(docs, "doc_id", "text", 0.2,
        maxCandidateInstances = Some(100L)).count()
    }
    assert(eE.getMessage.contains("editVerifiedPairs"), eE.getMessage)

    // under the cap the guard is result-transparent
    val unguarded = Dedup.containmentPairs(docs, "doc_id", "text", "lang", 0.8)
      .collect().map(_.toString).toSet
    val guarded = Dedup.containmentPairs(docs, "doc_id", "text", "lang", 0.8,
      maxCandidateInstances = Some(10000L)).collect().map(_.toString).toSet
    assert(guarded == unguarded && guarded.size == 870,
      s"30 identical docs -> 870 ordered containment pairs, got ${guarded.size}")
  }

  test("wide/packed pair exchange is result-transparent to the engine-planned distinct") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    // The budget-sized wide exchange (and its packed a<<32|b single-long
    // dedupe) only engages past graft.dedup.widePairExchangeRows
    // instances per session-width task — never at spec scale. Force it
    // with threshold=1 on a fixture with real near-dup structure and
    // assert byte-identical output against the default engine-planned
    // distinct, for BOTH queries that route through distinctPairs.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (1L to 40L).map { i =>
      val extra = if (i % 4 == 0) s" extra$i uniq${i % 7}" else ""
      (i, base + extra, if (i % 2 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")
    def both(): (Set[String], Set[String]) = (
      Dedup.containmentPairs(docs, "doc_id", "text", "lang", 0.8,
        maxCandidateInstances = Some(1000000L))
        .collect().map(_.toString).toSet,
      Dedup.jaccardWordPairs(docs, "doc_id", "text", "lang", 0.8,
        maxCandidateInstances = Some(1000000L))
        .collect().map(_.toString).toSet)
    val (cDefault, jDefault) = both()
    spark.conf.set("graft.dedup.widePairExchangeRows", "1")
    try {
      val (cWide, jWide) = both()
      assert(cWide == cDefault && cDefault.nonEmpty,
        s"packed containment diverged: ${cWide.size} vs ${cDefault.size}")
      assert(jWide == jDefault && jDefault.nonEmpty,
        s"packed jaccard diverged: ${jWide.size} vs ${jDefault.size}")
    } finally spark.conf.unset("graft.dedup.widePairExchangeRows")
  }

  test("graft_sorted_inter: merge-walk size == size(array_intersect) on random sorted sets") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(6)
    def randSet(max: Int): Seq[Int] =
      (0 until rnd.nextInt(30)).map(_ => rnd.nextInt(max)).distinct.sorted
    // include empties and full overlaps among the random cases
    val cases = Seq((Seq.empty[Int], Seq.empty[Int]), (Seq(1, 2, 3), Seq(1, 2, 3))) ++
      (0 until 200).map(_ => (randSet(40), randSet(40)))
    // toDF types Seq[Int] as array<int> with containsNull=false — the
    // exact shape freqSortedTokens produces and the expression requires
    val df = cases.toDF("a", "b")
    val rows = df.select(
        graft.functions.TextFunctions.sortedIntersectSize(col("a"), col("b")).as("m"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // long-element variant (the beyond-Int.MaxValue vocab fallback)
    val asLong = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast("long"))
    val dfl = cases.toDF("a", "b").select(asLong(col("a")).as("a"), asLong(col("b")).as("b"))
    dfl.select(
        graft.functions.TextFunctions.sortedIntersectSize(col("a"), col("b")).as("m"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // interpreted (non-codegen) path agrees: eval the expression directly
    val e = graft.plans.SortedIntersectSize(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(1, 3, 5, 9),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, false)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Seq(3, 4, 9),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, false)))
    assert(e.eval(null) == 2)
  }
}
