package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  private lazy val tiny = Seq(
    (0L, Array(1.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f), 0),
    (2L, Array(0.0f, 1.0f), 1),
    (3L, Array(0.1f, 0.9f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("upsert is last-writer-wins per key: updates replace, inserts append") {
    val delta = Seq(
      (1L, Array(0.5f, 0.5f), 9),   // update of key 1
      (10L, Array(0.2f, 0.8f), 9)   // insert
    ).toDF("vec_id", "embedding", "label")
    val merged = Similarity.upsert(tiny, delta, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(merged.size == 5)                       // 4 originals, 1 replaced, 1 new
    assert(merged(1L) == 9 && merged(10L) == 9)    // delta rows won
    assert(merged(0L) == 0 && merged(2L) == 1)     // untouched rows intact
  }

  test("native cosine is null-strict on malformed inputs, matching the HOF path") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)), // length mismatch
      (2L, Array(1.0f, 2.0f), Array(1.0f, 2.0f))        // well-formed
    ).toDF("id", "a", "b")
    val out = df.select(
      col("id"),
      VectorFunctions.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosineHof(col("a"), col("b")).as("hof"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == ((None, None)))     // both null on mismatch
    assert(out(2L)._1 == out(2L)._2 && out(2L)._1.isDefined)
  }

  test("tuneNProbe finds the smallest probe count meeting the recall target") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 5)
    val tuned = Similarity.tuneNProbe(
      emb, q, "vec_id", "embedding", "label", k = 3, targetRecall = 1.0, maxProbe = 16)
    assert(tuned.exists(p => p >= 1 && p <= 16))
    // the tuned config actually meets the gate
    val worst = Similarity.recall(
      Similarity.knnIvf(emb, q, "vec_id", "embedding", "label", 3, tuned.get),
      Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 3))
      .agg(min(col("recall"))).collect()(0).getDouble(0)
    assert(worst >= 1.0)
  }

  test("tuneNProbe evaluates maxProbe itself and reports unmet targets as None") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 5)
    // maxProbe=10 covers every label cell => recall 1.0 is achievable, and
    // 10 is NOT a power of two — the pre-fix doubling search would have
    // skipped it and returned it unevaluated.
    val atMax = Similarity.tuneNProbe(
      emb, q, "vec_id", "embedding", "label", k = 3, targetRecall = 1.0, maxProbe = 10)
    assert(atMax.isDefined && atMax.get <= 10)
    // Impossible target: must be None, never a silently-unmet nProbe.
    val unmet = Similarity.tuneNProbe(
      emb, q, "vec_id", "embedding", "label", k = 3, targetRecall = 1.1, maxProbe = 2)
    assert(unmet.isEmpty)
    // Empty query set: vacuously satisfied at the first candidate.
    val noQueries = Similarity.tuneNProbe(
      emb, emb.where(col("vec_id") < 0), "vec_id", "embedding", "label",
      k = 3, targetRecall = 1.0, maxProbe = 4)
    assert(noQueries.contains(1))
  }

  test("graft_topk coerces int ids and non-double scores at analysis time") {
    // int id + float score: round 1 threw ClassCastException at runtime
    val scored = Seq((1, 0.5f, 7), (1, 0.9f, 8), (1, 0.7f, 9))
      .toDF("g", "s", "id")
    val top = Similarity.topKPerGroup(scored, "g", "s", "id", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(top.toSeq.sortBy(_._2) == Seq((8L, 1L), (9L, 2L)))
  }

  test("native codegen cosine == HOF cosine on real embeddings") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings").limit(50)
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .where(col("a") < col("b")).limit(500)
    val diff = pairs
      .select(abs(
        VectorFunctions.cosine(col("va"), col("vb")) -
          VectorFunctions.cosineHof(col("va"), col("vb"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(diff == 0.0)
  }

  test("knnBruteForce finds the geometric nearest neighbor") {
    val out = Similarity
      .knnBruteForce(tiny, tiny.where(col("vec_id") === 0), "vec_id", "embedding", 1)
      .collect().head
    assert(out.getAs[Long]("neighbor_id") == 1L)
  }

  test("nearestCentroid assigns to own cluster for separated clusters") {
    val cents = Similarity.centroids(tiny, "label", "embedding")
    val out = Similarity.nearestCentroid(tiny, "vec_id", "embedding", cents)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("assigned")).toMap
    assert(out == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("knnIvf with all cells probed matches brute force") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 3)
    val brute = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivf = Similarity.knnIvf(emb, q, "vec_id", "embedding", "label", k = 3, nProbe = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == brute)
  }

  test("kmeans-IVF with all cells probed matches brute force") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 3)
    val brute = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivf = Similarity
      .knnIvfKmeans(emb, q, "vec_id", "embedding", k = 3, nProbe = 8, nCells = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == brute)
  }

  test("multiGet returns exactly the requested keys") {
    val keys = Similarity.multiGet(tiny, "vec_id", Seq(1L, 3L))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(keys == Set(1L, 3L))
  }

  test("cluster profile partitions the embedded corpus exactly once") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val docs = Tables.load(spark, GraftTestSession.Sf0001, "documents")
    val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 8, iterations = 3)
    val profile = Similarity
      .nearestCentroid(emb, "vec_id", "embedding", cb)
      .join(docs, col("vec_id") === col("doc_id"))
      .groupBy(col("assigned"))
      .agg(count(lit(1)).as("n_docs"))
      .collect()
    val embeddedDocs = emb.join(docs, col("vec_id") === col("doc_id")).count()
    assert(profile.map(_.getAs[Long]("n_docs")).sum == embeddedDocs)
    assert(profile.length <= 8 && profile.length >= 2)
  }

  test("filtered kNN never returns neighbors outside the predicate") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 5)
    val got = Similarity
      .knnBruteForce(emb.where(col("label") === 2), q, "vec_id", "embedding", 3)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
    assert(got.where(col("label") =!= 2).count() == 0L)
    assert(got.count() == 15L)
  }

  test("knnBruteForceL2 matches a window-sorted exact euclidean reference") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 5)
    val got = Similarity.knnBruteForceL2(emb, q, "vec_id", "embedding", 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    // reference: HOF distance + full window sort (the shape the bounded
    // heap replaces), same asc-id tiebreak
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d").asc, col("neighbor_id").asc)
    val want = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_vec"))
      .join(broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("d", VectorFunctions.l2SqHof(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(got == want)
    assert(got.size == 15)
  }

  test("knnBruteForceIp matches a window-sorted exact inner-product reference") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 5)
    val got = Similarity.knnBruteForceIp(emb, q, "vec_id", "embedding", 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    // reference: HOF dot + full window sort, desc score, asc-id tiebreak
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("ip").desc, col("neighbor_id").asc)
    val want = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_vec"))
      .join(broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("ip", VectorFunctions.dot(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(got == want)
    assert(got.size == 15)
  }

  test("centroidDrift: hand-computed shift; single-slice groups omitted") {
    val space = Seq(
      (0L, Seq(0f, 0f), 1), (2L, Seq(2f, 0f), 1),   // old (even): mean (1, 0)
      (1L, Seq(4f, 0f), 1), (3L, Seq(4f, 2f), 1),   // new (odd):  mean (4, 1)
      (4L, Seq(9f, 9f), 2)                          // label 2: old only
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidDrift(
      space, "vec_id", "embedding", "label", col("vec_id") % 2 === 0)
      .collect()
      .map(r => r.getAs[Int]("label") ->
        ((r.getAs[Double]("centroid_shift"), r.getAs[Long]("n_old"), r.getAs[Long]("n_new"))))
      .toMap
    assert(out.keySet == Set(1))
    val (shift, nOld, nNew) = out(1)
    assert(math.abs(shift - math.sqrt(10.0)) < 1e-9, s"shift=$shift")
    assert(nOld == 2L && nNew == 2L)
  }

  test("matryoshka truncation: 64-dim 'truncation' has recall 1.0, 16-dim is in [0,1]") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val q = emb.where(col("vec_id") < 10)
    val exact = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5)
    def truncated(d: Int) = {
      val t = emb.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
      Similarity.knnBruteForce(t, t.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }
    val full = Similarity.recall(truncated(64), exact)
      .collect().map(_.getAs[Double]("recall"))
    assert(full.forall(_ == 1.0), "64-dim slice IS the full vector")
    val r16 = Similarity.recall(truncated(16), exact)
      .collect().map(_.getAs[Double]("recall"))
    assert(r16.nonEmpty && r16.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("native graft_dot agrees with the HOF inner product") {
    val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings").limit(50)
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .where(col("a") < col("b")).limit(200)
    val diffs = pairs
      .withColumn("nat", VectorFunctions.dotNative(col("va"), col("vb")))
      .withColumn("hof", VectorFunctions.dot(col("va"), col("vb")))
      .where(abs(col("nat") - col("hof")) > 1e-12)
      .count()
    assert(diffs == 0L)
  }

  test("tripletMine: positives share the anchor label, negatives rank by cosine") {
    // Anchor 0 at angle 0, label 0. Same-label points at widening
    // angles (ids 1, 2), other-label points closer in angle than the
    // positives (ids 3, 4) — hard negatives by construction.
    def at(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val space = Seq(
      (0L, at(0), 0), (1L, at(30), 0), (2L, at(60), 0),
      (3L, at(10), 1), (4L, at(20), 1), (5L, at(180), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity
      .tripletMine(space, "vec_id", "embedding", "label",
        space.where(col("vec_id") === 0), k = 2)
      .collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id"))
      .toMap
    assert(out == Map(
      ("pos", 1L) -> 1L, ("pos", 2L) -> 2L,   // 30 deg before 60 deg
      ("neg", 1L) -> 3L, ("neg", 2L) -> 4L))  // 10 deg before 20 deg
  }

  test("maxSim: per-token max over doc vectors, summed — axis-aligned hand case") {
    // Doc A holds unit x and unit y; doc B holds only unit x.
    val corpus = Seq(
      ("A", Array(1.0f, 0.0f)), ("A", Array(0.0f, 1.0f)),
      ("B", Array(1.0f, 0.0f))
    ).toDF("doc", "embedding")
    // Query = two tokens: unit x and unit y.
    val qtoks = Seq(
      (7L, 1L, Array(1.0f, 0.0f)),
      (7L, 2L, Array(0.0f, 1.0f))
    ).toDF("qid", "qtok", "embedding")
    val out = Similarity.maxSim(corpus, "doc", qtoks, "qid", "embedding")
      .collect()
      .map(r => r.getAs[String]("doc_id") ->
        ((r.getAs[Double]("maxsim"), r.getAs[Long]("n_tokens"))))
      .toMap
    // A matches both tokens exactly: 1 + 1; B matches only token x: 1 + 0
    assert(out("A") == ((2.0, 2L)))
    assert(out("B") == ((1.0, 2L)))
  }

  test("labelConsistency flags the mislabeled point with score 0") {
    // Two tight clusters; point 12 sits in cluster A but carries
    // cluster B's label — its 2-NN are both label 1, so consistency 0.
    val space = Seq(
      (10L, Array(1.0f, 0.0f), 1),
      (11L, Array(0.9f, 0.1f), 1),
      (12L, Array(0.95f, 0.05f), 2), // label noise
      (20L, Array(0.0f, 1.0f), 2),
      (21L, Array(0.1f, 0.9f), 2),
      (22L, Array(0.05f, 0.95f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelConsistency(space, "vec_id", "embedding", "label", k = 2)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("n_match"), r.getAs[Double]("consistency"))))
      .toMap
    assert(out(12L) == ((0L, 0.0)))
    // clean cluster-A points each see the noisy neighbor once
    assert(out(10L) == ((1L, 0.5)) && out(11L) == ((1L, 0.5)))
    // cluster B is pure
    assert(out(20L) == ((2L, 1.0)) && out(21L) == ((2L, 1.0)) && out(22L) == ((2L, 1.0)))
  }

  test("oodScores: exact integer distances, top-pct rank cutoff, offset-safe negatives") {
    // 10 near-identical vectors at the origin-ish point plus 2 far
    // outliers; pctOod=10 flags exactly floor(12*10/100)=1 worst — the
    // farthest (or tie broken by larger vec_id flagged last).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = (1L to 10L).map(i => Row(i, Array(0.01f * i, -0.01f * i))) ++
      Seq(Row(90L, Array(0.5f, 0.5f)), Row(91L, Array(-0.55f, 0.55f)))
    val space = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = graft.operators.Similarity.oodScores(space, "vec_id", "embedding", pctOod = 10)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("d2"), r.getAs[Boolean]("is_ood")))).toMap
    assert(out.size == 12)
    // exactly one flagged: cutoff = 12 - 12*10/100 = 12 - 1 = 11
    assert(out.count(_._2._2) == 1)
    // the flagged one is the max-(d2, vec_id) row
    val flagged = out.filter(_._2._2).keySet.head
    val maxD2 = out.values.map(_._1).max
    assert(out(flagged)._1 == maxD2)
    // all distances strictly positive (mean is between the clusters)
    assert(out.values.forall(_._1 > 0L))
  }

  test("oodScores == the posexplode + broadcast-join form it replaced, ragged, on 1 and 7 partitions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    def f(x: Double): java.lang.Float = java.lang.Float.valueOf(x.toFloat)
    val rows = (1L to 60L).map { i =>
      val v = Seq.fill(1 + rnd.nextInt(6))(f(rnd.nextGaussian() * 2 - 0.5))
      Row(i, if (i % 13 == 0) null else if (i % 7 == 0) v.updated(0, null) else v)
    } ++ Seq(
      Row(100L, Seq.empty[java.lang.Float]),
      Row(101L, Seq[java.lang.Float](null, null)),
      // position 7 has no non-null element: a null mean
      Row(102L, Seq(f(1), f(2), f(3), f(4), f(5), f(6), null)))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val space = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    // the replaced form: a row per element, the per-dim means broadcast
    // back, a shuffle per vector
    val comp = space.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vm", floor(col("v").cast("double") * 1000000.0).cast("long") + 1000000L)
    val perDim = comp.groupBy(col("pos")).agg(sum(col("vm")).as("s"), count(lit(1)).as("n"))
      .select(col("pos"), expr("s div n").as("mm"))
    val d2 = comp.join(broadcast(perDim), "pos")
      .withColumn("dd", (col("vm") - col("mm")) * (col("vm") - col("mm")))
      .groupBy(col("vec_id")).agg(sum(col("dd")).as("d2"))
    val (numbered, total) =
      graft.operators.FeatureStore.globalRowNumbersWithTotal(d2, Seq("d2", "vec_id"))
    val want = numbered
      .select(col("vec_id"), col("d2"), (col("row_number") > total - total * 10 / 100).as("is_ood"))
      .collect().toSet
    assert(want.exists(_.isNullAt(1)) && want.count(_.getBoolean(2)) == 5)
    for (n <- Seq(1, 7)) {
      val got = graft.operators.Similarity.oodScores(space.repartition(n), "vec_id", "embedding", pctOod = 10)
      assert(got.collect().toSet == want, s"$n partitions")
    }
  }

  test("rangeSearch: exactly the vectors inside the radius, boundary-exact at 6dp") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),   // sim 1.0 to the query direction
      (2L, Array(1.0f, 1.0f)),   // cos = 0.707107
      (3L, Array(0.0f, 1.0f)),   // cos = 0.0
      (4L, Array(-1.0f, 0.0f)),  // cos = -1.0
      (9L, Array(2.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.rangeSearch(
      corpus, corpus.where(col("vec_id") === 9L), "vec_id", "embedding", minSim = 0.7)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("sim")).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == 1.0 && out(2L) == 0.707107)
    // data-dependent cardinality: widening the radius admits more
    val wide = graft.operators.Similarity.rangeSearch(
      corpus, corpus.where(col("vec_id") === 9L), "vec_id", "embedding", minSim = -1.0)
      .count()
    assert(wide == 4)
  }

  test("knnGrouped: per-label cap holds, survivors rank by similarity") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // query 100 points at +x; label 1 has THREE near-identical close
    // vectors (only two may surface); label 2 is further but must
    // enter via the cap; label 3 is orthogonal noise
    val corpus = Seq(
      (1L, Array(1.0f, 0.00f), 1), (2L, Array(1.0f, 0.01f), 1),
      (3L, Array(1.0f, 0.02f), 1),
      (4L, Array(0.8f, 0.30f), 2), (5L, Array(0.7f, 0.40f), 2),
      (6L, Array(0.0f, 1.00f), 3),
      (100L, Array(1.0f, 0.0f), 9)).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.knnGrouped(
      corpus, corpus.where(col("vec_id") === 100L),
      "vec_id", "embedding", "label", k = 5, perGroup = 2)
      .collect()
      .map(r => (r.getAs[Long]("rank"),
        (r.getAs[Long]("neighbor_id"), r.getAs[Int]("group_label"))))
      .sortBy(_._1)
    // label 1 capped at 2 (ids 1,2 — the two best; id 3 displaced);
    // then label 2's pair; label 3 takes the last slot
    assert(out.map(_._2._1).toSeq == Seq(1L, 2L, 4L, 5L, 6L))
    assert(out.count(_._2._2 == 1) == 2)
    assert(!out.exists(_._2._1 == 3L))
  }
}
