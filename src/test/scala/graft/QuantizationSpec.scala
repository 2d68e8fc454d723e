package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Quantization, Similarity}
import graft.sources.Tables

class QuantizationSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  private lazy val emb = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")

  test("native l2Sq is bit-identical to the HOF fold and null-safe on mismatch") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)), // length mismatch
      (2L, Array(1.5f, -2.0f), Array(0.5f, 4.0f))
    ).toDF("id", "a", "b")
    val out = df.select(
      col("id"),
      VectorFunctions.l2Sq(col("a"), col("b")).as("native"),
      VectorFunctions.l2SqHof(col("a"), col("b")).as("hof"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == ((None, None)))
    assert(out(2L)._1 == out(2L)._2 && out(2L)._1.contains(37.0))
    // corpus-wide: no drift anywhere
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .where(col("a") < col("b")).limit(500)
    val diff = pairs
      .select(abs(
        VectorFunctions.l2Sq(col("va"), col("vb")) -
          VectorFunctions.l2SqHof(col("va"), col("vb"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(diff == 0.0)
  }

  test("subVectors splits losslessly and in order") {
    val sub = Quantization.subVectors(emb, "vec_id", "embedding", m = 16, dims = 64)
    assert(sub.where(size(col("subvec")) =!= 4).count() == 0)
    assert(sub.count() == emb.count() * 16)
    // Reassembling the subvectors in subspace order gives back the vector.
    val glued = sub
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("subspace"), col("subvec")))).as("sv"))
      .select(col("vec_id"), flatten(transform(col("sv"), p => p.getField("subvec"))).as("re"))
      .join(emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("orig")), "vec_id")
      .where(col("re") =!= col("orig"))
    assert(glued.count() == 0)
  }

  test("pqCodebooks ids are dense per subspace and centroids have subvector dims") {
    val cb = Quantization.pqCodebooks(emb, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2)
    val bySub = cb.groupBy(col("subspace"))
      .agg(count(lit(1)).as("n"), min(col("centroid_id")).as("lo"), max(col("centroid_id")).as("hi"))
      .collect()
    assert(bySub.length == 16)
    bySub.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Int]("lo") == 0 && r.getAs[Int]("hi") == n - 1, "ids must be dense 0..n-1")
      assert(n <= 32)
    }
    assert(cb.where(size(col("centroid")) =!= 4).count() == 0)
  }

  test("pqEncode emits one m-length code array per vector with in-range codes") {
    val cb = Quantization.pqCodebooks(emb, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2)
    val enc = Quantization.pqEncode(emb, "vec_id", "embedding", m = 16, dims = 64, cb)
    assert(enc.count() == emb.count())
    assert(enc.where(size(col("codes")) =!= 16).count() == 0)
    assert(enc.where(exists(col("codes"), c => c < 0 || c >= 32)).count() == 0)
  }

  test("knnIvfPq restricts candidates to probed cells and beats raw-PQ recall") {
    val q = emb.where(col("vec_id") < 10)
    val out = Quantization.knnIvfPq(emb, q, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2,
      nCells = 8, coarseIterations = 3, nProbe = 3, k = 5)
    val n = out.count()
    assert(n == 50, s"expected 10 queries x top-5, got $n")
    // residual quantization should not be worse than raw-vector PQ at
    // the same (m, ksub) — that's the entire point of the IVF-PQ
    // composition. Compare both against exact L2 top-5.
    import graft.functions.VectorFunctions
    val qv = broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")))
    val exactL2 = Similarity.topKPerGroup(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_vec"))
        .join(qv, col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", -VectorFunctions.l2Sq(col("q_vec"), col("n_vec"))),
      "query_id", "sim", "neighbor_id", 5).localCheckpoint()
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recall(approx, exactL2).agg(avg(col("recall"))).collect()(0).getDouble(0)
    val rawPq = Quantization.pqKnn(emb, q, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2, k = 5)
    val rIvfPq = meanRecall(out)
    val rRaw = meanRecall(rawPq)
    // nProbe=3 of ~10 cells forgoes some candidates, so allow a small
    // concession; the residual-coding gain should dominate.
    assert(rIvfPq >= rRaw - 0.1, s"IVF-PQ recall $rIvfPq collapsed vs raw PQ $rRaw")
  }

  test("knnIvfPqRerank: exact-cosine order within the ADC shortlist, k per query") {
    val q = emb.where(col("vec_id") < 10)
    def run(k: Int) = Quantization.knnIvfPq(emb, q, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2,
      nCells = 8, coarseIterations = 3, nProbe = 3, k = k)
    val shortlist = run(20).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val rr = Quantization.knnIvfPqRerank(emb, q, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2,
      nCells = 8, coarseIterations = 3, nProbe = 3, k = 5, overfetch = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("rank")))
    // exactly k per query, every pick drawn from the ADC shortlist
    assert(rr.length == 50)
    assert(rr.forall { case (qid, nid, _) => shortlist((qid, nid)) })
    // rank order == exact cosine desc over the full-precision vectors
    val vecs = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray)
      .toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    rr.groupBy(_._1).foreach { case (qid, rows) =>
      val sims = rows.sortBy(_._3).map(t => cos(vecs(qid), vecs(t._2)))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"query $qid not cosine-ordered: ${sims.mkString(",")}")
    }
  }

  test("upsertIvfPq equals encoding the full corpus with the frozen artifacts") {
    val old = emb.where(col("vec_id") >= 10)
    val delta = emb.where(col("vec_id") < 10)
    val idx = Quantization.buildIvfPq(old, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2, nCells = 8, coarseIterations = 3,
      pinEncoded = true)
    val merged = Quantization.upsertIvfPq(idx, delta, "vec_id", "embedding", 16, 64)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cell"), r.getAs[Seq[Int]]("codes").toList))).toMap
    val got = key(merged.encoded.select(col("vec_id"), col("cell"), col("codes")))
    // reference: encode EVERYTHING with the same frozen artifacts
    val want = key(Quantization.encodeWithIndex(idx, emb, "vec_id", "embedding", 16, 64)
      .select(col("vec_id"), col("cell"), col("codes")))
    assert(got == want)
    assert(got.size == emb.count())
    // old rows' codes are untouched by the upsert
    val before = key(idx.encoded.select(col("vec_id"), col("cell"), col("codes")))
    assert(before.forall { case (k2, v) => got(k2) == v })
  }

  test("upsertIvfPq makes delta vectors findable by the probe") {
    val old = emb.where(col("vec_id") >= 10)
    val delta = emb.where(col("vec_id") < 10)
    val idx = Quantization.buildIvfPq(old, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2, nCells = 8, coarseIterations = 3)
    val updated = Quantization.upsertIvfPq(idx, delta, "vec_id", "embedding", 16, 64)
    // probe with exact DUPLICATES of the delta vectors under fresh ids:
    // each duplicate's ADC distance to its delta twin is the bare
    // quantization error — with a full probe the twin must rank in the
    // top-5, which can only happen if the upsert put it in the index
    val dupes = delta.select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val out = Quantization.probeIvfPq(
      updated, dupes, "vec_id", "embedding", m = 16, dims = 64, nProbe = 8, k = 5)
    assert(out.count() == delta.count() * 5)
    val twinHits = out
      .where(col("query_id") - 10000L === col("neighbor_id"))
      .count()
    assert(twinHits == delta.count(), s"only $twinHits of ${delta.count()} twins found")
  }

  test("pqKnn is deterministic and recalls most of the exact top-k") {
    val q = emb.where(col("vec_id") < 10)
    val a = Quantization.pqKnn(emb, q, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2, k = 5)
    val b = Quantization.pqKnn(emb, q, "vec_id", "embedding",
      m = 16, dims = 64, ksub = 32, iterations = 2, k = 5)
    assert(a.collect().toSet == b.collect().toSet, "PQ pipeline must be deterministic")
    // ADC approximates L2, so the recall gate compares against the
    // exact L2 top-k (not cosine — on unnormalized vectors the two
    // metrics legitimately disagree). ADC is lossy by design; require
    // a sane floor, not exactness — the pinned oracle is the exact
    // regression gate.
    import graft.functions.VectorFunctions
    val qv = broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")))
    val exactL2 = Similarity.topKPerGroup(
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_vec"))
        .join(qv, col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", -VectorFunctions.l2Sq(col("q_vec"), col("n_vec"))),
      "query_id", "sim", "neighbor_id", 5)
    val meanRecall = Similarity.recall(a, exactL2)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)
    assert(meanRecall >= 0.4, s"mean PQ recall vs exact L2 collapsed: $meanRecall")
  }

  test("rp->pq composed path: k rows per query, no self-matches, tracks rp-space exact L2") {
    val rp = emb.select(
      col("vec_id"),
      Quantization.randomProjectionNative(col("embedding"), 64, 16).as("embedding"))
    val q = rp.where(col("vec_id") < 10)
    val out = Quantization.pqKnn(rp, q, "vec_id", "embedding",
      m = 8, dims = 16, ksub = 32, iterations = 2, k = 5)
    val rows = out.collect()
    assert(rows.length == 50, "5 neighbors per each of 10 queries")
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id")))
    // quality floor: ADC in the projected space should still overlap
    // the projected-space exact L2 top-k
    import graft.functions.VectorFunctions
    val qv = broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")))
    val exactL2 = Similarity.topKPerGroup(
      rp.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_vec"))
        .join(qv, col("neighbor_id") =!= col("query_id"))
        .withColumn("sim", -VectorFunctions.l2Sq(col("q_vec"), col("n_vec"))),
      "query_id", "sim", "neighbor_id", 5)
    val meanRecall = Similarity.recall(out, exactL2)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)
    assert(meanRecall >= 0.3, s"rp-space PQ recall collapsed: $meanRecall")
  }

  test("native ADC is bit-identical to the HOF fold and null-safe") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    val df = Seq(
      (1L, Seq(Seq(1.0, 2.0), Seq(10.0, 20.0)), Seq(0, 1)),   // 1.0 + 20.0
      (2L, Seq(Seq(1.0, 2.0), Seq(10.0, 20.0)), Seq(1, 0)),   // 2.0 + 10.0
      (3L, Seq(Seq(1.0, 2.0)), Seq(0, 1)),                    // length mismatch -> null
      (4L, Seq(Seq(1.0, 2.0), Seq(10.0, 20.0)), Seq(0, 5))    // code out of range -> null
    ).toDF("id", "tables", "codes")
    val out = df.select(
      col("id"),
      VectorFunctions.adc(col("tables"), col("codes")).as("native"),
      // element_at throws on out-of-range in Spark 4, so only fold the
      // HOF on the well-formed rows; the native expression returns null
      when(col("id") <= 2,
        VectorFunctions.adcHof(col("tables"), col("codes"), m = 2)).as("hof"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L)._1.contains(21.0) && out(1L)._1 == out(1L)._2)
    assert(out(2L)._1.contains(12.0) && out(2L)._1 == out(2L)._2)
    assert(out(3L)._1.isEmpty)
    assert(out(4L)._1.isEmpty)
    // corpus-scale: the real encoded table + query tables agree exactly
    val cb = Quantization.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, dims = 64, ksub = 16, iterations = 1)
    val enc = Quantization.pqEncode(emb, "vec_id", "embedding", m = 8, dims = 64, cb)
    val knn = Quantization.pqKnnAdc(
      enc, emb.where(col("vec_id") < 5), "vec_id", "embedding",
      m = 8, dims = 64, cb, k = 3)
    assert(knn.count() == 15L)
  }

  test("tuneIvfPqNProbe finds the smallest probe meeting the target or None") {
    val q = emb.where(col("vec_id") < 5)
    // target 0: any probe passes -> smallest candidate (1)
    val loose = Quantization.tuneIvfPqNProbe(
      emb, q, "vec_id", "embedding",
      m = 8, dims = 64, ksub = 16, iterations = 1,
      nCells = 4, coarseIterations = 1, k = 5,
      targetRecall = 0.0, maxProbe = 4)
    assert(loose.contains(1))
    // unreachable target: PQ loss caps recall below 1.0 here -> None,
    // and maxProbe itself must have been evaluated before giving up
    val unmet = Quantization.tuneIvfPqNProbe(
      emb, q, "vec_id", "embedding",
      m = 8, dims = 64, ksub = 16, iterations = 1,
      nCells = 4, coarseIterations = 1, k = 5,
      targetRecall = 1.01, maxProbe = 3)
    assert(unmet.isEmpty)
    // empty query set vacuously meets any target at nProbe = 1
    val vac = Quantization.tuneIvfPqNProbe(
      emb, emb.where(col("vec_id") < 0), "vec_id", "embedding",
      m = 8, dims = 64, ksub = 16, iterations = 1,
      nCells = 4, coarseIterations = 1, k = 5,
      targetRecall = 1.0, maxProbe = 2)
    assert(vac.contains(1))
  }

  test("binarySketch packs sign bits and hamming kNN matches a window-sorted reference") {
    import org.apache.spark.sql.expressions.Window
    val sp = spark
    import sp.implicits._
    // constructed vectors with known sign patterns
    val rows = Seq(
      (1L, Array.fill(64)(1.0f)),                                  // all ones
      (2L, Array.fill(64)(-1.0f)),                                 // all zero bits
      (3L, Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f))   // low half set
    ).toDF("vec_id", "embedding")
    val sk = rows.select(col("vec_id"), Quantization.binarySketch(col("embedding"), 64).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk(1L) == -1L)                  // all 64 bits set
    assert(sk(2L) == 0L)
    assert(sk(3L) == 0x00000000ffffffffL)  // bits 0..31
    // kNN on the corpus vs an explicit window sort on (hamming, id)
    val emb2 = emb
    val q = emb2.where(col("vec_id") < 5)
    val got = Quantization.knnBinaryHamming(emb2, q, "vec_id", "embedding", 64, 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    val s = emb2.select(col("vec_id"), Quantization.binarySketch(col("embedding"), 64).as("sk"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("h").asc, col("neighbor_id").asc)
    val want = s.select(col("vec_id").as("neighbor_id"), col("sk").as("skn"))
      .join(broadcast(s.select(col("vec_id").as("query_id"), col("sk").as("skq"))
        .where(col("query_id") < 5)), col("neighbor_id") =!= col("query_id"))
      .withColumn("h", bit_count(col("skn").bitwiseXOR(col("skq"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(got == want)
    assert(got.size == 15)
  }

  test("int8Quantize: constant vectors are exact, codes span the grid") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(5.0f, 5.0f, 5.0f)),          // constant: scale 0
      (2L, Array(0.0f, 1.0f, 2.0f))           // endpoints hit codes 0/255
    ).toDF("vec_id", "embedding")
    val out = Quantization.int8Quantize(df, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out(1L).getAs[Long]("code_min") == 0L)
    assert(out(1L).getAs[Long]("code_max") == 0L)
    assert(out(1L).getAs[Double]("max_abs_err") == 0.0)
    assert(out(2L).getAs[Long]("code_min") == 0L)
    assert(out(2L).getAs[Long]("code_max") == 255L)
    // reported error is rounded to 6dp — allow that rounding slack
    assert(out(2L).getAs[Double]("max_abs_err") <= 2.0 / 255.0 / 2.0 + 5e-7)
  }

  test("opqRotation learns an orthogonal rotation that does not hurt PQ error") {
    val dims = 64
    val rot = Quantization.opqRotation(
      emb, "vec_id", "embedding", m = 8, dims = dims, ksub = 16,
      pqIterations = 2, opqIterations = 2)
    // R orthogonal: row dot products = identity within LAPACK noise.
    for (i <- 0 until dims; j <- i until dims by 7) {
      val d = (0 until dims).map(k => rot(i)(k) * rot(j)(k)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-9, s"R row dot ($i,$j) = $d")
    }
    // Quantization error: OPQ-rotated PQ must match or beat plain PQ.
    def mseOf(sp: org.apache.spark.sql.DataFrame, vecCol: String): Double = {
      val cb = Quantization
        .pqCodebooks(sp, "vec_id", vecCol, m = 8, dims = dims, ksub = 16, iterations = 2)
        .localCheckpoint()
      Quantization.pqMse(
        sp, "vec_id", vecCol,
        Quantization.pqReconstruct(
          Quantization.pqEncode(sp, "vec_id", vecCol, m = 8, dims = dims, cb), cb))
    }
    val plain = mseOf(emb, "embedding")
    val opq = mseOf(
      Quantization.rotate(emb, "vec_id", "embedding", rot).localCheckpoint(), "vec")
    assert(opq <= plain * 1.02, s"OPQ mse $opq vs plain $plain")
  }

  test("rotate native kernel is bit-identical to the HOF fold and stays in codegen") {
    import spark.implicits._
    val rot = Seq.tabulate(8, 8)((j, i) => math.sin(j * 8 + i + 1.0) / 3.0)
    val small = emb.select(
      col("vec_id"), slice(col("embedding"), 1, 8).as("embedding")).limit(200)
    val native = Quantization.rotate(small, "vec_id", "embedding", rot)
    // the HOF formulation rotate replaced: transform over literal rows,
    // zip_with multiply, left-associated aggregate fold
    val hof = small.select(
      col("vec_id"),
      transform(
        typedLit(rot),
        row => aggregate(
          zip_with(row, transform(col("embedding"), x => x.cast("double")), (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v)).as("vec"))
    val mismatch = native.join(hof.withColumnRenamed("vec", "vec_hof"), "vec_id")
      // exact bitwise comparison: array equality on doubles
      .where(not(col("vec") === col("vec_hof")))
      .count()
    assert(mismatch == 0L, "native rotate diverged from the HOF fold")
    // and the kernel participates in whole-stage codegen (the point):
    val plan = native.queryExecution.executedPlan.toString
    // the `*(n)` stage marker on the projection line = whole-stage codegen
    assert(
      plan.linesIterator.exists(l => l.contains("graft_matapply") && l.contains("*(")),
      plan.take(500))
    // null propagation: wrong length and null element -> null
    val bad = Seq(
      (1L, Array(1.0f, 2.0f)), // wrong length
      (2L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    assert(Quantization.rotate(bad, "vec_id", "embedding", rot)
      .where(col("vec").isNull).count() == 2L)
  }

  test("maintainIvfPq: small drift takes the upsert path, big drift re-trains and recovers recall") {
    import org.apache.spark.sql.DataFrame
    val (m, dims, ksub, its, nCells, cIts) = (8, 64, 16, 2, 8, 2)
    def build(c: DataFrame) =
      Quantization.buildIvfPq(c, "vec_id", "embedding", m, dims, ksub, its, nCells, cIts)
    val index = build(emb)

    // Small drift: a handful of re-delivered rows, distribution unchanged
    // -> centroid shift ~0, upsert-only path.
    val tinyDelta = emb.where(col("vec_id") < 5)
    val small = Quantization.maintainIvfPq(
      index, emb, tinyDelta, "vec_id", "embedding", m, dims, ksub, its, nCells, cIts,
      shiftThreshold = 0.5)
    assert(!small.retrained, s"shift ${small.maxShift} should not trip 0.5")
    assert(small.maxShift < 0.5)

    // Big drift: the whole corpus moves (encoder swap) -> the frozen
    // cells no longer describe the data; the trigger must fire.
    val drifted = emb.select(
      col("vec_id"),
      transform(col("embedding"), x => x + lit(10.0f)).as("embedding"),
      col("label")).localCheckpoint()
    val maintained = Quantization.maintainIvfPq(
      index, drifted, drifted, "vec_id", "embedding", m, dims, ksub, its, nCells, cIts,
      shiftThreshold = 0.5)
    assert(maintained.retrained, s"shift ${maintained.maxShift} should trip 0.5")
    assert(maintained.maxShift > 0.5)

    // Recall must recover vs the frozen-quantizer upsert on the same
    // drifted corpus: ground truth is exact brute-force cosine.
    val frozen = Quantization.upsertIvfPq(index, drifted, "vec_id", "embedding", m, dims)
    val queries = drifted.where(col("vec_id") < 10)
    val truth = Similarity
      .knnBruteForce(drifted, queries, "vec_id", "embedding", 10).localCheckpoint()
    def meanRecall(idx: Quantization.IvfPqIndex): Double =
      Similarity.recall(
        Quantization.probeIvfPq(idx, queries, "vec_id", "embedding", m, dims,
          nProbe = 4, k = 10),
        truth)
        .agg(avg(col("recall"))).head().getDouble(0)
    val rFrozen = meanRecall(frozen)
    val rRetrained = meanRecall(maintained.index)
    // The +10 shift leaves all cosines near 1, so even a fresh
    // m=8/ksub=16 PQ resolves only ~0.4 of the exact top-10 — the
    // claim under test is RECOVERY: the frozen-quantizer index
    // collapses to ~0 recall, the re-trained one restores a large
    // margin of it.
    assert(rRetrained >= rFrozen + 0.3,
      s"re-trained recall $rRetrained did not recover vs frozen $rFrozen")
    // 1e-9 slack: mean recall is a double average whose last ulp moves
    // with shuffle partitioning (observed: 0.39999999999999997 under a
    // different AQE initialPartitionNum) — the claim is "~0.4", not a
    // bit pattern
    assert(rRetrained >= 0.4 - 1e-9,
      s"re-trained recall $rRetrained implausibly low (frozen $rFrozen)")
  }

  test("randomProjection: deterministic, sign-balanced, and JL-ish on average") {
    val signs = for (i <- 1 to 64; j <- 0 until 16) yield Quantization.rpSign("rp", i, j)
    val plus = signs.count(_ == 1.0).toDouble / signs.size
    assert(plus > 0.4 && plus < 0.6, s"md5 signs should be near-balanced, got $plus")
    val proj = emb
      .select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("orig"),
        Quantization.randomProjection(col("embedding"), 64, 16).as("p"))
      .where(col("vec_id") < 40)
    val again = emb
      .select(col("vec_id"), Quantization.randomProjection(col("embedding"), 64, 16).as("p"))
      .where(col("vec_id") < 40)
    assert(proj.select(col("vec_id"), col("p")).exceptAll(again).count() == 0L,
      "projection must be bit-deterministic")
    // Native kernel parity: graft_rp must reproduce the declarative
    // fold bit-for-bit (same signs, same ascending-i accumulation).
    val nat = emb
      .select(col("vec_id"),
        Quantization.randomProjectionNative(col("embedding"), 64, 16).as("p"))
      .where(col("vec_id") < 40)
    assert(again.exceptAll(nat).count() == 0L, "native kernel must match the declarative fold")
    // JL sanity: mean squared-norm ratio across 40 vectors is near 1
    // (each coordinate has unit-variance signs; 16 dims is coarse, so
    // only the AVERAGE is tight).
    def sq(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0.0), (acc, x) => acc + x * x)
    val ratios = proj
      .select((sq(col("p")) / sq(col("orig"))).as("r"))
      .collect().map(_.getDouble(0))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.6 && mean < 1.5, s"mean norm ratio drifted: $mean")
  }

  test("int8Quantize reconstruction error is bounded by half a grid step corpus-wide") {
    val stats = Quantization.int8Quantize(emb, "vec_id", "embedding")
    val halfStep = emb.select(
      col("vec_id"),
      ((array_max(transform(col("embedding"), x => x.cast("double"))) -
        array_min(transform(col("embedding"), x => x.cast("double")))) / 255.0 / 2.0)
        .as("half"))
    val violations = stats.join(halfStep, "vec_id")
      // rounded stats vs exact bound: allow the 6dp rounding slack
      .where(col("max_abs_err") > col("half") + 5e-7)
      .count()
    assert(violations == 0L)
  }

  test("knnBinaryRerank: overfetch covering the corpus equals exact brute-force kNN") {
    val queries = emb.where(col("vec_id") < 5)
    // k*overfetch >= corpus: stage 1 passes everything through, so the
    // cosine rerank must reproduce brute force exactly
    val rerank = Quantization
      .knnBinaryRerank(emb, queries, "vec_id", "embedding", dims = 64, k = 5,
        overfetch = 1000)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    val brute = graft.operators.Similarity
      .knnBruteForce(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    assert(rerank == brute)
  }

  test("knnBinaryRerank with overfetch=1 reorders exactly the hamming top-k by cosine") {
    val queries = emb.where(col("vec_id") < 5)
    val rerank = Quantization
      .knnBinaryRerank(emb, queries, "vec_id", "embedding", dims = 64, k = 5, overfetch = 1)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hamming = Quantization
      .knnBinaryHamming(emb, queries, "vec_id", "embedding", dims = 64, k = 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(rerank == hamming) // same candidate SET, possibly different order
  }

  test("pcaWhitening: whitened components are centered, unit-variance, uncorrelated") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    // deterministic anisotropic 4-d cloud: dims scaled very differently
    // and shifted, with a deterministic pseudo-random source
    val rnd = new scala.util.Random(7)
    val data = (1L to 400L).map { i =>
      val g = Array.fill(4)(rnd.nextGaussian())
      (i, Array(
        (10.0 * g(0) + 5.0).toFloat,
        (0.5 * g(1) - 2.0).toFloat,
        (3.0 * (0.8 * g(0) + 0.6 * g(2))).toFloat, // correlated with dim 0
        (1.0 * g(3)).toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val (mu, w) = Quantization.pcaWhitening(df, "vec_id", "embedding", dims = 4, k = 4)
    // whiten locally with the learned transform
    val whitened = data.map { case (_, x) =>
      w.map(row => row.indices.map(i => row(i) * (x(i) - mu(i))).sum).toArray
    }
    val n = whitened.length.toDouble
    for (j <- 0 until 4) {
      val meanJ = whitened.map(_(j)).sum / n
      val varJ = whitened.map(v => (v(j) - meanJ) * (v(j) - meanJ)).sum / n
      assert(math.abs(meanJ) < 1e-6, s"component $j centered")
      assert(math.abs(varJ - 1.0) < 0.01, s"component $j unit variance, got $varJ")
    }
    // cross-correlation of distinct components vanishes
    for (a <- 0 until 4; b <- (a + 1) until 4) {
      val cov = whitened.map(v => v(a) * v(b)).sum / n
      assert(math.abs(cov) < 0.01, s"components $a,$b uncorrelated, got $cov")
    }
  }

  test("pcaWhitening is bit-identical however the rows are partitioned") {
    val one = Quantization.pcaWhitening(emb.repartition(1), "vec_id", "embedding", dims = 64, k = 8)
    val seven = Quantization.pcaWhitening(emb.repartition(7), "vec_id", "embedding", dims = 64, k = 8)
    def bits(fit: (Seq[Double], Seq[Seq[Double]])) =
      (fit._1 +: fit._2).map(_.map(java.lang.Double.doubleToLongBits))
    assert(bits(one) == bits(seven))
  }

  test("kmeans, PQ, OPQ, drift and OOD fits are bit-identical however the rows are partitioned") {
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case s: scala.collection.Seq[_] => s.map(bits)
      case r: org.apache.spark.sql.Row => r.toSeq.map(bits)
      case other => other
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(bits).toSet
    def fits(space: org.apache.spark.sql.DataFrame): Map[String, Any] = Map(
      "kmeansCodebook" -> rows(Similarity.kmeansCodebook(space, "vec_id", "embedding", k = 8, iterations = 3)),
      "pqCodebooks" -> rows(Quantization.pqCodebooks(space, "vec_id", "embedding",
        m = 16, dims = 64, ksub = 8, iterations = 2)),
      "opqRotation" -> bits(Quantization.opqRotation(space, "vec_id", "embedding",
        m = 16, dims = 64, ksub = 8, pqIterations = 2, opqIterations = 2)),
      "centroidDrift" -> rows(Similarity.centroidDrift(space, "vec_id", "embedding", "label",
        col("vec_id") % 3 === 0)),
      "oodScores" -> rows(Similarity.oodScores(space, "vec_id", "embedding", pctOod = 5)))
    val (one, seven) = (fits(emb.repartition(1)), fits(emb.repartition(7)))
    for (name <- one.keys) assert(one(name) == seven(name), s"$name differs")
  }

  private def pcaInput(vectors: Seq[Seq[java.lang.Double]]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Arrays.asList(vectors.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType, containsNull = true)))))
  }

  private def pcaError(vectors: Seq[java.lang.Double]*): String =
    intercept[IllegalArgumentException](
      Quantization.pcaWhitening(pcaInput(vectors), "vec_id", "embedding", dims = 3, k = 2)).getMessage

  private def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  test("pcaWhitening rejects vectors without exactly dims elements, by name") {
    // too short used to pull the mean off; too long threw out of bounds on the driver
    for (bad <- Seq(v(1.0, 2.0), v(1.0, 2.0, 3.0, 4.0))) {
      val msg = pcaError(v(1.0, 0.0, 2.0), bad, v(0.0, 1.0, 1.0), null)
      assert(msg.contains("pcaWhitening: 1 non-null vectors in embedding do not have dims=3 elements"), msg)
    }
  }

  test("pcaWhitening rejects null elements, by name") {
    // a null element used to count in n but not in the sum, pulling the mean toward 0
    val msg = pcaError(v(1.0, 0.0, 2.0), v(1.0, null, 3.0), v(0.0, 1.0, 1.0))
    assert(msg.contains("pcaWhitening: 1 vectors in embedding have null elements"), msg)
  }

  test("pcaWhitening needs a non-null vector, by name; null vectors are skipped") {
    val msg = pcaError(null, null)
    assert(msg.contains("pcaWhitening: embedding has no non-null vectors"), msg)
    val rows = Seq(v(1.0, 0.0, 2.0), v(3.0, 1.0, 0.0), v(0.0, 2.0, 1.0))
    val withNulls = Quantization.pcaWhitening(pcaInput(rows :+ null), "vec_id", "embedding", 3, 2)
    val without = Quantization.pcaWhitening(pcaInput(rows), "vec_id", "embedding", 3, 2)
    assert(withNulls == without)
    assert(without._1 == Seq(4.0 / 3, 1.0, 1.0))
  }
}
