package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Quantization, Similarity}
import graft.sources.Tables

/** Embeddinghub's path on clustered 64-d vectors: IVF-PQ build, batched
  * IVF-PQ and exact kNN over a query set, a closed loop of small
  * NearestNeighbor calls (one client, 10 queries a call, each forced and
  * waited on), the write path (index upsert, space upsert and multiGet)
  * and a PCA-whitening fit on a fixed sample. Bound by kernels and the
  * iterative loops between Spark jobs; the small calls expose the fixed
  * cost per job.
  */
final class VectorIndex(dir: String) extends Workload {
  import Truth._

  val ops: Seq[String] = VectorIndex.Ops
  private val truth = read(dir)
  private var corpus, queries, delta: DataFrame = _
  private val dims = truth.get("dims").asInt
  private val (m, ksub, iterations, nCells, coarseIterations, nProbe, k) = (8, 16, 1, 12, 1, 4, 10)
  /** Small NearestNeighbor calls per pass, and queries per call. */
  private val (smallCalls, perCall) = (2, 10)
  /** A broken index, not the quantization error: one k-means and one PQ
    * iteration keep recall@10 near 0.55 on these clusters, while an index
    * returning arbitrary vectors scores about 10 / 2000.
    */
  private val RecallFloor = 0.3

  private val Schema = StructType(Seq(
    StructField("id", LongType), StructField("embedding", ArrayType(FloatType))))

  def load(spark: SparkSession): Unit = {
    def reg(name: String) = Tables.registerPrimary(spark, name, s"$dir/$name.parquet",
      expectedSchema = Some(Schema))
    corpus = reg("corpus")
    queries = reg("queries")
    delta = reg("delta")
  }

  private def neighbours(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def doubles(n: com.fasterxml.jackson.databind.JsonNode): Seq[Double] =
    n.elements.asScala.map(_.asDouble).toSeq
  /** query → (exact top-10 ids, top-11 cosines). */
  private val knnTruth = fields(truth.get("knn")).map { case (q, v) =>
    q.toLong -> (longs(v.get("ids")).toSet, doubles(v.get("sims")))
  }.toMap

  def pass(c: Ctx): Unit = {
    val idx = c.op("Quantization.buildIvfPq")(
      Quantization.buildIvfPq(corpus, "id", "embedding", m, dims, ksub, iterations, nCells,
        coarseIterations, pinEncoded = true))(identity)
    c.check {
      c.checks("buildIvfPq.encoded", idx.encoded.count() == truth.get("vectors").asLong)
      // k-means may leave a cell empty; it never makes more than nCells.
      c.checks("buildIvfPq.cells", (1 to nCells).contains(idx.coarse.count()))
    }

    val probe = c.op("Quantization.probeIvfPq")(
      Quantization.probeIvfPq(idx, queries, "id", "embedding", m, dims, nProbe, k))(c.pin)
    c.check {
      val got = neighbours(probe)
      c.checks("probeIvfPq.k", knnTruth.keys.forall(q => got.get(q).exists(_.size == k)))
      val recall = knnTruth.map { case (q, (ids, _)) =>
        (got.getOrElse(q, Set.empty) intersect ids).size.toDouble / k }.sum / knnTruth.size
      c.quality("Quantization.probeIvfPq.recall_at_10") = recall
      c.checks("probeIvfPq.recall", recall >= RecallFloor, s"recall@10 $recall")
    }

    val exact = c.op("Similarity.knnBruteForce")(
      Similarity.knnBruteForce(corpus, queries, "id", "embedding", k))(c.pin)
    c.check {
      val gotExact = neighbours(exact)
      knnTruth.foreach { case (q, (ids, s)) =>
        // A true tie at rank 10 may resolve to either id; allow one swap then.
        val slack = if (s(k - 1) - s(k) < 1e-9) 1 else 0
        c.checks("knnBruteForce.exact",
          (gotExact.getOrElse(q, Set.empty) intersect ids).size >= k - slack, s"query $q")
      }
    }

    val qIds = longs(truth.get("queries"))
    for (i <- 0 until smallCalls) {
      val slice = qIds.slice(i * perCall, (i + 1) * perCall)
      val rows = c.op("Quantization.probeIvfPq", latency = true)(
        Quantization.probeIvfPq(idx, queries.where(col("id").isin(slice: _*)), "id", "embedding",
          m, dims, nProbe, k))(_.select("query_id", "neighbor_id").collect())
      c.checks("probeIvfPq.small", rows.length == slice.size * k)
    }

    val deltaIds = longs(truth.get("delta_ids"))
    val upserted = c.op("Quantization.upsertIvfPq")(
      Quantization.upsertIvfPq(idx, delta, "id", "embedding", m, dims))(
      i => i.copy(encoded = c.pin(i.encoded)))
    c.checks("upsertIvfPq.rows", upserted.encoded.count() == truth.get("upserted_size").asLong)
    c.checks("upsertIvfPq.delta",
      upserted.encoded.where(col("vec_id").isin(deltaIds: _*)).count() == deltaIds.size)

    val space = c.op("Similarity.upsert")(Similarity.upsert(corpus, delta, "id"))(c.pin)
    c.checks("upsert.rows", space.count() == truth.get("upserted_size").asLong)

    val want = fields(truth.get("multiget")).map { case (id, v) =>
      id.toLong -> doubles(v) }.toMap
    val mg = c.op("Similarity.multiGet")(
      Similarity.multiGet(space, "id", want.keys.toSeq))(c.pin)
    c.check {
      val gotVecs = mg.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
      c.checks("multiGet.keys", gotVecs.keySet == want.keySet)
      want.foreach { case (id, v) =>
        c.checks("multiGet.vector", gotVecs.get(id).contains(v), s"id $id") }
    }

    val sampleSize = truth.get("pca_sample").asLong
    val whitenK = 16
    val (mu, w) = c.op("Quantization.pcaWhitening")(
      Quantization.pcaWhitening(corpus.where(col("id") < sampleSize), "id", "embedding", dims,
        whitenK))(identity)
    c.check {
      val wantMu = doubles(truth.get("pca_mean"))
      c.checks("pcaWhitening.mean",
        mu.zip(wantMu).forall { case (a, b) => math.abs(a - b) < 1e-9 })
      // W·C·Wᵀ must be the identity (up to ε/(λ+ε)) for the sample covariance C.
      val cov = truth.get("pca_cov").elements.asScala.map(doubles(_).toArray).toArray
      val wc = w.map(row => Array.tabulate(dims)(j => (0 until dims).map(i => row(i) * cov(i)(j)).sum))
      val worst = (for (a <- 0 until whitenK; b <- 0 until whitenK) yield {
        val v = (0 until dims).map(j => wc(a)(j) * w(b)(j)).sum
        math.abs(v - (if (a == b) 1.0 else 0.0))
      }).max
      c.checks("pcaWhitening.whitens", w.size == whitenK && worst < 1e-3, s"max |WCWt - I| $worst")
    }
  }
}

object VectorIndex {
  /** The public ops of one pass, in call order. */
  val Ops: Seq[String] = Seq(
    "Quantization.buildIvfPq", "Quantization.probeIvfPq", "Similarity.knnBruteForce",
    "Quantization.upsertIvfPq", "Similarity.upsert", "Similarity.multiGet",
    "Quantization.pcaWhitening")
}
