package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Tables

/** The LLM-data path on documents with planted near-duplicate clusters:
  * quality score, language id, PII scrub, exact dedup, native MinHash LSH
  * and connected components over its candidate pairs. Bound by the
  * string-hashing kernels and the iterative components loop with its pins.
  */
final class CorpusCuration(dir: String) extends Workload {
  import Truth._

  val ops: Seq[String] = CorpusCuration.Ops
  private val truth = read(dir)
  private var docs: DataFrame = _
  /** MinHash LSH at its default 4 bands x 4 rows finds most planted
    * near-duplicates (3 of 100 words edited); the exact copies always.
    */
  private val DupRecallFloor = 0.8

  private val docTruth = fields(truth.get("doc_truth")).map { case (id, v) => id.toLong -> v }.toMap
  private val dupPairs = truth.get("dup_pairs").elements.asScala
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
  private val piiNames = TextAnalysis.PiiClasses.map(_.name)

  def load(spark: SparkSession): Unit =
    docs = Tables.registerPrimary(spark, "documents", s"$dir/documents.parquet",
      expectedSchema = Some(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))))

  private def sampled(df: DataFrame): DataFrame = df.where(col("doc_id").isin(docTruth.keys.toSeq: _*))

  def pass(c: Ctx): Unit = {
    val n = truth.get("docs").asLong
    val q = c.op("TextAnalysis.qualityScore")(TextAnalysis.qualityScore(docs, "doc_id", "text"))(c.pin)
    c.check {
      c.checks("qualityScore.rows", q.count() == n)
      sampled(q).select("doc_id", "quality").collect().foreach { r =>
        val want = docTruth(r.getLong(0)).get("quality").asDouble
        c.checks("qualityScore.value", math.abs(r.getDouble(1) - want) <= 1e-6,
          s"doc ${r.getLong(0)}: ${r.getDouble(1)} != $want")
      }
    }

    val l = c.op("TextAnalysis.langId")(TextAnalysis.langId(docs, "doc_id", "text"))(c.pin)
    c.check {
      val langs = sampled(l).select("doc_id", "lang_pred").collect()
      c.checks("langId.rows", langs.length == docTruth.size)
      langs.foreach { r =>
        c.checks("langId.lang", r.getString(1) == docTruth(r.getLong(0)).get("lang").asText,
          s"doc ${r.getLong(0)}")
      }
    }

    val p = c.op("TextAnalysis.piiScrub")(TextAnalysis.piiScrub(docs, "doc_id", "text"))(c.pin)
    c.check {
      val scrubbed = sampled(p).select(col("doc_id") +: col("scrubbed") +:
        piiNames.map(k => col(s"n_$k")): _*).collect()
      c.checks("piiScrub.rows", scrubbed.length == docTruth.size)
      scrubbed.foreach { r =>
        val t = docTruth(r.getLong(0))
        val counts = piiNames.indices.map(i => r.getLong(i + 2))
        c.checks("piiScrub.counts", counts == piiNames.map(k => t.get("pii").get(k).asLong),
          s"doc ${r.getLong(0)}: $counts")
        c.checks("piiScrub.text", r.getString(1) == t.get("scrubbed").asText, s"doc ${r.getLong(0)}")
      }
    }

    val exact = c.op("Dedup.exact")(Dedup.exact(docs, "doc_id", "text"))(c.pin)
    c.check {
      c.checks("exact.groups", exact.count() == truth.get("distinct_texts").asLong)
      val groups = exact.where(col("n_copies") > 1).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val wantGroups = fields(truth.get("exact_groups")).map { case (h, v) =>
        h -> (v.get("keep_id").asLong, v.get("n_copies").asLong) }.toMap
      c.checks("exact.copies", groups == wantGroups, s"${groups.size} vs ${wantGroups.size} groups")
    }

    val pairs = c.op("Dedup.minhashLshNative")(Dedup.minhashLshNative(docs, "doc_id", "text"))(c.pin)
    c.checks("minhashLshNative.ordered", pairs.where(col("a") >= col("b")).isEmpty)

    val cc = c.op("Dedup.connectedComponents")(
      Dedup.connectedComponents(pairs, docs, "doc_id"))(c.pin)
    c.check {
      val canon = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      c.checks("connectedComponents.rows", canon.size == n)
      c.checks("connectedComponents.canonical", canon.forall { case (d, k) => k <= d })
      val recall = dupPairs.count { case (a, b) => canon.get(a) == canon.get(b) }.toDouble /
        dupPairs.size.max(1)
      c.quality("Dedup.connectedComponents.dup_recall") = recall
      c.checks("connectedComponents.dup_recall", recall >= DupRecallFloor, s"dup_recall $recall")
    }
  }
}

object CorpusCuration {
  /** The public ops of one pass, in call order. */
  val Ops: Seq[String] = Seq(
    "TextAnalysis.qualityScore", "TextAnalysis.langId", "TextAnalysis.piiScrub",
    "Dedup.exact", "Dedup.minhashLshNative", "Dedup.connectedComponents")
}
