package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.FeatureStore
import graft.operators.FeatureStore.FeatureDef
import graft.sources.Tables

/** Featureform's offline-store path on a Zipf-skewed event log:
  * materialization, a point-in-time training set with two features and a
  * lagged one, batch features and the train/test split, plus the write
  * path (incremental materialization and training-set refresh) fed by a
  * delta of late events. Bound by shuffle, sort and window work.
  */
final class FeaturePipeline(dir: String) extends Workload {
  import Truth._

  val ops: Seq[String] = FeaturePipeline.Ops
  private val truth = read(dir)
  private var events, delta, labels: DataFrame = _

  private val EventSchema = StructType(Seq(
    StructField("entity", LongType), StructField("feature", StringType),
    StructField("value", DoubleType), StructField("ts", TimestampType),
    StructField("event_id", LongType)))
  private val LabelSchema = StructType(Seq(
    StructField("entity", LongType), StructField("ts", TimestampType),
    StructField("label", DoubleType), StructField("label_id", LongType)))

  def load(spark: SparkSession): Unit = {
    events = Tables.registerPrimary(spark, "events", s"$dir/events.parquet",
      expectedSchema = Some(EventSchema))
    delta = Tables.registerPrimary(spark, "delta_events", s"$dir/delta_events.parquet",
      expectedSchema = Some(EventSchema))
    labels = Tables.registerPrimary(spark, "labels", s"$dir/labels.parquet",
      expectedSchema = Some(LabelSchema))
  }

  private def features(ev: DataFrame): Seq[FeatureDef] = {
    val fa = ev.where(col("feature") === "f_a")
    Seq(
      FeatureDef("f_a", fa, "entity", "value", "ts"),
      FeatureDef("f_b", ev.where(col("feature") === "f_b"), "entity", "value", "ts"),
      FeatureDef("f_a_lag", fa, "entity", "value", "ts", lag = Some(expr("INTERVAL 1 DAY"))))
  }

  def pass(c: Ctx): Unit = {
    val fa = events.where(col("feature") === "f_a")
    val latest = c.op("FeatureStore.materializeLatest")(
      FeatureStore.materializeLatest(fa, "entity", "value", "ts", "event_id"))(c.pin)
    c.check(checkLatest(c, "materializeLatest", latest, "latest_base", "entities_with_f_a"))

    val ts = c.op("FeatureStore.trainingSet")(
      FeatureStore.trainingSet(labels, "entity", "label", "ts", "label_id", features(events)))(c.pin)
    c.check(checkTraining(c, "trainingSet", ts, "base"))

    val names = Seq("f_a", "f_b", "f_c")
    val batch = c.op("FeatureStore.batchFeatures")(
      FeatureStore.batchFeatures(events, "entity", "feature", "value", "ts", "event_id", names))(c.pin)
    c.check {
      c.checks("batchFeatures.rows", batch.count() == truth.get("batch_entities").asLong)
      val want = fields(truth.get("batch"))
      val got = batch.where(col("entity").isin(want.map(_._1.toLong): _*))
        .select(col("entity") +: names.map(col): _*).collect()
        .map(r => r.getLong(0) -> names.indices.map(i => nullable(r, i + 1))).toMap
      want.foreach { case (e, v) =>
        val exp = names.map(n => opt(v.get(n)))
        c.checks("batchFeatures.value", got.get(e.toLong).contains(exp),
          s"entity $e: ${got.get(e.toLong)} != $exp")
      }
    }

    val split = c.op("FeatureStore.trainTestSplit")(
      FeatureStore.trainTestSplit(labels, "entity", 0.2))(c.pin)
    c.check {
      val rows = fields(truth.get("label_rows"))
      val gotSplit = split.where(col("label_id").isin(rows.map(_._1.toLong): _*))
        .select("label_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      rows.foreach { case (id, v) =>
        c.checks("trainTestSplit.split", gotSplit.get(id.toLong).contains(v.get("split").asText),
          s"label $id")
      }
    }

    val deltaA = delta.where(col("feature") === "f_a")
    val inc = c.op("FeatureStore.materializeIncremental")(
      FeatureStore.materializeIncremental(latest, deltaA, "entity", "value", "ts", "event_id"))(c.pin)
    c.check(checkLatest(c, "materializeIncremental", inc, "latest_full", "entities_with_f_a_full"))

    val upd = c.op("FeatureStore.updateTrainingSet")(
      FeatureStore.updateTrainingSet(ts, labels, "entity", "label", "ts", "label_id",
        features(events.unionByName(delta)), delta, "entity"))(c.pin)
    c.check(checkTraining(c, "updateTrainingSet", upd, "full"))
  }

  private def checkLatest(c: Ctx, op: String, df: DataFrame, key: String, countKey: String): Unit = {
    c.checks(s"$op.rows", df.count() == truth.get(countKey).asLong)
    val want = fields(truth.get(key))
    val got = df.where(col("entity").isin(want.map(_._1.toLong): _*))
      .select(col("entity"), unix_micros(col("ts")), col("value")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    want.foreach { case (e, v) =>
      val exp = (v.get("ts_us").asLong, v.get("value").asDouble)
      c.checks(s"$op.latest", got.get(e.toLong).contains(exp), s"entity $e: ${got.get(e.toLong)} != $exp")
    }
  }

  private def checkTraining(c: Ctx, op: String, df: DataFrame, side: String): Unit = {
    c.checks(s"$op.rows", df.count() == truth.get("labels").asLong)
    val rows = fields(truth.get("label_rows")).map(_._2)
    val feats = Seq("f_a", "f_b", "f_a_lag")
    val got = df.where(col("entity").isin(rows.map(_.get("entity").asLong).distinct: _*))
      .select(col("entity") +: unix_micros(col("ts")) +: feats.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> feats.indices.map(i => nullable(r, i + 2))).toMap
    rows.foreach { v =>
      val k = (v.get("entity").asLong, v.get("ts_us").asLong)
      val exp = feats.map(f => opt(v.get(side).get(f)))
      c.checks(s"$op.as_of", got.get(k).contains(exp), s"label $k: ${got.get(k)} != $exp")
    }
  }
}

object FeaturePipeline {
  /** The public ops of one pass, in call order. */
  val Ops: Seq[String] = Seq(
    "FeatureStore.materializeLatest", "FeatureStore.trainingSet", "FeatureStore.batchFeatures",
    "FeatureStore.trainTestSplit", "FeatureStore.materializeIncremental",
    "FeatureStore.updateTrainingSet")
}
