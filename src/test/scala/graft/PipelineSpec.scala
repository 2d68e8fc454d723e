package graft

import org.apache.spark.sql.functions._
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextAnalysis}
import graft.operators.Pins.PinOps
import graft.sources.{Lakehouse, Tables}

/** End-to-end composition: the operators are not just individually
  * correct — they CHAIN into the real training-data flow a corpus
  * pipeline runs (filter → dedup → chunk → clustered lakehouse write →
  * pruned read), all as one Catalyst-visible lineage per stage.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  /** Each test's own lakehouse root, deleted after it. */
  private var root: String = _
  override def withFixture(test: NoArgTest): Outcome =
    TempDirs.withTempDir("graft_pipeline") { dir => root = dir; super.withFixture(test) }

  test("corpus pipeline: quality gate -> exact dedup -> chunk -> lakehouse, counts conserve") {
    val docs = Tables.load(spark, GraftTestSession.Sf0001, "documents")
    val total = docs.count()
    assert(total > 0)

    // 1. quality gate: keep docs above a minimal quality score
    val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
    val kept = docs.join(
      scored.where(col("quality") > 0.3).select("doc_id"), "doc_id")
    val nKept = kept.count()
    assert(nKept > 0 && nKept <= total)

    // 2. exact dedup: keep each text's canonical (min doc_id) copy
    val canon = Dedup.exact(kept, "doc_id", "text")
    val survivors = kept.join(
      canon.select(col("keep_id").as("doc_id")), "doc_id")
    val nSurvivors = survivors.count()
    assert(nSurvivors > 0 && nSurvivors <= nKept)
    // dedup keeps exactly one doc per distinct text
    assert(nSurvivors == kept.select("text").distinct().count())

    // 3. chunk into training windows (120 tokens, stride 100)
    val chunks = TextAnalysis.chunkTokens(survivors, "doc_id", "text", 120, 100)
      .withColumnRenamed("chunk", "chunk_text")
    val nChunks = chunks.count()
    assert(nChunks >= nSurvivors, "every surviving doc yields at least one chunk")

    // 4. clustered lakehouse write + zone-map pruned read-back
    Lakehouse.commitClustered(
      chunks.select(col("doc_id"), col("chunk_idx"), col("chunk_text")),
      root, "corpus", "overwrite", "doc_id", numFiles = 4)
    val table = Lakehouse.read(spark, root, "corpus")
    assert(table.count() == nChunks, "lakehouse round-trip conserves chunks")
    // a doc_id range predicate prunes files AND returns the exact subset
    val ids = survivors.select("doc_id").as[Long].collect().sorted
    val (lo, hi) = (ids.head.toDouble, ids(ids.length / 4).toDouble)
    val pruned = Lakehouse.readPruned(spark, root, "corpus", "doc_id", lo, hi)
    assert(pruned.inputFiles.length < table.inputFiles.length)
    assert(pruned.count() ==
      table.where(col("doc_id") >= lo && col("doc_id") <= hi).count())
  }

  test("pretraining pipeline: temperature mixture -> seq-pack manifest -> packs cover the stream") {
    import graft.operators.Sampling
    val docs = Tables.load(spark, GraftTestSession.Sf0001, "documents")
    // 1. rebalance the corpus across sources (α=0.5, budget 120)
    val picked = Sampling.temperatureSample(docs, "source", "doc_id", 120L, seed = 5L)
    val nPicked = picked.count()
    assert(nPicked > 0 && nPicked <= 120)
    // small sources must be over-represented vs their raw share
    val raw = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sel = picked.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (minSrc, maxSrc) = (raw.minBy(_._2)._1, raw.maxBy(_._2)._1)
    if (raw(minSrc) < raw(maxSrc)) // sqrt scaling compresses the ratio
      assert(sel(minSrc).toDouble / sel(maxSrc) >=
        raw(minSrc).toDouble / raw(maxSrc))
    // 2. pack the selected docs into 512-token training sequences
    val selected = docs.join(picked.select("doc_id"), "doc_id")
    val manifest = TextAnalysis.seqPack(selected, "doc_id", "text", capacity = 512L)
      .collect()
    // the manifest is a gapless cover of the concatenated stream
    val totalTokens = manifest.map(_.getAs[Long]("n_tokens")).sum
    val byOffset = manifest.sortBy(_.getAs[Long]("stream_offset"))
    assert(byOffset.head.getAs[Long]("stream_offset") == 0L)
    byOffset.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("stream_offset") + a.getAs[Long]("n_tokens")
          == b.getAs[Long]("stream_offset"))
      case _ =>
    }
    val lastPack = byOffset.last.getAs[Long]("pack_last")
    assert(lastPack == (totalTokens - 1) / 512)
  }

  test("day in the life: stream in -> late data -> selective backfill -> pruned merge -> pinned training read") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.FeatureStore
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val tEvents = "ditl_events"
    val tFeat = "ditl_features"

    // 1. STREAM IN: events land on the lakehouse through the
    // self-maintaining idempotent streaming sink
    val src = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
    val q = Lakehouse
      .streamAppendMaintained(
        src.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        root, tEvents, maxSnapshotCommits = 6, targetFileBytes = 1 << 20)
      .option("checkpointLocation", s"$root/_ckpt_$tEvents")
      .start()
    try {
      src.addData(
        (1L, ts("2024-04-01 08:00:00"), 1L, "purchase", 10.0),
        (2L, ts("2024-04-01 09:00:00"), 2L, "purchase", 5.0),
        (3L, ts("2024-04-01 10:00:00"), 3L, "purchase", 8.0))
      q.processAllAvailable()
      src.addData(
        (4L, ts("2024-04-02 08:00:00"), 1L, "purchase", 12.0),
        (5L, ts("2024-04-02 09:00:00"), 4L, "purchase", 3.0))
      q.processAllAvailable()

      // 2. NIGHTLY MATERIALIZATION from the current snapshot: daily
      // aggregate + content-hashed manifest, and the per-user feature
      // table (latest value), range-clustered one-entity-per-file
      val evThen = Lakehouse.read(spark, root, tEvents)
      val staleAgg = FeatureStore.dailyAggregate(evThen, "ts", "event_type", "value")
        .pinned()
      val staleMan = FeatureStore
        .dailyManifest(evThen, "ts", "event_id", "event_type", "value")
        .pinned()
      val feat0 = FeatureStore
        .materializeLatest(evThen, "user_id", "value", "ts", "event_id")
        .select(col("entity").cast("long").as("entity"), col("value"))
      val vFeat1 = Lakehouse.commitClustered(feat0, root, tFeat, "overwrite", "entity", 4)

      // 3. LATE DATA lands: a day-1 straggler (changes user 2's latest
      // value) plus a brand-new day 3
      src.addData(
        (6L, ts("2024-04-01 23:00:00"), 2L, "purchase", 9.0),
        (7L, ts("2024-04-03 08:00:00"), 7L, "purchase", 4.0),
        (8L, ts("2024-04-03 09:00:00"), 8L, "purchase", 6.0))
      q.processAllAvailable()

      // 4. SELECTIVE BACKFILL: the manifest diff flags exactly the
      // dirty days; result equals the full recompute
      val evNow = Lakehouse.read(spark, root, tEvents)
      val refreshed = FeatureStore.backfillDays(
        evNow, "ts", "event_type", "value", "event_id", staleAgg, staleMan)
        .collect()
        .map(r => (r.getAs[java.sql.Date]("day").toString,
          (r.getAs[Long]("n"), r.getAs[Long]("spend_micro"), r.getAs[Int]("backfilled"))))
        .toMap
      val full = FeatureStore.dailyAggregate(evNow, "ts", "event_type", "value")
        .collect()
        .map(r => (r.getAs[java.sql.Date]("day").toString,
          (r.getAs[Long]("n"), r.getAs[Long]("spend_micro"))))
        .toMap
      assert(refreshed.view.mapValues(v => (v._1, v._2)).toMap == full)
      assert(refreshed.collect { case (d, (_, _, 1)) => d }.toSet ==
        Set("2024-04-01", "2024-04-03"), s"dirty-day detection: $refreshed")
      assert(refreshed("2024-04-02")._3 == 0, "clean day carried forward untouched")

      // 5. PRUNED MERGE of the feature delta: only the file holding
      // user 2 is rewritten; users 7/8 insert; untouched files are
      // re-referenced byte-identical
      val featNew = FeatureStore
        .materializeLatest(evNow, "user_id", "value", "ts", "event_id")
        .select(col("entity").cast("long").as("entity"), col("value"))
      val delta = featNew.as("n")
        .join(feat0.select(col("entity"), col("value").as("old")).as("o"), Seq("entity"), "left")
        .where(col("old").isNull || col("old") =!= col("value"))
        .select(col("entity"), col("value"))
      val stats = Lakehouse.merge(spark, root, tFeat, delta, "entity")
      assert(stats.rewrittenFiles >= 1, "the changed entity's file is rewritten")
      assert(stats.retainedFiles >= 2,
        s"unchanged files must be re-referenced, not rewritten: $stats")

      // 6. PINNED TRAINING READ: the pre-merge version is immutable
      // (reproducible training), the live table serves the corrections
      def featMap(v: Option[Int]) = Lakehouse.read(spark, root, tFeat, v)
        .collect().map(r => r.getAs[Long]("entity") -> r.getAs[Double]("value")).toMap
      val pinned = featMap(Some(vFeat1))
      val live = featMap(None)
      assert(pinned == Map(1L -> 12.0, 2L -> 5.0, 3L -> 8.0, 4L -> 3.0))
      assert(live == Map(
        1L -> 12.0, 2L -> 9.0, 3L -> 8.0, 4L -> 3.0, 7L -> 4.0, 8L -> 6.0))
    } finally q.stop()
  }
}
