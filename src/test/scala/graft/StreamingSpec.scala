package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingFeatures
import graft.streaming.StreamingFeatures.{DocArrival, FeatureEvent, SessionEvent, TaggedEvent}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("knnServeStream answers streamed query vectors identically to batch kNN") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_vec"))
    val qRows = emb.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val query = StreamingFeatures
      .knnServeStream(
        input.toDS().toDF("query_id", "q_vec"), corpus, k = 5)
      .writeStream.format("memory").queryName("knn_serve")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // two batches: queries 0-2, then 3-4 (state per query refines
      // independently; each batch emits its queries' full top-k)
      input.addData(qRows.take(3).toSeq: _*)
      query.processAllAvailable()
      input.addData(qRows.drop(3).toSeq: _*)
      query.processAllAvailable()
      val got = spark.table("knn_serve").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          r.getAs[Long]("neighbor_id")).toMap
      val expected = graft.operators.Similarity
        .knnBruteForce(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 5)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          r.getAs[Long]("neighbor_id")).toMap
      assert(got == expected)
    } finally query.stop()
  }

  test("topKServeStream: bounded per-query state across batches; parity with batch analog") {
    import StreamingFeatures.ScoredCandidate
    val input = MemoryStream[ScoredCandidate](spark)
    val query = StreamingFeatures
      .topKServeStream(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("topk_serve")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        ScoredCandidate(1L, 10L, 0.5), ScoredCandidate(1L, 11L, 0.9),
        ScoredCandidate(1L, 12L, 0.7), ScoredCandidate(1L, 13L, 0.2),
        ScoredCandidate(2L, 20L, 1.0))
      query.processAllAvailable()
      val n1 = spark.table("topk_serve").count().toInt
      // batch 2: doc 13 re-scores upward (replaces its old score); the
      // duplicate low re-score of doc 10 must NOT demote it.
      input.addData(ScoredCandidate(1L, 13L, 0.8), ScoredCandidate(1L, 10L, 0.1))
      query.processAllAvailable()
      val rows = spark.table("topk_serve").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      // batch-1 emission: full top-3 of both queries
      assert(rows.take(n1).toSet == Set(
        (1L, 1L, 11L, 0.9), (1L, 2L, 12L, 0.7), (1L, 3L, 10L, 0.5),
        (2L, 1L, 20L, 1.0)))
      // batch-2 emission: only query 1 touched; refreshed full top-3
      val batch2 = rows.drop(n1).toSet
      assert(batch2 == Set((1L, 1L, 11L, 0.9), (1L, 2L, 13L, 0.8), (1L, 3L, 12L, 0.7)))
      // parity: batch analog over the union of every candidate seen
      val all = Seq(
        (1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.7), (1L, 13L, 0.2),
        (2L, 20L, 1.0), (1L, 13L, 0.8), (1L, 10L, 0.1))
        .toDF("query_id", "doc_id", "score")
      val expected = StreamingFeatures.topKServeBatch(all, 3).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
      val finalPerQuery = batch2 ++ rows.take(n1).filter(_._1 == 2L)
      assert(finalPerQuery == expected)
    } finally query.stop()
  }

  test("streaming latest-value state matches batch materialization semantics") {
    val input = MemoryStream[FeatureEvent](spark)
    val query = StreamingFeatures
      .latestValueStream(input.toDS())
      .writeStream
      .format("memory")
      .queryName("latest_vals")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        FeatureEvent(1L, 10.0, ts("2024-01-01 00:00:00"), 1L),
        FeatureEvent(2L, 5.0, ts("2024-01-01 00:00:00"), 2L))
      query.processAllAvailable()
      // second batch: entity 1 gets a NEWER value, entity 2 an OLDER one
      input.addData(
        FeatureEvent(1L, 20.0, ts("2024-01-01 02:00:00"), 3L),
        FeatureEvent(2L, 99.0, ts("2023-12-31 00:00:00"), 4L))
      query.processAllAvailable()
      val state = spark.table("latest_vals")
        .groupBy($"entity")
        .agg(org.apache.spark.sql.functions.max_by($"value", $"ts").as("value"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // late event for entity 2 must NOT overwrite the newer state
      assert(state == Map(1L -> 20.0, 2L -> 5.0))
    } finally query.stop()
  }

  test("transformWithState latest-value == the mapGroupsWithState form (API migration parity)") {
    // transformWithState requires the RocksDB state store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val input = MemoryStream[FeatureEvent](spark)
      val query = StreamingFeatures
        .latestValueStreamTws(input.toDS())
        .writeStream.format("memory").queryName("latest_tws")
        .outputMode(OutputMode.Update())
        .start()
      try {
        input.addData(
          FeatureEvent(1L, 10.0, ts("2024-01-01 00:00:00"), 1L),
          FeatureEvent(2L, 5.0, ts("2024-01-01 00:00:00"), 2L))
        query.processAllAvailable()
        input.addData(
          FeatureEvent(1L, 20.0, ts("2024-01-01 02:00:00"), 3L),
          FeatureEvent(2L, 99.0, ts("2023-12-31 00:00:00"), 4L))
        query.processAllAvailable()
        val state = spark.table("latest_tws")
          .groupBy($"entity")
          .agg(org.apache.spark.sql.functions.max_by($"value", $"ts").as("value"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        // identical to the mapGroupsWithState spec above: the late
        // event for entity 2 must NOT overwrite newer state
        assert(state == Map(1L -> 20.0, 2L -> 5.0))
      } finally query.stop()
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming training set matches batch point-in-time join semantics") {
    val input = MemoryStream[TaggedEvent](spark)
    val query = StreamingFeatures
      .streamingTrainingSet(input.toDS())
      .writeStream
      .format("memory")
      .queryName("stream_ts")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: feature @00:00, label @00:30 (sees 10.0), feature @01:00
      input.addData(
        TaggedEvent(1L, ts("2024-01-01 00:00:00"), 1L, is_label = false, 10.0),
        TaggedEvent(1L, ts("2024-01-01 00:30:00"), 2L, is_label = true, 111.0),
        TaggedEvent(1L, ts("2024-01-01 01:00:00"), 3L, is_label = false, 20.0))
      query.processAllAvailable()
      // batch 2: label after the 01:00 feature (state carries across
      // batches -> sees 20.0); label for an entity with no features
      input.addData(
        TaggedEvent(1L, ts("2024-01-01 02:00:00"), 4L, is_label = true, 222.0),
        TaggedEvent(2L, ts("2024-01-01 02:00:00"), 5L, is_label = true, 333.0))
      query.processAllAvailable()
      val rows = spark.table("stream_ts").collect()
        .map(r => r.getAs[Double]("label") ->
          Option(r.getAs[Any]("feature")).map(_.asInstanceOf[Double]))
        .toMap
      assert(rows == Map(111.0 -> Some(10.0), 222.0 -> Some(20.0), 333.0 -> None))
      // cross-check against the batch as-of join on the same data
      val all = Seq(
        (1L, 10.0, ts("2024-01-01 00:00:00"), 1L, false),
        (1L, 111.0, ts("2024-01-01 00:30:00"), 2L, true),
        (1L, 20.0, ts("2024-01-01 01:00:00"), 3L, false),
        (1L, 222.0, ts("2024-01-01 02:00:00"), 4L, true),
        (2L, 333.0, ts("2024-01-01 02:00:00"), 5L, true)
      ).toDF("user_id", "value", "ts", "event_id", "is_label")
      val batch = graft.operators.FeatureStore
        .trainingSet(
          all.where($"is_label"), "user_id", "value", "ts", "event_id",
          Seq(graft.operators.FeatureStore.FeatureDef(
            "f", all.where(!$"is_label"), "user_id", "value", "ts")))
        .collect()
        .map(r => r.getAs[Double]("label") ->
          Option(r.getAs[Any]("f")).map(_.asInstanceOf[Double]))
        .toMap
      assert(batch == rows)
    } finally query.stop()
  }

  test("streaming sessionization closes sessions via event-time timeout") {
    val input = MemoryStream[SessionEvent](spark)
    val query = StreamingFeatures
      .sessionizeStream(input.toDS(), gapMinutes = 30)
      .writeStream
      .format("memory")
      .queryName("sessions")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // one session for user 1 (3 events within the gap)
      input.addData(
        SessionEvent(1L, ts("2024-01-01 00:00:00"), 1L),
        SessionEvent(1L, ts("2024-01-01 00:10:00"), 2L),
        SessionEvent(1L, ts("2024-01-01 00:20:00"), 3L))
      query.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // still open
      // far-future event advances the watermark past 00:50 -> closes it
      input.addData(SessionEvent(2L, ts("2024-01-01 06:00:00"), 4L))
      query.processAllAvailable()
      input.addData(SessionEvent(2L, ts("2024-01-01 12:00:00"), 5L))
      query.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[java.sql.Timestamp]("session_start"),
          r.getAs[java.sql.Timestamp]("session_end")))
      assert(rows.exists(_ == ((1L, 3L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:20:00")))))
    } finally query.stop()
  }

  test("native session_window: the SAME batch code path runs on a stream with parity") {
    import graft.operators.Analytics
    import org.apache.spark.sql.functions.{col, lit}
    val input = MemoryStream[SessionEvent](spark)
    val streamEv = input.toDS().toDF()
      .withColumn("value", col("event_id").cast("double"))
      .withWatermark("ts", "0 seconds")
    val query = Analytics.sessionWindows(streamEv, 30)
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode(OutputMode.Append()).start()
    val events = Seq(
      SessionEvent(1L, ts("2024-01-01 00:00:00"), 1L),
      SessionEvent(1L, ts("2024-01-01 00:10:00"), 2L),
      SessionEvent(1L, ts("2024-01-01 01:00:00"), 3L), // 50-min gap -> new session
      SessionEvent(2L, ts("2024-01-01 00:05:00"), 4L))
    try {
      input.addData(events: _*)
      query.processAllAvailable()
      // two sentinel batches: the first advances the watermark past all
      // open sessions, the second triggers their eviction/emission
      input.addData(SessionEvent(99L, ts("2024-01-01 12:00:00"), 90L))
      query.processAllAvailable()
      input.addData(SessionEvent(99L, ts("2024-01-01 18:00:00"), 91L))
      query.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
          r.getAs[Long]("session_end_us"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value"))
      val streamed = spark.table("native_sessions")
        .where(col("user_id") =!= 99L).collect().map(key).toSet
      val batch = Analytics.sessionWindows(
        events.toDF().withColumn("value", col("event_id").cast("double")), 30)
        .collect().map(key).toSet
      assert(streamed == batch && batch.size == 3,
        s"stream/batch divergence: $streamed vs $batch")
    } finally query.stop()
  }

  test("streaming dedup keeps the first arrival per fingerprint across batches") {
    val input = MemoryStream[DocArrival](spark)
    val query = StreamingFeatures
      .dedupStream(input.toDS())
      .writeStream
      .format("memory")
      .queryName("deduped")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: two docs share fp "x" -> (ts, id)-minimal wins
      input.addData(
        DocArrival(5L, "x", ts("2024-01-01 00:00:00")),
        DocArrival(3L, "x", ts("2024-01-01 00:00:00")),
        DocArrival(7L, "y", ts("2024-01-01 00:01:00")))
      query.processAllAvailable()
      // batch 2: late duplicates of both fps must be dropped; new fp kept
      input.addData(
        DocArrival(1L, "x", ts("2024-01-01 02:00:00")),
        DocArrival(2L, "y", ts("2024-01-01 02:00:00")),
        DocArrival(9L, "z", ts("2024-01-01 02:00:00")))
      query.processAllAvailable()
      val rows = spark.table("deduped").collect()
        .map(r => r.getAs[String]("fp") -> r.getAs[Long]("doc_id")).toMap
      assert(rows == Map("x" -> 3L, "y" -> 7L, "z" -> 9L))
      // parity with the batch analog over the first batch's data
      val docs = Seq((5L, "d_x"), (3L, "d_x"), (7L, "d_y"))
        .toDF("doc_id", "text")
      val batch = StreamingFeatures.dedupBatch(docs, "doc_id", "text")
        .collect().map(r => r.getAs[Long]("doc_id")).toSet
      assert(batch == Set(3L, 7L))
    } finally query.stop()
  }

  test("bounded-state dedup: dup within the watermark dropped, state evicted after it") {
    import org.apache.spark.sql.functions._
    val input = MemoryStream[DocArrival](spark)
    val query = StreamingFeatures
      .dedupStreamBounded(input.toDS().toDF(), "1 hour")
      .writeStream.format("memory").queryName("bounded_dedup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(DocArrival(1L, "x", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      // within the 1h delay of the first copy: dropped
      input.addData(DocArrival(2L, "x", ts("2024-01-01 00:30:00")))
      query.processAllAvailable()
      // advance event time far past x; its state is evicted...
      input.addData(DocArrival(3L, "y", ts("2024-01-01 06:00:00")))
      query.processAllAvailable()
      // ...so a LATE re-arrival of x is re-admitted (the documented
      // bounded-state trade; the periodic batch dedup catches it)
      input.addData(DocArrival(4L, "x", ts("2024-01-01 06:30:00")))
      query.processAllAvailable()
      val ids = spark.table("bounded_dedup").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 3L, 4L), s"got $ids")
    } finally query.stop()
  }

  test("stateful streams run on the RocksDB state store (the at-scale state backend)") {
    // The default HDFS-backed store keeps every key on the executor
    // heap — fine for tests, a hard wall for 100 TB streaming state.
    // RocksDB spills to local disk and is the production choice; this
    // pins that graft's stateful operators run unchanged on it.
    val spark = GraftTestSession.spark
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val input = MemoryStream[DocArrival](spark)
      val query = StreamingFeatures.dedupStream(input.toDS())
        .writeStream.format("memory").queryName("rocksdb_dedup")
        .outputMode(OutputMode.Append())
        .start()
      try {
        input.addData(
          DocArrival(5L, "x", ts("2024-01-01 00:00:00")),
          DocArrival(3L, "x", ts("2024-01-01 00:00:00")))
        query.processAllAvailable()
        input.addData(DocArrival(1L, "x", ts("2024-01-01 01:00:00")),
          DocArrival(9L, "z", ts("2024-01-01 01:00:00")))
        query.processAllAvailable()
        val rows = spark.table("rocksdb_dedup").collect()
          .map(r => r.getAs[String]("fp") -> r.getAs[Long]("doc_id")).toMap
        // cross-batch dedup state held in RocksDB behaves identically
        assert(rows == Map("x" -> 3L, "z" -> 9L))
        // and the running query genuinely used the RocksDB provider
        val progress = query.lastProgress.toString()
        assert(progress.contains("rocksdb"), s"no rocksdb in progress: $progress")
      } finally query.stop()
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dedup state survives a query RESTART through the checkpoint (exactly-once resume)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    TempDirs.withTempDir("graft_restart") { root =>
      val (inDir, outDir, ckDir) = (s"$root/in", s"$root/out", s"$root/ck")
      new java.io.File(inDir).mkdirs()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("fp", StringType),
        StructField("ts", TimestampType)))
      def writeBatch(name: String, rows: Seq[String]): Unit =
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$inDir/$name"), rows.mkString("\n"))
      def runQuery(): Unit = {
        val q = StreamingFeatures
          .dedupStream(
            graft.sources.Tables.registerStream(spark, "doc_arrivals",
              graft.sources.Tables.StreamSource.Files(inDir, "json", schema))
              .as[DocArrival])
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckDir)
          .outputMode(OutputMode.Append())
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      // run 1: fps x and y commit to the checkpointed state
      writeBatch("b1.json", Seq(
        """{"doc_id": 3, "fp": "x", "ts": "2024-01-01T00:00:00.000Z"}""",
        """{"doc_id": 7, "fp": "y", "ts": "2024-01-01T00:01:00.000Z"}"""))
      runQuery()
      // run 2 = a NEW query resuming from the checkpoint: the late dup of
      // "x" must still be dropped — state recovered, not rebuilt
      writeBatch("b2.json", Seq(
        """{"doc_id": 1, "fp": "x", "ts": "2024-01-01T02:00:00.000Z"}""",
        """{"doc_id": 9, "fp": "z", "ts": "2024-01-01T02:00:00.000Z"}"""))
      runQuery()
      val out = spark.read.parquet(outDir).collect()
        .map(r => r.getAs[String]("fp") -> r.getAs[Long]("doc_id")).toMap
      assert(out == Map("x" -> 3L, "y" -> 7L, "z" -> 9L))
    }
  }

  test("streaming near-dup gate: band-bucket state across batches == batch analog") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingFeatures.BandArrival
    val textA = "alpha beta gamma delta epsilon zeta"
    val textB = "one two three four five six seven"
    val textC = "red green blue cyan magenta yellow"
    val input = MemoryStream[(Long, String)](spark)
    // the LSH sketch is a pure projection, so it runs ON the stream
    val bands = graft.operators.Dedup
      .bandedSketch(input.toDS().toDF("doc_id", "text"), "doc_id", "text")
      .withColumn("band", col("band").cast("int"))
      .as[BandArrival]
    val query = StreamingFeatures.nearDedupStream(bands)
      .writeStream.format("memory").queryName("near_dedup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: doc 1 and its in-batch copy doc 2; doc 3 distinct
      input.addData((1L, textA), (2L, textA), (3L, textB))
      query.processAllAvailable()
      // batch 2: doc 4 duplicates doc 1 ACROSS batches (pure state
      // hit); doc 5 is new
      input.addData((4L, textA), (5L, textC))
      query.processAllAvailable()
      val verdicts = spark.table("near_dedup")
        .groupBy(col("doc_id"))
        .agg(max(when(col("hit"), 1).otherwise(0)).as("is_dup"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("is_dup")).toMap
      assert(verdicts == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 0))
      // exact parity with the batch analog over the full arrival set
      val docs = Seq((1L, textA), (2L, textA), (3L, textB), (4L, textA), (5L, textC))
        .toDF("doc_id", "text")
      val batch = StreamingFeatures.nearDedupBatch(docs, "doc_id", "text")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("is_dup")).toMap
      assert(batch == verdicts)
    } finally query.stop()
  }

  test("streaming MultiSet sink folds micro-batches into versioned space snapshots") {
    TempDirs.withTempDir("graft_stream_spaces_") { root =>
      val space = "vecs"
      // (key, value, label, seq) set-requests; seq = stream arrival order
      val input = MemoryStream[(Long, Double, Int, Long)](spark)
      val query = StreamingFeatures.upsertSink(
        input.toDS().toDF("vec_id", "value", "label", "seq"),
        "vec_id", "seq", root, space)
      try {
        // batch 1: two writes to key 1 -> the later seq wins within the batch
        input.addData((1L, 1.0, 10, 1L), (1L, 2.0, 11, 2L), (2L, 5.0, 20, 3L))
        query.processAllAvailable()
        val v1 = graft.sources.Spaces.load(spark, root, space, Some(1))
          .collect().map(r => r.getAs[Long]("vec_id") ->
            (r.getAs[Double]("value"), r.getAs[Int]("label"))).toMap
        assert(v1 == Map(1L -> ((2.0, 11)), 2L -> ((5.0, 20))))
        // batch 2: update key 2, insert key 3; version 1 must be untouched
        input.addData((2L, 6.0, 21, 4L), (3L, 7.0, 30, 5L))
        query.processAllAvailable()
        assert(graft.sources.Spaces.versions(spark, root, space) == Seq(1, 2))
        val v2 = graft.sources.Spaces.load(spark, root, space, None)
          .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("value")).toMap
        assert(v2 == Map(1L -> 2.0, 2L -> 6.0, 3L -> 7.0))
        val v1Again = graft.sources.Spaces.load(spark, root, space, Some(1)).count()
        assert(v1Again == 2L) // immutability: the old snapshot still reads as written
      } finally {
        query.stop()
        graft.sources.Spaces.delete(spark, root, space)
      }
    }
  }

  test("transitionsStream matches the batch matrix in order; drops stale arrivals") {
    import StreamingFeatures.TypedStep
    val input = MemoryStream[TypedStep](spark)
    val query = StreamingFeatures.transitionsStream(input.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        TypedStep(1L, "view", ts("2024-01-01 00:00:00"), 1L),
        TypedStep(1L, "click", ts("2024-01-01 00:01:00"), 2L))
      query.processAllAvailable()
      // state carries across batches: purchase follows the click
      input.addData(TypedStep(1L, "purchase", ts("2024-01-01 00:02:00"), 3L))
      query.processAllAvailable()
      // stale arrival (older than state) forms no forward step
      input.addData(TypedStep(1L, "error", ts("2023-12-31 00:00:00"), 4L))
      query.processAllAvailable()
      val out = spark.table("transitions")
        .collect()
        .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type")))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(out == Map(
        ("view", "click") -> 1, ("click", "purchase") -> 1))
      // parity with the batch operator over the in-order prefix
      val batch = graft.operators.Analytics.eventTransitions(
        Seq(
          (1L, 1L, "view", ts("2024-01-01 00:00:00")),
          (2L, 1L, "click", ts("2024-01-01 00:01:00")),
          (3L, 1L, "purchase", ts("2024-01-01 00:02:00")))
          .toDF("event_id", "user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", "event_id")
        .collect()
        .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type")) ->
          r.getAs[Long]("n")).toMap
      assert(batch == out.map { case (k, v) => k -> v.toLong })
    } finally query.stop()
  }

  test("aggSink: batched partials merge to the exact full aggregate, versions immutable") {
    val input = MemoryStream[(Long, Double)](spark)
    TempDirs.withTempDir("agg_sink") { root =>
      val space = "totals"
      val query = StreamingFeatures.aggSink(
        input.toDS().toDF("user_id", "value"), "user_id", "value", root, space)
      try {
        input.addData((1L, 10.0), (1L, 2.5), (2L, 7.0))
        query.processAllAvailable()
        input.addData((1L, 0.5), (3L, 4.0))
        query.processAllAvailable()
        assert(graft.sources.Spaces.versions(spark, root, space) == Seq(1, 2))
        val v2 = graft.sources.Spaces.load(spark, root, space, None)
          .collect()
          .map(r => r.getAs[Long]("entity") ->
            ((r.getDecimal(1).doubleValue(), r.getAs[Long]("n"))))
          .toMap
        // exactly the one-shot aggregate of all five rows, however batched
        assert(v2 == Map(1L -> ((13.0, 3L)), 2L -> ((7.0, 1L)), 3L -> ((4.0, 1L))))
        val v1 = graft.sources.Spaces.load(spark, root, space, Some(1))
          .collect().map(r => r.getAs[Long]("entity") -> r.getAs[Long]("n")).toMap
        assert(v1 == Map(1L -> 2L, 2L -> 1L), "version 1 snapshot unchanged")
      } finally {
        query.stop()
        graft.sources.Spaces.delete(spark, root, space)
      }
    }
  }

  test("stream-stream attribution join pairs touches within the window only") {
    val touches = MemoryStream[(Long, Long, Timestamp)](spark)
    val convs = MemoryStream[(Long, Long, Timestamp)](spark)
    val query = StreamingFeatures
      .attributionStream(
        touches.toDF().toDF("user_id", "event_id", "ts"),
        convs.toDF().toDF("user_id", "event_id", "ts"),
        windowMinutes = 60)
      .writeStream
      .format("memory")
      .queryName("attrib")
      .outputMode(OutputMode.Append())
      .start()
    try {
      touches.addData(
        (1L, 10L, ts("2024-01-01 00:00:00")), // in window of conv @00:30
        (1L, 11L, ts("2024-01-01 02:00:00")), // after the conversion
        (2L, 12L, ts("2024-01-01 00:00:00"))) // other user
      convs.addData((1L, 100L, ts("2024-01-01 00:30:00")))
      query.processAllAvailable()
      val pairs = spark.table("attrib").collect()
        .map(r => (r.getAs[Long]("conv_id"), r.getAs[Long]("touch_id"))).toSet
      assert(pairs == Set((100L, 10L)))
      // batch analog on the equivalent event table gives the same pairs
      val events = Seq(
        (1L, 10L, ts("2024-01-01 00:00:00"), "click"),
        (1L, 11L, ts("2024-01-01 02:00:00"), "click"),
        (2L, 12L, ts("2024-01-01 00:00:00"), "click"),
        (1L, 100L, ts("2024-01-01 00:30:00"), "purchase")
      ).toDF("user_id", "event_id", "ts", "event_type")
      val batch = StreamingFeatures
        .attributionBatch(events, "click", "purchase", 60)
        .collect().map(r => (r.getAs[Long]("conv_id"), r.getAs[Long]("touch_id"))).toSet
      assert(batch == pairs)
    } finally query.stop()
  }

  test("windowed streaming counts with watermark produce hourly buckets") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val df = input.toDF().toDF("ts", "event_type", "value")
    val query = StreamingFeatures
      .windowedCountsStream(df, watermark = "1 hour", windowLen = "1 hour")
      .writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), "click", 1.0),
        (ts("2024-01-01 00:40:00"), "click", 2.0),
        (ts("2024-01-01 01:10:00"), "view", 5.0))
      query.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getAs[Timestamp]("win_start"), r.getAs[String]("event_type")) -> r.getAs[Long]("n"))
        .toMap
      assert(rows((ts("2024-01-01 00:00:00"), "click")) == 2L)
      assert(rows((ts("2024-01-01 01:00:00"), "view")) == 1L)
    } finally query.stop()
  }

  test("streaming funnel matches the batch funnel under in-order delivery") {
    import StreamingFeatures.FunnelEvent
    val stages = Seq("view", "click", "purchase")
    // deterministic pseudo-random event set, delivered in ts order
    val rnd = new scala.util.Random(7)
    val evs = (0 until 300).map { i =>
      (rnd.nextInt(20).toLong, stages(rnd.nextInt(3)), ts("2024-01-01 00:00:00").getTime + i * 60000L)
    }.sortBy(_._3)
    val input = MemoryStream[FunnelEvent](spark)
    val query = StreamingFeatures
      .funnelStream(input.toDS(), nStages = 3)
      .writeStream.format("memory").queryName("funnel_progress")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // two batches, split mid-stream (state must carry across)
      val (b1, b2) = evs.splitAt(150)
      for (batch <- Seq(b1, b2)) {
        input.addData(batch.map { case (u, s, t) =>
          FunnelEvent(u, stages.indexOf(s), new Timestamp(t))
        }: _*)
        query.processAllAvailable()
      }
      // latest progress row per user
      val got = spark.table("funnel_progress").collect()
        .map(r => (r.getAs[Long]("user"), r.getAs[Int]("reached"), r.getAs[Timestamp]("ts")))
        .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
      // batch reference: per-stage counts from Analytics.funnel
      val batchDf = evs.map { case (u, s, t) => (u, s, new Timestamp(t)) }
        .toDF("user_id", "event_type", "ts")
      val want = graft.operators.Analytics
        .funnel(batchDf, "user_id", "event_type", "ts", stages)
        .collect().map(r => r.getAs[Long]("stage_idx") -> r.getAs[Long]("n_users")).toMap
      val streamCounts = (0 until 3)
        .map(i => i.toLong -> got.values.count(_ >= i).toLong).toMap
      assert(streamCounts == want)
    } finally query.stop()
  }

  test("rollingFeaturesStream: trailing-window features at labels match the batch op") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingFeatures.RollingEvent
    val evs = Seq(
      RollingEvent(1L, 5.0, ts("2024-01-01 00:00:00"), "click"),
      RollingEvent(1L, 7.0, ts("2024-01-01 00:30:00"), "click"),
      RollingEvent(1L, 9.0, ts("2024-01-01 02:00:00"), "click"),
      RollingEvent(1L, 99.0, ts("2024-01-01 02:30:00"), "purchase"),
      // same-instant click must not leak into entity 2's label
      RollingEvent(2L, 1.0, ts("2024-01-01 01:00:00"), "click"),
      RollingEvent(2L, 50.0, ts("2024-01-01 01:00:00"), "purchase"),
      // second label later, after more clicks (state carries across batches)
      RollingEvent(1L, 2.5, ts("2024-01-01 02:45:00"), "click"),
      RollingEvent(1L, 80.0, ts("2024-01-01 03:15:00"), "purchase"))
    val input = MemoryStream[RollingEvent](spark)
    val query = StreamingFeatures
      .rollingFeaturesStream(input.toDS(), "purchase", "click")
      .writeStream.format("memory").queryName("rolling_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val (b1, b2) = evs.splitAt(6)
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      val got = spark.table("rolling_out").collect()
        .map(r => (r.getAs[Long]("entity"), r.getAs[Long]("ts_us")) ->
          ((r.getAs[Long]("n_1h"), r.getAs[Double]("sum_1h"),
            r.getAs[Long]("n_24h"), r.getAs[Double]("sum_24h")))).toMap
      val want = graft.operators.FeatureStore
        .rollingFeatures(
          evs.toDS().toDF().withColumnRenamed("entity", "user_id"),
          "user_id", "ts", "etype", "value", "purchase", "click",
          Seq("1h" -> 3600000000L, "24h" -> 86400000000L))
        .collect()
        .map(r => (r.getAs[Long]("entity"), r.getAs[Long]("ts_us")) ->
          ((r.getAs[Long]("n_1h"), r.getAs[Double]("sum_1h"),
            r.getAs[Long]("n_24h"), r.getAs[Double]("sum_24h")))).toMap
      assert(got == want)
      assert(got.size == 3)
    } finally query.stop()
  }

  test("enrichStream: stream-static left join keeps dim misses, broadcast dim") {
    import org.apache.spark.sql.functions._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    val input = MemoryStream[(Long, Double)](spark)
    val enriched = StreamingFeatures.enrichStream(
      input.toDS().toDF("user_id", "value"), dim, "user_id", "cust_id")
    val query = enriched
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData((1L, 10.0), (3L, 30.0)) // 3 has no dim row
      query.processAllAvailable()
      input.addData((2L, 20.0))
      query.processAllAvailable()
      val got = spark.table("enrich_out").collect()
        .map(r => r.getAs[Long]("user_id") -> Option(r.getAs[String]("tier"))).toMap
      assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
    } finally query.stop()
  }

  test("lateEventsBatch parity: predicted drops match Structured Streaming's actual drops") {
    import org.apache.spark.sql.functions._
    // per-event micro-batches so the engine's watermark advances
    // exactly like the replay's running max; 1-minute windows,
    // 2-minute allowed delay, margins clear of the <=/< boundary
    val arrivals = Seq(
      (1L, "2024-01-01 10:00:30"), // on time
      (2L, "2024-01-01 10:10:30"), // advances watermark to 10:08:30
      (3L, "2024-01-01 10:05:00"), // window end 10:06 <= wm -> DROPPED
      (4L, "2024-01-01 10:08:45"), // late but window end 10:09 > wm -> kept
      (5L, "2024-01-01 10:09:59")  // window end 10:10 > wm -> kept
    )
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val query = StreamingFeatures
      .windowedCountsStream(
        input.toDF().toDF("ts", "event_type", "value"),
        watermark = "2 minutes", windowLen = "1 minute")
      .writeStream.format("memory").queryName("wm_parity")
      .outputMode(OutputMode.Update()).start()
    try {
      arrivals.foreach { case (_, s) =>
        input.addData((ts(s), "e", 1.0)); query.processAllAvailable()
      }
      val streamed = spark.table("wm_parity").collect()
        .groupBy(_.getAs[Timestamp]("win_start"))
        .view.mapValues(_.map(_.getAs[Long]("n")).max).toMap
      // the engine dropped exactly event 3's window contribution
      assert(!streamed.contains(ts("2024-01-01 10:05:00")))
      assert(streamed(ts("2024-01-01 10:00:00")) == 1L)
      assert(streamed(ts("2024-01-01 10:08:00")) == 1L)
      assert(streamed(ts("2024-01-01 10:09:00")) == 1L)
      assert(streamed(ts("2024-01-01 10:10:00")) == 1L)
      // and the batch replay predicts the same single drop from wm_us:
      // droppable iff the event's 1-min window end <= its watermark
      val replay = StreamingFeatures
        .lateEventsBatch(
          arrivals.toDF("event_id", "s")
            .select(col("event_id"), col("s").cast("timestamp").as("ts"),
              col("event_id").as("arrival")),
          "event_id", "ts", "arrival", delayMinutes = 2L)
        .collect()
        .map { r =>
          val tsUs = r.getAs[Long]("ts_us")
          val winEndUs = (tsUs / 60000000L + 1L) * 60000000L
          val wm = Option(r.getAs[Any]("wm_us")).map(_.asInstanceOf[Long])
          r.getAs[Long]("event_id") -> wm.exists(winEndUs <= _)
        }.toMap
      assert(replay == Map(1L -> false, 2L -> false, 3L -> true, 4L -> false, 5L -> false))
    } finally query.stop()
  }

  test("lateEventsBatch replays the watermark drop rule over arrival order") {
    import org.apache.spark.sql.functions._
    // arrival column dictates replay order; event time zig-zags.
    // watermark delay = 1 minute.
    val rows = Seq(
      // (event_id, ts, arrival)
      (1L, "2024-01-01 00:00:00", 1L), // first arrival: no watermark yet
      (2L, "2024-01-01 00:10:00", 2L), // advances max to 00:10
      (3L, "2024-01-01 00:09:30", 3L), // 30s behind max: within delay, kept
      (4L, "2024-01-01 00:05:00", 4L), // 5min behind max: dropped
      (5L, "2024-01-01 00:09:00", 5L)  // exactly 60s behind: not < wm, kept
    ).toDF("event_id", "s", "arrival")
      .select(col("event_id"), col("s").cast("timestamp").as("ts"), col("arrival"))
    val out = StreamingFeatures
      .lateEventsBatch(rows, "event_id", "ts", "arrival", delayMinutes = 1L)
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((Option(r.getAs[Any]("wm_us")), r.getAs[Int]("is_late"))))
      .toMap
    assert(out(1L)._1.isEmpty && out(1L)._2 == 0) // no watermark before first arrival
    assert(out(2L)._2 == 0 && out(3L)._2 == 0)
    assert(out(4L)._2 == 1)
    assert(out(5L)._2 == 0) // boundary: ts == wm is NOT late
  }

  test("lateEventsBatch hex-key path: many explicit buckets reproduce the naive replay") {
    import org.apache.spark.sql.functions._
    // the registered query's shape: arrival = md5 hex of the id. Force
    // one row per bucket so every prefix hand-off is exercised.
    spark.conf.set("graft.stream.lateTargetPartitionRows", "1")
    try {
      val n = 40
      val rnd = new scala.util.Random(8271)
      val rows = (1L to n).map(i => (i, rnd.nextInt(100000).toLong))
      val df = rows.toDF("event_id", "secs")
        .select(col("event_id"), col("secs").cast("timestamp").as("ts"),
          md5(col("event_id").cast("string")).as("arrival"))
        .repartition(3)
      val out = StreamingFeatures
        .lateEventsBatch(df, "event_id", "ts", "arrival", delayMinutes = 5L)
        .collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("is_late")).toMap
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(i: Long) =
        md.digest(i.toString.getBytes).map("%02x".format(_)).mkString
      var hi = Long.MinValue
      val naive = rows.sortBy(r => hex(r._1)).map { case (id, s) =>
        val tsUs = s * 1000000L
        val late = if (hi != Long.MinValue && tsUs < hi - 300000000L) 1 else 0
        hi = math.max(hi, tsUs)
        id -> late
      }.toMap
      assert(out == naive)
    } finally spark.conf.unset("graft.stream.lateTargetPartitionRows")
  }

  test("lateEventsBatch guard: hex-contract violations fail with the contract message") {
    import org.apache.spark.sql.functions._
    // The per-row validation (length >= 8 + lowercase-hex alphabet)
    // NULLs the bucket for violating keys, so the stats pass raises the
    // contract error — conv() alone would parse these to "0" and
    // silently fold them into bucket 0 (collapsing the window pass to
    // one task for short fixed-width keys, or corrupting order for
    // mixed-width ones).
    def expectContractError(keys: Seq[String]): Unit = {
      val df = keys.zipWithIndex
        .map { case (k, i) => (i.toLong, i.toLong, k) }
        .toDF("event_id", "secs", "arrival")
        .select(col("event_id"), col("secs").cast("timestamp").as("ts"), col("arrival"))
      val e = intercept[IllegalArgumentException] {
        StreamingFeatures.lateEventsBatch(df, "event_id", "ts", "arrival", 1L).collect()
      }
      assert(e.getMessage.contains("fixed-width lowercase hex"), s"keys=$keys: $e")
    }
    expectContractError(Seq("a", "4f000000"))      // width-1 hex: short keys
    expectContractError(Seq("beef", "4f00"))       // width-4 hex: would all bucket to 0
    expectContractError(Seq("4F00000000", "aa00000000")) // uppercase
    expectContractError(Seq("not-hex-at-all", "4f000000ff")) // garbage
    expectContractError(Seq(null, "4f000000ff"))   // null key
  }

  test("lateEventsBatch guard: all-null numeric keys raise the key contract, not an NPE") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 0L), (2L, 10L))
      .toDF("event_id", "secs")
      .select(col("event_id"), col("secs").cast("timestamp").as("ts"),
        lit(null).cast("long").as("arrival"))
    val e = intercept[IllegalArgumentException] {
      StreamingFeatures.lateEventsBatch(df, "event_id", "ts", "arrival", 1L).collect()
    }
    assert(e.getMessage.contains("arrival keys must be non-null"), e.getMessage)
  }
}
