package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  /** Each test's own scratch dir, deleted after it. */
  private var tmp: String = _
  override def withFixture(test: NoArgTest): Outcome =
    TempDirs.withTempDir("graft_sources") { dir => tmp = dir; super.withFixture(test) }

  test("csv and json round-trip with explicit schemas") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    df.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    df.write.mode("overwrite").json(s"$tmp/json")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val fromCsv = Tables.registerPrimary(spark, "t_csv", s"$tmp/csv", "csv", Some(schema))
    val fromJson = Tables.registerPrimary(spark, "t_json", s"$tmp/json", "json", Some(schema))
    assert(fromCsv.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    assert(fromJson.select("id", "name", "score").orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    // registered as a SQL-visible source (featureform primary-table analog)
    assert(spark.sql("SELECT count(*) FROM t_csv").head().getLong(0) == 2L)
  }

  test("orc round-trips through registerPrimary") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    df.write.mode("overwrite").orc(s"$tmp/orc")
    val back = Tables.registerPrimary(spark, "t_orc", s"$tmp/orc", "orc")
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    assert(spark.sql("SELECT count(*) FROM t_orc").head().getLong(0) == 2L)
  }

  test("schema validation rejects mistyped sources") {
    Seq((1L, "a")).toDF("id", "name").write.mode("overwrite").parquet(s"$tmp/pq")
    val bad = StructType(Seq(StructField("id", StringType)))
    val ex = intercept[IllegalArgumentException] {
      Tables.registerPrimary(spark, "t_bad", s"$tmp/pq", "parquet", Some(bad))
    }
    assert(ex.getMessage.contains("schema mismatch"))
  }

  test("partitioned parquet writes prune on the partition column") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "part")
    Tables.writePartitioned(df, s"$tmp/part", Seq("part"))
    val back = spark.read.parquet(s"$tmp/part").where($"part" === "a")
    assert(back.count() == 2)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || back.inputFiles.forall(_.contains("part=a")))
  }

  test("bucketed tables join and aggregate on the bucket key with no exchange") {
    val a = (0L until 200L).map(i => (i % 40, i)).toDF("k", "va")
    val b = (0L until 40L).map(i => (i, s"name$i")).toDF("k", "name")
    Tables.writeBucketed(a, "t_bkt_a", Seq("k"), 4)
    Tables.writeBucketed(b, "t_bkt_b", Seq("k"), 4)
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("t_bkt_a").join(spark.table("t_bkt_b"), "k")
        .groupBy("k").count()
      assert(j.count() == 40L)
      val plan = j.queryExecution.executedPlan.toString
      // bucketed layout: the join AND the bucket-key aggregation reuse
      // the write-time partitioning — zero runtime shuffles
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("space lifecycle: freeze appends immutable versions, load pins, delete removes") {
    import graft.sources.Spaces
    val root = s"$tmp/spaces"
    Spaces.delete(spark, root, "s1")
    assert(Spaces.versions(spark, root, "s1").isEmpty)
    val v1 = Spaces.freeze(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "s1")
    val v2 = Spaces.freeze(Seq((1L, "a2")).toDF("k", "v"), root, "s1")
    assert((v1, v2) == ((1, 2)) && Spaces.versions(spark, root, "s1") == Seq(1, 2))
    // pinned read returns the frozen snapshot, not the latest
    assert(Spaces.load(spark, root, "s1", Some(1)).count() == 2)
    assert(Spaces.load(spark, root, "s1").count() == 1) // latest = v2
    // versions are immutable: re-freezing never rewrites an existing one
    val before = Spaces.load(spark, root, "s1", Some(1)).orderBy("k").collect().toSeq
    Spaces.freeze(Seq((9L, "z")).toDF("k", "v"), root, "s1")
    assert(Spaces.load(spark, root, "s1", Some(1)).orderBy("k").collect().toSeq == before)
    Spaces.delete(spark, root, "s1")
    assert(Spaces.versions(spark, root, "s1").isEmpty)
  }

  test("events ts normalizes from BOTH corpus generations: nanos-long and micros-timestamp") {
    // The driver has shipped events.ts two ways across corpus
    // generations: parquet TIMESTAMP(NANOS) (which Spark surfaces as a
    // raw nanos LONG under nanosAsLong) and TIMESTAMP(MICROS)
    // (surfaced as TIMESTAMP_NTZ for isAdjustedToUTC=false writer
    // metadata). Tables.load must normalize either physical type to
    // the same plain TIMESTAMP wall-clock values — a schema change
    // under the engine must never break 39 queries again.
    val instants = Seq("2024-01-01 00:00:00", "2024-06-15 12:34:56.789012")
    val micros = instants.map(java.sql.Timestamp.valueOf).map { t =>
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    }

    // Generation A: nanos stored as a LONG column (what the legacy
    // nanosAsLong read of a TIMESTAMP(NANOS) file yields).
    micros.map(u => (1L, u * 1000L)).toDF("user_id", "ts")
      .write.mode("overwrite").parquet(s"$tmp/ev_nanos/events.parquet")

    // Generation B: TIMESTAMP_NTZ — parquet TIMESTAMP(MICROS,
    // isAdjustedToUTC=false), the current driver corpus.
    micros.map(u => (1L, u)).toDF("user_id", "us")
      .select($"user_id",
        org.apache.spark.sql.functions.timestamp_micros($"us")
          .cast(TimestampNTZType.catalogString).as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/ev_ntz/events.parquet")
    assert(spark.read.parquet(s"$tmp/ev_ntz/events.parquet")
      .schema("ts").dataType == TimestampNTZType)

    // Generation C: plain session-TZ TIMESTAMP(MICROS, adjustedToUTC).
    micros.map(u => (1L, u)).toDF("user_id", "us")
      .select($"user_id",
        org.apache.spark.sql.functions.timestamp_micros($"us").as("ts"))
      .write.mode("overwrite").parquet(s"$tmp/ev_ts/events.parquet")

    def loaded(dir: String): Seq[Long] =
      Tables.load(spark, dir, "events")
        .select(org.apache.spark.sql.functions.unix_micros($"ts").as("us"))
        .orderBy("us").collect().map(_.getLong(0)).toSeq

    val a = loaded(s"$tmp/ev_nanos")
    val b = loaded(s"$tmp/ev_ntz")
    val c = loaded(s"$tmp/ev_ts")
    assert(a == micros.sorted, "nanos-long generation mis-normalized")
    assert(b == micros.sorted, "micros-NTZ generation mis-normalized")
    assert(c == micros.sorted, "micros-LTZ generation mis-normalized")
    // and the normalized type is always a plain TIMESTAMP
    for (d <- Seq(s"$tmp/ev_nanos", s"$tmp/ev_ntz", s"$tmp/ev_ts"))
      assert(Tables.load(spark, d, "events").schema("ts").dataType == TimestampType)
  }

  test("embeddings/documents drift guards normalize regenerated physical types") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}
    // a regenerated embeddings file with list<double> vectors + int64 labels
    Seq((1L, Seq(0.5d, -1.25d), 7L))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/emb_drift/embeddings.parquet")
    val emb = Tables.load(spark, s"$tmp/emb_drift", "embeddings")
    assert(emb.schema("embedding").dataType == ArrayType(FloatType, containsNull = true))
    assert(emb.schema("label").dataType == IntegerType)
    assert(emb.select(col("embedding")).head.getSeq[Float](0) == Seq(0.5f, -1.25f))
    // a regenerated documents file with int32 n_chars
    Seq((1L, "hi", "en", "src0", 2))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/doc_drift/documents.parquet")
    val docs = Tables.load(spark, s"$tmp/doc_drift", "documents")
    assert(docs.schema("n_chars").dataType == LongType)
    // the real corpus passes through the guards unchanged
    val real = Tables.load(spark, GraftTestSession.Sf0001, "embeddings")
    assert(real.schema("embedding").dataType == ArrayType(FloatType, containsNull = true))
  }

  test("Spaces.diff: added/removed/changed/same, with exact array compare") {
    import graft.sources.Spaces
    val v1 = Seq(
      (1L, Array(1.0f, 2.0f), 10), (2L, Array(3.0f, 4.0f), 20),
      (3L, Array(5.0f, 6.0f), 30)).toDF("k", "vec", "lab")
    val v2 = Seq(
      (2L, Array(3.0f, 4.0f), 20),   // same
      (3L, Array(5.0f, 6.5f), 30),   // vector changed
      (4L, Array(7.0f, 8.0f), 40))   // added
    .toDF("k", "vec", "lab")
    val out = Spaces.diff(v1, v2, "k", Seq("vec", "lab"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("status")).toMap
    assert(out == Map(1L -> "removed", 2L -> "same", 3L -> "changed", 4L -> "added"))
  }

  test("dynamic partition pruning: a selective dim filter prunes the partitioned fact at runtime") {
    import org.apache.spark.sql.functions._
    // date-partitioned fact + tiny dim carrying the date: the filter
    // sits on the DIM, so static pruning can't help — only DPP can
    // narrow the fact scan, via a runtime subquery on the join key.
    // This is the star-join lever at 100 TB (TPC-DS-style plans).
    val ev = Tables.load(spark, GraftTestSession.Sf0001, "events")
      .withColumn("event_date", to_date(col("ts")))
    Tables.writePartitioned(ev, s"$tmp/dpp_events", Seq("event_date"))
    val fact = spark.read.parquet(s"$tmp/dpp_events")
    val dim = spark.range(30)
      .select(
        date_add(lit("2024-01-01").cast("date"), col("id").cast("int"))
          .as("event_date"),
        (col("id") % 7 === 0).as("is_campaign_day"))
    val joined = fact
      .join(dim, Seq("event_date"))
      .where(col("is_campaign_day"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val n = joined.collect().map(r => r.getAs[Long]("n")).sum
    // semantically right...
    val expected = ev
      .where(dayofmonth(col("event_date")) % 7 === 1) // ids 0,7,14,21,28 -> days 1,8,15,22,29
      .count()
    assert(n == expected && n > 0)
    // ...and the fact scan carries a runtime pruning filter on the
    // partition column (the DPP subquery), visible in the final plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(
      plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"no dynamic pruning in:\n${plan.take(4000)}")
  }

  test("writePartitioned: date filter prunes to one partition directory at planning time") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, GraftTestSession.Sf0001, "events")
      .withColumn("event_date", to_date(col("ts")))
    Tables.writePartitioned(ev, s"$tmp/part_events", Seq("event_date"))
    val back = spark.read.parquet(s"$tmp/part_events")
      .where(col("event_date") === lit("2024-01-10").cast("date"))
    // the predicate must resolve against directory names, not row data
    val scan = back.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.toString.contains("event_date")))
    assert(scan.relation.location.inputFiles.length > 1) // table HAS many partitions
    assert(scan.selectedPartitions.partitionCount == 1)  // ... scan reads exactly one
    // and the pruned read returns exactly the filtered rows
    val expected = ev.where(to_date(col("ts")) === lit("2024-01-10").cast("date")).count()
    assert(back.count() == expected && expected > 0)
  }

  test("jdbc round-trip (embedded Derby): rows survive, parallel partitioned scan, pushdown") {
    val url = s"jdbc:derby:$tmp/derby_spec;create=true"
    val df = Seq(
      (1L, "alpha", 10, 1.5), (2L, "beta", 10, 2.5),
      (3L, "gamma", 20, 3.5), (4L, "delta", 20, 4.5),
      (5L, "epsln", 30, 5.5)).toDF("id", "name", "grp", "score")
    Tables.writeJdbc(df, url, "t_jdbc")
    // plain (1-connection) read: exact row round-trip
    val back = Tables.registerJdbc(spark, "t_jdbc_v", url, "t_jdbc")
    assert(back.orderBy("id").collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("name"),
         r.getAs[Int]("grp"), r.getAs[Double]("score"))).toSeq ==
      df.orderBy("id").collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("name"),
         r.getAs[Int]("grp"), r.getAs[Double]("score"))).toSeq)
    // partitioned read: 4 range-predicated connections
    val par = Tables.registerJdbc(
      spark, "t_jdbc_p", url, "t_jdbc",
      partitionCol = Some("id"), lowerBound = 1L, upperBound = 6L, numPartitions = 4)
    assert(par.rdd.getNumPartitions == 4, "partitioned JDBC scan must fan out")
    assert(par.count() == 5, "stripes cover every row exactly once")
    // predicate pushdown: the filter reaches the remote as PushedFilters
    val plan = par.where(col("grp") === 20).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("grp"),
      s"filter must push to the JDBC source:\n$plan")
    // overwrite mode really replaces
    Tables.writeJdbc(df.where(col("grp") === 10), url, "t_jdbc")
    assert(Tables.registerJdbc(spark, "t_jdbc_v2", url, "t_jdbc").count() == 2)
  }

  test("jdbc fact-table contract: single-connection reads are capped by a remote COUNT") {
    val url = s"jdbc:derby:$tmp/derby_contract;create=true"
    val df = (1L to 50L).map(i => (i, s"row$i")).toDF("id", "payload")
    Tables.writeJdbc(df, url, "t_facts")
    // under the threshold: a plain dimension-sized read is allowed
    assert(Tables.registerJdbc(
      spark, "t_facts_ok", url, "t_facts",
      maxSingleConnectionRows = 50L).count() == 50)
    // over the threshold with no partitionCol: fail fast with the recipe
    val e = intercept[IllegalArgumentException] {
      Tables.registerJdbc(
        spark, "t_facts_serial", url, "t_facts",
        maxSingleConnectionRows = 49L)
    }
    assert(e.getMessage.contains("partitionCol"),
      s"error must teach the parallel-scan recipe: ${e.getMessage}")
    // same table over the threshold WITH partitioning: allowed (the
    // contract is about serialized scans, not table size)
    assert(Tables.registerJdbc(
      spark, "t_facts_par", url, "t_facts",
      partitionCol = Some("id"), lowerBound = 1L, upperBound = 51L,
      numPartitions = 4, maxSingleConnectionRows = 49L).count() == 50)
  }

  test("registerStream seam: file transport runs; kafka transport is wired to Spark's loader") {
    import org.apache.spark.sql.types._
    val inDir = s"$tmp/stream_seam_in"
    new java.io.File(inDir).mkdirs()
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/a.json"),
      """{"k": 1, "v": "x"}""" + "\n" + """{"k": 2, "v": "y"}""")
    val stream = Tables.registerStream(spark, "seam_stream",
      Tables.StreamSource.Files(inDir, "json", schema))
    assert(stream.isStreaming, "Files source must open a streaming relation")
    val outTable = "seam_stream_out"
    val q = stream.groupBy(col("v")).count()
      .writeStream.format("memory").queryName(outTable)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(outTable).count() == 2)
    // Kafka: /opt/spark/jars ships no spark-sql-kafka, so resolution
    // must fail AT SPARK'S SOURCE LOOKUP naming the format — proving
    // the seam builds the standard kafka reader (the documented
    // one-line swap on a real deployment), not a silent stub.
    val e = intercept[Exception] {
      Tables.registerStream(spark, "seam_kafka",
        Tables.StreamSource.Kafka("broker:9092", "events"))
    }
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"kafka case must reach Spark's DataSource loader: ${e.getMessage}")
  }
}
