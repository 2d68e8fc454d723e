package graft

import graft.operators.Pins.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions
import graft.operators._
import graft.sources.{Lakehouse, Tables}
import graft.streaming.StreamingFeatures

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Numeric-exactness conventions (so every SQL-expressible operator is
  * a *hash*-matchable oracle, not a tolerance compare):
  *  - money/metric sums run in DECIMAL (exact, order-independent) and
  *    are emitted as `CAST(dec AS DOUBLE)` — both engines cast the same
  *    exact decimal, giving bit-identical doubles with no rounding;
  *  - averages are emitted as sum-decimal-double / count (same rule);
  *  - genuinely floating results (cosine, norms) are rounded to 6dp and
  *    the oracle recomputes them with the same double-precision
  *    accumulation order;
  *  - timestamps are emitted as unix microseconds (BIGINT).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def decSumD(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")
  private def decSum6D(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** Deterministic 1/256 keyed sample of a verified-pair stream (a, b,
    * ...): keep pairs whose md5(a:b) 16-bit prefix ≡ 0 (mod 256).
    * Engine-portable (md5 + integer mod), scale-invariant, and keyed
    * on the pair itself so both engines slice identically — the gate
    * form for generated corpora where the full pair dump is
    * impractical (sf10 containment is ~360 M rows).
    */
  private def pairSample(pairs: DataFrame): DataFrame = {
    // Native kernel (graft.plans.PairSampleMatch) — bit-identical to
    //   conv(substring(md5(concat(cast(a as string), ':',
    //                             cast(b as string))), 1, 4), 16, 10)
    //     .cast("int") % 256 === 0
    // (the predicate tests the SECOND md5 digest byte of "<a>:<b>").
    // The optimizer pushes this filter into the candidate bucket-join
    // condition — once per candidate INSTANCE, not per verified pair —
    // so the declarative form's per-row MessageDigest + hex + conv
    // allocations were the single hottest expression of the bench
    // (r12 stall dumps: >40 CPU-min in NumberConverter/md5Hex when the
    // per-query codegen ran de-optimized). See PairSampleExpression.
    pairs.where(TextFunctions.pairSampleMatch(col("a").cast("long"), col("b").cast("long")))
  }

  private val jaccardWordsOracleSql: String = """
      WITH w AS (
        SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS word,
               len(list_distinct(string_split(text, ' '))) AS nw
        FROM documents),
      i AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter,
               any_value(a.nw) AS nwa, any_value(b.nw) AS nwb
        FROM w a JOIN w b ON a.word = b.word AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT a, b, round(inter / (nwa + nwb - inter), 6) AS jaccard
      FROM i WHERE round(inter / (nwa + nwb - inter), 6) >= 0.9"""

  private val containmentOracleSql: String = """
      WITH w AS (
        SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS word,
               len(list_distinct(string_split(text, ' '))) AS nw
        FROM documents),
      i AS (
        SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS inter,
               any_value(a.nw) AS nwa
        FROM w a JOIN w b ON a.word = b.word AND a.lang = b.lang AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT a, b, inter, CAST(inter AS DOUBLE) / nwa AS containment
      FROM i WHERE CAST(inter AS DOUBLE) / nwa >= 0.8"""

  /** The DuckDB transcription of [[pairSample]]'s filter. */
  private def pairSampleSql(sql: String): String =
    s"""SELECT * FROM ($sql)
      WHERE ('0x' || substr(md5(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 4))::INT % 256 = 0"""

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(
      Tables.load(spark, "/root/testdata/sf0.001", "lineitem"))

  // ---------------------------------------------------------------- //
  // Feature-store core                                               //
  // ---------------------------------------------------------------- //

  private def materializedLatest(s: SparkSession, dir: String): DataFrame =
    FeatureStore.materializeLatest(t(s, dir, "events"), "user_id", "value", "ts", "event_id")

  private def pitTrainingSet(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    FeatureStore
      .trainingSet(
        ev.where(col("event_type") === "purchase"),
        "user_id", "value", "ts", "event_id",
        Seq(
          FeatureStore.FeatureDef(
            "f_click", ev.where(col("event_type") === "click"), "user_id", "value", "ts"),
          FeatureStore.FeatureDef(
            "f_view", ev.where(col("event_type") === "view"), "user_id", "value", "ts")))
      .select(
        col("entity"), unix_micros(col("ts")).as("label_ts_us"), col("label"),
        col("f_click"), col("f_view"))
  }

  private def fsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fs_materialize_latest" -> ((s, dir) =>
      materializedLatest(s, dir)
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us"))),
    "fs_materialize_range" -> ((s, dir) =>
      FeatureStore
        .materializeRange(
          materializedLatest(s, dir)
            .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
          20, 70)),
    // Paged export (IterateSegment, provider/offline.go:592): every
    // 40-row page of the materialization, tagged with its page index —
    // iterating all pages IS the full materialization, oracle-checked.
    // Full paged export in a FIXED 32 shards (page size scales with
    // the data): page count — and the union-plan size this query
    // builds for the oracle — is constant at any SF. A fixed page
    // SIZE here measured alpha=1.2 at 10x (375 unioned subtrees).
    "fs_materialize_paged" -> ((s, dir) => {
      val (psize, pages) = FeatureStore.pagedMaterializationFixedPages(
        materializedLatest(s, dir)
          .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
        nPages = 32)
      pages
        .map { case (start, _, page) => page.withColumn("page", lit(start / psize)) }
        .reduce(_ unionByName _)
    }),
    "fs_training_set_pit" -> ((s, dir) => pitTrainingSet(s, dir)),
    // Cross-store enrichment: the PIT training set joined with the
    // entity's embedding (feature store ⨝ embedding store — the
    // two-system handoff a reference user does by hand). Coverage is
    // explicit (has_embedding), vector summarized as a micro-unit L2
    // norm via the native dot kernel.
    "fs_training_set_embedded" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("entity"), col("embedding"))
      pitTrainingSet(s, dir)
        .join(emb, Seq("entity"), "left")
        .select(
          col("entity"), col("label_ts_us"), col("label"),
          col("f_click"), col("f_view"),
          col("embedding").isNotNull.as("has_embedding"),
          floor(sqrt(VectorFunctions.dotNative(col("embedding"), col("embedding")))
            * lit(1000000.0)).cast("long").as("norm_micro"))
    }),
    // Paged training-set export — the served GetTrainingSet iterator
    // (provider/offline.go:551): same one-shuffle shared numbering as
    // fs_materialize_paged, ordered by the total (entity, label_ts)
    // key since entities repeat across label rows.
    "fs_training_set_paged" -> ((s, dir) => {
      val (psize, pages) = FeatureStore.pagedMaterializationFixedPages(
        pitTrainingSet(s, dir), nPages = 32,
        orderCols = Seq("entity", "label_ts_us"))
      pages
        .map { case (start, _, page) => page.withColumn("page", lit(start / psize)) }
        .reduce(_ unionByName _)
    }),
    "fs_training_set_lag" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      FeatureStore
        .trainingSet(
          ev.where(col("event_type") === "purchase"),
          "user_id", "value", "ts", "event_id",
          Seq(
            FeatureStore.FeatureDef(
              "f_click_lag1h", ev.where(col("event_type") === "click"),
              "user_id", "value", "ts", lag = Some(expr("INTERVAL 1 HOUR")))))
        .select(
          col("entity"), unix_micros(col("ts")).as("label_ts_us"), col("label"),
          col("f_click_lag1h"))
    }),
    "fs_batch_features" -> ((s, dir) =>
      FeatureStore.batchFeatures(
        t(s, dir, "events"), "user_id", "event_type", "value", "ts", "event_id",
        Seq("click", "view", "purchase", "signup", "error"))
        .withColumnRenamed("user_id", "entity")),
    "fs_transform_sql" -> ((s, dir) => {
      Tables.registerPrimary(s, "orders", s"$dir/orders.parquet")
      Tables.registerPrimary(s, "customer", s"$dir/customer.parquet")
      s.sql("""
        SELECT c_mktsegment,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment""")
    }),
    "fs_transform_chain" -> ((s, dir) => {
      // src -> t1 (filter+project) -> t2 (aggregate): featureform's
      // chained-transformation DAG as one Catalyst plan.
      val t1 = t(s, dir, "events")
        .where(col("event_type") === "purchase" && col("value") > 50)
        .select(col("user_id"), col("value"))
      t1.groupBy(col("user_id").as("entity"))
        .agg(
          count(lit(1)).as("n_big"),
          decSum6D(col("value")).as("total_big"),
          max(col("value")).as("max_big"))
    }),
    "fs_split_train_test" -> ((s, dir) =>
      FeatureStore
        .trainTestSplit(materializedLatest(s, dir), "entity", 0.25)
        .select(col("entity"), col("split"))),
    // TrainTestSplitDef parity: seeded deterministic "shuffle" split
    // (TestSize=0.25, RandomState=42).
    "fs_split_shuffled" -> ((s, dir) =>
      FeatureStore
        .trainTestSplitShuffled(materializedLatest(s, dir), "entity", 0.25, seed = 42L)
        .select(col("entity"), col("split"))),
    // UpdateTrainingSet parity: build the training set from the first
    // half of the stream, then refresh with the second half touching
    // only delta entities — must equal the full PIT recompute (the
    // oracle).
    "fs_training_set_update" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val old = ev.where(col("ts") <= cut)
      val delta = ev.where(col("ts") > cut)
      def feats(src: DataFrame) = Seq(
        FeatureStore.FeatureDef(
          "f_click", src.where(col("event_type") === "click"), "user_id", "value", "ts"),
        FeatureStore.FeatureDef(
          "f_view", src.where(col("event_type") === "view"), "user_id", "value", "ts"))
      val previous = FeatureStore.trainingSet(
        old.where(col("event_type") === "purchase"),
        "user_id", "value", "ts", "event_id", feats(old))
      FeatureStore
        .updateTrainingSet(
          previous,
          ev.where(col("event_type") === "purchase"),
          "user_id", "value", "ts", "event_id",
          feats(ev), delta, "user_id")
        .select(
          col("entity"), unix_micros(col("ts")).as("label_ts_us"), col("label"),
          col("f_click"), col("f_view"))
    }),
    "fs_feature_stats" -> ((s, dir) =>
      FeatureStore.featureStats(t(s, dir, "events"), "event_type", "value", "user_id")),
    // Distribution-drift monitor: PSI of each feature's value
    // distribution, first half of the stream (reference) vs second.
    "fs_feature_drift" -> ((s, dir) =>
      FeatureStore.featureDrift(
        t(s, dir, "events"), "event_type", "value", "ts", "2024-01-15 00:00:00")),
    // Tolerance as-of join (merge_asof backward + tolerance): each
    // purchase gets the user's most recent click VALUE, but only if
    // that click is at most 2 hours old — stale matches null out.
    "fs_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      FeatureStore.asofJoin(
        ev.where(col("event_type") === "purchase"), "user_id", "ts", "event_id",
        ev.where(col("event_type") === "click"), "user_id", "value", "ts", "event_id",
        toleranceUs = Some(2L * 3600L * 1000000L))
    }),
    // Nearest-direction as-of join (merge_asof direction='nearest'):
    // each purchase pairs with the user's time-closest click, either
    // direction, ties backward.
    "q_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      FeatureStore.asofNearest(
        ev.where(col("event_type") === "purchase"), "user_id", "ts", "event_id",
        ev.where(col("event_type") === "click"), "user_id", "value", "ts", "event_id")
    }),
    // Robust median/MAD outlier gate (Iglewicz–Hoaglin modified
    // z-score, |Mz| > 3.5) — the heavy-tail companion of the z-gate.
    "fs_outlier_mad" -> ((s, dir) =>
      FeatureStore.outliersMad(
        t(s, dir, "events"), "event_type", "value", "event_id", cutoff = 3.5)),
    // Time-series volume anomalies: robust (median/MAD) z over DAILY
    // event counts per type — the pipeline-incident detector ("clicks
    // dropped by half on Tuesday"), composing the MAD gate over a
    // date-trunc rollup.
    "q_daily_anomaly" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
        .select(col("event_type"), unix_micros(col("day")).as("day_us"), col("n"))
      FeatureStore.outliersMad(daily, "event_type", "n", "day_us", cutoff = 1.5)
    }),
    // Pipeline-health monitor: per-feature last arrival, age vs a
    // reference instant, 6h-window volume, staleness verdict.
    "fs_freshness" -> ((s, dir) =>
      FeatureStore.featureFreshness(
        t(s, dir, "events"), "event_type", "ts", "2024-01-15 00:00:00",
        staleAfterUs = 6L * 3600L * 1000000L,
        recentWindowUs = 6L * 3600L * 1000000L)),
    // Materialized-aggregate maintenance: stored per-user (sum, n)
    // partials + the post-cut delta re-aggregate to exactly the full
    // recompute (mergeable decimal partials — incremental ETL's core
    // invariant, which is precisely what the oracle computes).
    "fs_agg_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      FeatureStore
        .mergeSumAggregate(
          FeatureStore.sumAggregate(ev.where(col("ts") <= cut), "user_id", "value"),
          ev.where(col("ts") > cut), "user_id", "value")
        .select(col("entity"), col("total_dec").cast("double").as("total"), col("n"))
    }),
    // PIT leakage audit: a deliberately naive latest-value join (leaks
    // future clicks into purchase labels) next to the time-correct PIT
    // join — the audit must show n_leaks > 0 for the former and = 0
    // for the latter, quantifying why PIT correctness matters.
    "fs_leakage_audit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val labels = ev.where(col("event_type") === "purchase").select(
        col("user_id").as("entity"),
        unix_micros(col("ts")).as("label_ts_us"),
        col("event_id"))
      val clicks = ev.where(col("event_type") === "click").select(
        col("user_id").as("entity"),
        unix_micros(col("ts")).as("f_ts_us"),
        col("event_id").as("f_event_id"))
      val wLatest = Window.partitionBy(col("entity"))
        .orderBy(col("f_ts_us").desc, col("f_event_id").desc)
      val latest = clicks
        .withColumn("rn", row_number().over(wLatest)).where(col("rn") === 1)
        .select(col("entity"), col("f_ts_us"))
      val naive = labels.join(latest, "entity")
        .select(lit("naive_latest").as("method"), col("label_ts_us"), col("f_ts_us"))
      val pit = labels.join(clicks, "entity")
        .where(col("f_ts_us") <= col("label_ts_us"))
        .groupBy(col("entity"), col("label_ts_us"), col("event_id"))
        .agg(max(col("f_ts_us")).as("f_ts_us"))
        .select(lit("pit").as("method"), col("label_ts_us"), col("f_ts_us"))
      FeatureStore.leakageAudit(
        naive.unionByName(pit), "method", "label_ts_us", "f_ts_us")
    }),
    // Incremental join-view maintenance: the stored orders⋈customer
    // view plus three delta joins must reproduce the full join exactly
    // (the oracle IS the full recompute — a strong equivalence gate).
    "fs_join_incremental" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val cut = lit("2000-01-01 00:00:00").cast("timestamp")
      val (oOld, dO) = (o.where(col("o_orderdate") <= cut), o.where(col("o_orderdate") > cut))
      val (cOld, dC) = (c.where(col("c_custkey") % 7 =!= 0), c.where(col("c_custkey") % 7 === 0))
      val cond = (a: DataFrame, b: DataFrame) => a("o_custkey") === b("c_custkey")
      val stored = oOld.join(cOld, cond(oOld, cOld))
      FeatureStore
        .mergeJoinView(stored, oOld, dO, cOld, dC, cond)
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("c_name"), col("c_acctbal"))
    }),
    // Leave-one-out target encoding of event_type by value — the
    // high-cardinality categorical encoder (no self-label leakage).
    "fs_target_encode" -> ((s, dir) =>
      FeatureStore.targetEncodeLoo(t(s, dir, "events"), "event_id", "event_type", "value")),
    // Row-level feature-quality gate: per-feature z-score outliers
    // (|z| > 3) from exact-decimal moments — ingest validation before
    // values reach materialization.
    "fs_outlier_values" -> ((s, dir) =>
      FeatureStore.featureOutliers(
        t(s, dir, "events"), "event_id", "event_type", "value", zThreshold = 3.0)),
    // Standard + min-max scaling from one exact-decimal moment pass.
    "fs_feature_scale" -> ((s, dir) =>
      FeatureStore.scaleFeatures(t(s, dir, "events"), "event_id", "event_type", "value")),
    // Equal-width + equal-frequency (decile) discretization.
    "fs_feature_bins" -> ((s, dir) =>
      FeatureStore.binFeatures(
        t(s, dir, "events"), "event_id", "event_type", "value", nBins = 10)),
    // Robust prep: clip each feature at its exact p05/p95 fences.
    "fs_winsorize" -> ((s, dir) =>
      FeatureStore.winsorize(
        t(s, dir, "events"), "event_id", "event_type", "value", lo = 0.05, hi = 0.95)),
    // Chronological 80/20 split — train on the past, test on the future.
    "fs_split_time" -> ((s, dir) =>
      FeatureStore
        .timeSplit(
          t(s, dir, "events").select(col("event_id"), col("ts")),
          Seq("ts", "event_id"), trainFraction = 0.8)
        .select(col("event_id"), col("split"))),
    // The hashing trick: vocabulary-free signed-hash featurization of
    // categorical columns into a fixed 64-dim sparse space (exact
    // integer weights — the whole featurization hash-matches).
    "fs_feature_hashing" -> ((s, dir) =>
      FeatureStore.featureHash(
        t(s, dir, "customer"), "c_custkey",
        Seq("seg" -> col("c_mktsegment"), "nat" -> col("c_nationkey")),
        dims = 64)),
    // Dense assembly of the hashed features (the VectorAssembler
    // step): fixed 64-wide integer vectors, emitted as a csv string +
    // summary stats (scalar columns keep the driver row-sort exact).
    "fs_feature_matrix" -> ((s, dir) => {
      val sparse = FeatureStore.featureHash(
        t(s, dir, "customer"), "c_custkey",
        Seq("seg" -> col("c_mktsegment"), "nat" -> col("c_nationkey")),
        dims = 64)
      FeatureStore.featureMatrix(sparse, dims = 64)
        .select(
          col("entity"),
          concat_ws(",", transform(col("features"), x => x.cast("string")))
            .as("features_csv"),
          aggregate(col("features"), lit(0L), (acc, x) => acc + abs(x)).as("l1"),
          aggregate(col("features"), lit(0L),
            (acc, x) => acc + when(x =!= 0L, 1L).otherwise(0L)).as("nnz"))
    }),
    // UpdateMaterialization parity: materialize the first half of the
    // stream, incrementally merge the second half — must equal the
    // full recompute (which is exactly what the oracle computes).
    "fs_materialize_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val existing = FeatureStore.materializeLatest(
        ev.where(col("ts") <= cut), "user_id", "value", "ts", "event_id")
      FeatureStore
        .materializeIncremental(
          existing, ev.where(col("ts") > cut), "user_id", "value", "ts", "event_id")
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us"))
    }),
    // Online-serving parity: the feature vector a store would serve at
    // time T == materialization over events with ts <= T.
    "fs_features_asof" -> ((s, dir) =>
      FeatureStore
        .materializeLatest(
          t(s, dir, "events").where(col("ts") <= lit("2024-01-15 00:00:00").cast("timestamp")),
          "user_id", "value", "ts", "event_id")
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us"))),
    // Declarative expectations gate over a raw source: one report row
    // per check; mixes passing and failing checks on purpose.
    "fs_data_contract" -> ((s, dir) =>
      FeatureStore.dataContract(
        t(s, dir, "events"),
        Seq(
          FeatureStore.ContractCheck.NotNull("value"),
          FeatureStore.ContractCheck.InRange("value", 0.0, 100.0),
          FeatureStore.ContractCheck.InSet(
            "event_type", Seq("click", "view", "purchase", "signup")),
          FeatureStore.ContractCheck.Unique("event_id"),
          FeatureStore.ContractCheck.Unique("user_id")))),
    // CDC merge: snapshot + Debezium-style changelog (op I/U/D, every
    // 7th event; op cycles by event_id so inserts/updates/deletes mix).
    "fs_cdc_apply" -> ((s, dir) => {
      val snap = materializedLatest(s, dir)
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us"))
      val chg = t(s, dir, "events")
        .where(col("event_id") % 7 === 0)
        .select(
          when(col("event_id") % 3 === 0, "U")
            .when(col("event_id") % 3 === 1, "I")
            .otherwise("D").as("op"),
          col("user_id").as("entity"),
          (col("value") * 2).as("value"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_id").as("seq"))
      FeatureStore.cdcApply(snap, chg)
    }),
    // Feature TTL at serving: the corpus-max ts is "now"; anything
    // materialized > 3 days before it reads as a miss (NULL), not a
    // stale hit. The 1-row serving-ts aggregate is broadcast.
    "fs_ttl_serving" -> ((s, dir) => {
      val serveTs = broadcast(t(s, dir, "events").agg(max(col("ts")).as("_serve_ts")))
      FeatureStore.serveWithTtl(
        materializedLatest(s, dir).crossJoin(serveTs),
        col("_serve_ts"), expr("INTERVAL 3 DAYS"))
    }),
    // On-demand features (featureform client-computed features):
    // purchase events are the serving requests; two materialized
    // features join on and the derived columns evaluate row-locally.
    // ratio is fixed-point micro-units (floor(x*1e6)) — engine-portable.
    "fs_ondemand_transform" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def latest(kind: String) = FeatureStore.materializeLatest(
        ev.where(col("event_type") === kind), "user_id", "value", "ts", "event_id")
      val requests = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("entity"),
          unix_micros(col("ts")).as("req_ts_us"), col("value").as("amount"))
      FeatureStore.onDemandServe(
        requests,
        Seq("f_click" -> latest("click"), "f_view" -> latest("view")),
        Seq(
          "engagement" -> (coalesce(col("f_click"), lit(0.0)) + coalesce(col("f_view"), lit(0.0))),
          "ratio_micro" -> floor(col("amount") / (coalesce(col("f_click"), lit(0.0)) + lit(1.0))
            * lit(1000000.0)).cast("long")))
    }),
    // Entity mapping before materialization (featureform
    // EntityMappings): alias ids (user_id%10==7) resolve to a
    // canonical anchor via a broadcast mapping TABLE; unmapped ids
    // pass through. Materialization then keys on canonical entities.
    "fs_entity_map" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val mapping = ev.select(col("user_id")).distinct()
        .where(col("user_id") % 10 === 7)
        .select(col("user_id").as("alias_id"), (col("user_id") - 7L).as("canonical_id"))
      FeatureStore.materializeLatest(
        FeatureStore.mapEntities(ev, "user_id", mapping, "alias_id", "canonical_id"),
        "user_id", "value", "ts", "event_id")
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us"))
    }),
    // Decile lift: users ranked by click spend (exact micro sums),
    // cut into 10 exact ntile groups, positive-rate / mean-score /
    // lift-vs-base-rate per decile — the score-monitoring table.
    "fs_decile_lift" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .groupBy(col("user_id").as("entity"))
        .agg(
          sum(when(col("event_type") === "click",
            floor(col("value") * 1000000.0).cast("long")).otherwise(0L))
            .as("score_micro"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("label"))
      FeatureStore.liftTable(per, k = 10)
    }),
    // Feature-selection screening: MI between per-user click count
    // (capped bin) and the purchased label, per-cell pico-nat terms.
    "fs_feature_importance_mi" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("label"))
      FeatureStore.mutualInformation(per, least(col("clicks"), lit(5L)), col("label"))
    }),
    // The production materialization loop end-to-end: day-1 events
    // materialize into an entity-clustered lakehouse table; day-2's
    // delta computes its per-entity winners AGAINST the current
    // snapshot (materializeIncremental) and MERGEs only the touched
    // entities — zone maps keep untouched files byte-identical. The
    // final table must equal a from-scratch materialization of ALL
    // events (the oracle).
    "fs_materialize_merge" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_fs"
      val tp = new org.apache.hadoop.fs.Path(s"$root/feat")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val ev = t(s, dir, "events")
      val oldM = FeatureStore
        .materializeLatest(
          ev.where(col("event_id") % 2 === 0), "user_id", "value", "ts", "event_id")
        .select(col("entity"), col("value"),
          unix_micros(col("ts")).as("ts_us"), col("tiebreak"))
      Lakehouse.commitClustered(oldM, root, "feat", "overwrite", "entity", 4)
      val delta = ev.where(col("event_id") % 2 === 1)
      val current = Lakehouse.read(s, root, "feat")
        .select(col("entity"), col("value"),
          timestamp_micros(col("ts_us")).as("ts"), col("tiebreak"))
      val newState = FeatureStore
        .materializeIncremental(current, delta, "user_id", "value", "ts", "event_id")
        .select(col("entity"), col("value"),
          unix_micros(col("ts")).as("ts_us"), col("tiebreak"))
      val src = newState.join(
        delta.select(col("user_id").as("entity")).distinct(), "entity")
      Lakehouse.merge(s, root, "feat", src, "entity")
      Lakehouse.read(s, root, "feat")
        .select(col("entity"), col("value"), col("ts_us"))
    }),
    // Redundancy screen: pairwise Pearson r between per-user count
    // features, exact integer sums → fixed-point micro r.
    "fs_feature_corr" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
      FeatureStore.featureCorrelations(per, Seq("clicks", "views", "purchases"))
    }),
    // Sliding event-time feature aggregations: trailing 1h / 24h click
    // count+spend as of each purchase (point-in-time clean frames,
    // ONE shuffle for all horizons).
    "fs_rolling_features" -> ((s, dir) =>
      FeatureStore.rollingFeatures(
        t(s, dir, "events"), "user_id", "ts", "event_type", "value",
        labelType = "purchase", featureType = "click",
        windowsUs = Seq("1h" -> 3600000000L, "24h" -> 86400000000L))),
    // Offline→online bulk-load manifest: 32 md5 hash shards with
    // count / exact sum / span / order-independent checksum per shard.
    "fs_online_export" -> ((s, dir) =>
      FeatureStore.onlineExport(
        materializedLatest(s, dir)
          .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
        shards = 32)),
    // Exact categorical vocabulary (StringIndexer analog): p_type
    // indexed by (frequency desc, value asc) with a min-count floor;
    // rare types encode as OOV -1. Vocab-sized window + broadcast
    // apply — the corpus pass never shuffles.
    "fs_vocab_encode" -> ((s, dir) =>
      FeatureStore.vocabEncode(
        t(s, dir, "part"), "p_partkey", "p_type", minCount = 12L)),
    // Forward label horizon: for each click, did the user purchase
    // within 72h strictly after it, and how long did it take — ONE
    // merged-stream window per entity, never the anchor x outcome
    // inequality join.
    "fs_label_horizon" -> ((s, dir) =>
      FeatureStore.labelHorizon(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        anchorIs = col("event_type") === "click",
        outcomeIs = col("event_type") === "purchase",
        horizonUs = 72L * 3600L * 1000000L)),
    // Selective partition backfill: two days of the daily aggregate
    // went stale (late data); the per-day manifest diff finds exactly
    // them, recomputes ONLY those partitions, and carries clean days
    // forward — result equal to a full recompute (the oracle), with
    // the backfilled flag auditing the detection.
    "fs_backfill_days" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dirty = Seq("2024-01-05", "2024-01-20").map(d => lit(d).cast("date"))
      val stale = ev.where(
        !(col("event_id") % 3 === 0 && to_date(col("ts")).isin(dirty: _*)))
      FeatureStore.backfillDays(
        ev, "ts", "event_type", "value", "event_id",
        FeatureStore.dailyAggregate(stale, "ts", "event_type", "value"),
        FeatureStore.dailyManifest(stale, "ts", "event_id", "event_type", "value"))
    }),
    // Deterministic negative sampling for recsys/contrastive training:
    // per customer, 12 md5-keyed draws mapped through the dense
    // 0..|part|-1 index (every negative is a REAL part even under key
    // gaps), positives (ordered parts) anti-joined away, earliest 5
    // surviving slots kept — O(users x proposals), never users x items.
    "fs_negative_sample" -> ((s, dir) => {
      val inter = t(s, dir, "orders")
        .join(
          t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey"))
      FeatureStore.negativeSample(
        t(s, dir, "customer"), "c_custkey",
        inter, "o_custkey", "l_partkey",
        t(s, dir, "part"), "p_partkey",
        proposals = 12, k = 5, seed = "neg7")
    })
  )

  private def fsOracles: Map[String, String] = Map(
    "fs_ttl_serving" -> """
      WITH mat AS (
        SELECT user_id AS entity, value, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1),
      st AS (SELECT max(ts) AS serve_ts FROM events)
      SELECT entity,
             CASE WHEN ts >= serve_ts - INTERVAL 3 DAY THEN value END AS value,
             ts >= serve_ts - INTERVAL 3 DAY AS fresh,
             epoch_us(serve_ts) - epoch_us(ts) AS age_us
      FROM mat CROSS JOIN st""",
    "fs_ondemand_transform" -> """
      WITH fc AS (
        SELECT user_id AS entity, value AS f_click FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_type = 'click') WHERE rn = 1),
      fv AS (
        SELECT user_id AS entity, value AS f_view FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_type = 'view') WHERE rn = 1),
      req AS (
        SELECT user_id AS entity, epoch_us(ts) AS req_ts_us, value AS amount
        FROM events WHERE event_type = 'purchase')
      SELECT entity, req_ts_us, amount, f_click, f_view,
             coalesce(f_click, 0) + coalesce(f_view, 0) AS engagement,
             CAST(floor(amount / (coalesce(f_click, 0) + 1) * 1000000.0) AS BIGINT) AS ratio_micro
      FROM req LEFT JOIN fc USING (entity) LEFT JOIN fv USING (entity)""",
    "fs_entity_map" -> """
      SELECT entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY entity ORDER BY ts DESC, event_id DESC) AS rn
        FROM (
          SELECT CASE WHEN user_id % 10 = 7 THEN user_id - 7 ELSE user_id END AS entity,
                 value, ts, event_id
          FROM events))
      WHERE rn = 1""",
    "fs_decile_lift" -> """
      WITH per AS (
        SELECT user_id AS entity,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN CAST(floor(value * 1000000.0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS score_micro,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS label
        FROM events GROUP BY user_id),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(label) AS BIGINT) AS pos_total
        FROM per),
      rn AS (
        SELECT entity, score_micro, label,
               row_number() OVER (ORDER BY score_micro, entity) AS r
        FROM per),
      dec AS (
        SELECT score_micro, label,
               11 - (CASE WHEN r <= (n_total % 10) * (n_total // 10 + 1)
                          THEN (r - 1) // (n_total // 10 + 1)
                          ELSE (n_total % 10)
                               + (r - (n_total % 10) * (n_total // 10 + 1) - 1)
                                 // (n_total // 10)
                     END + 1) AS decile
        FROM rn CROSS JOIN tot)
      SELECT decile, CAST(count(*) AS BIGINT) AS n_entities,
             CAST(sum(label) AS BIGINT) AS n_pos,
             CAST(sum(label) * 1000000 // count(*) AS BIGINT) AS pos_rate_micro,
             CAST(sum(score_micro) // count(*) AS BIGINT) AS mean_score_micro,
             CASE WHEN any_value(pos_total) > 0
                  THEN CAST(sum(label) * any_value(n_total) * 1000000
                            // (count(*) * any_value(pos_total)) AS BIGINT)
             END AS lift_micro
      FROM dec CROSS JOIN tot
      GROUP BY decile""",
    "fs_feature_importance_mi" -> """
      WITH per AS (
        SELECT user_id,
               CAST(least(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END), 5) AS BIGINT) AS bin,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS label
        FROM events GROUP BY user_id),
      cells AS (SELECT bin, label, count(*) AS n FROM per GROUP BY bin, label),
      bins AS (SELECT bin, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY bin),
      labels AS (SELECT label, CAST(sum(n) AS BIGINT) AS nl FROM cells GROUP BY label),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells)
      SELECT bin, label, n, nb, nl, nt,
             CAST(floor(ln((CAST(n AS DOUBLE) * nt) / (CAST(nb AS DOUBLE) * nl))
                        * n * 1000000000000.0 / nt) AS BIGINT) AS mi_pico
      FROM cells JOIN bins USING (bin) JOIN labels USING (label) CROSS JOIN tot""",
    "fs_materialize_merge" -> """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1""",
    "fs_feature_corr" -> {
      def pair(a: String, b: String) = s"""
        SELECT '$a' AS feat_a, '$b' AS feat_b,
               CASE WHEN n * ss_$a - s_$a * s_$a > 0 AND n * ss_$b - s_$b * s_$b > 0 THEN
                 CAST(floor(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)
                   / sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)
                          * CAST(n * ss_$b - s_$b * s_$b AS DOUBLE))
                   * 1000000.0) AS BIGINT)
               END AS r_micro
        FROM t"""
      s"""
      WITH per AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
        FROM events GROUP BY user_id),
      t AS (
        SELECT count(*) AS n,
               CAST(sum(clicks) AS BIGINT) AS s_clicks,
               CAST(sum(clicks * clicks) AS BIGINT) AS ss_clicks,
               CAST(sum(views) AS BIGINT) AS s_views,
               CAST(sum(views * views) AS BIGINT) AS ss_views,
               CAST(sum(purchases) AS BIGINT) AS s_purchases,
               CAST(sum(purchases * purchases) AS BIGINT) AS ss_purchases,
               CAST(sum(clicks * views) AS BIGINT) AS sp_clicks_views,
               CAST(sum(clicks * purchases) AS BIGINT) AS sp_clicks_purchases,
               CAST(sum(views * purchases) AS BIGINT) AS sp_views_purchases
        FROM per)
      ${pair("clicks", "views")}
      UNION ALL ${pair("clicks", "purchases")}
      UNION ALL ${pair("views", "purchases")}"""
    },
    "fs_rolling_features" -> """
      WITH base AS (
        SELECT user_id AS entity, epoch_us(ts) AS ts_us, event_type AS etype, value
        FROM events),
      win AS (
        SELECT entity, ts_us, etype, value,
          CAST(coalesce(sum(CASE WHEN etype = 'click' THEN 1 END) OVER
            (PARTITION BY entity ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_1h,
          coalesce(CAST(sum(CASE WHEN etype = 'click' THEN CAST(value AS DECIMAL(18,6)) END) OVER
            (PARTITION BY entity ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING) AS DOUBLE), 0) AS sum_1h,
          CAST(coalesce(sum(CASE WHEN etype = 'click' THEN 1 END) OVER
            (PARTITION BY entity ORDER BY ts_us
             RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_24h,
          coalesce(CAST(sum(CASE WHEN etype = 'click' THEN CAST(value AS DECIMAL(18,6)) END) OVER
            (PARTITION BY entity ORDER BY ts_us
             RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING) AS DOUBLE), 0) AS sum_24h
        FROM base)
      SELECT entity, ts_us, value AS label, n_1h, sum_1h, n_24h, sum_24h
      FROM win WHERE etype = 'purchase'""",
    "fs_online_export" -> """
      WITH mat AS (
        SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1),
      keyed AS (
        SELECT ('0x' || substr(md5(CAST(entity AS VARCHAR)), 1, 15))::BIGINT % 32 AS shard,
               entity, value,
               ('0x' || substr(md5(CAST(entity AS VARCHAR) || '|' || CAST(ts_us AS VARCHAR)), 1, 15))::BIGINT AS row_key
        FROM mat)
      SELECT shard, count(*) AS n_rows,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
             min(entity) AS min_entity, max(entity) AS max_entity,
             bit_xor(row_key) AS checksum
      FROM keyed GROUP BY shard""",
    "fs_data_contract" -> """
      WITH agg AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
               CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 100)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                                  ('click', 'view', 'purchase', 'signup')
                             THEN 1 ELSE 0 END) AS BIGINT) AS v2,
               count(event_id) - count(DISTINCT event_id) AS v3,
               count(user_id) - count(DISTINCT user_id) AS v4
        FROM events)
      SELECT * FROM (
        SELECT 'not_null' AS "check", 'value' AS column_name, v0 AS n_violations,
               n_rows, v0 = 0 AS pass FROM agg
        UNION ALL
        SELECT 'in_range', 'value', v1, n_rows, v1 = 0 FROM agg
        UNION ALL
        SELECT 'in_set', 'event_type', v2, n_rows, v2 = 0 FROM agg
        UNION ALL
        SELECT 'unique', 'event_id', v3, n_rows, v3 = 0 FROM agg
        UNION ALL
        SELECT 'unique', 'user_id', v4, n_rows, v4 = 0 FROM agg)""",
    "fs_cdc_apply" -> """
      WITH snap AS (
        SELECT user_id AS entity, value, epoch_us(ts) AS ts_us,
               'I' AS op, 0 AS pri, -9223372036854775807 - 1 AS seq
        FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1),
      chg AS (
        SELECT user_id AS entity, value * 2 AS value, epoch_us(ts) AS ts_us,
               CASE WHEN event_id % 3 = 0 THEN 'U'
                    WHEN event_id % 3 = 1 THEN 'I' ELSE 'D' END AS op,
               1 AS pri, event_id AS seq
        FROM events WHERE event_id % 7 = 0),
      u AS (SELECT * FROM snap UNION ALL SELECT * FROM chg)
      SELECT entity, value, ts_us FROM (
        SELECT *, row_number() OVER (
          PARTITION BY entity ORDER BY pri DESC, ts_us DESC, seq DESC) AS rn
        FROM u)
      WHERE rn = 1 AND op <> 'D'""",
    "fs_materialize_latest" -> """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1""",
    "fs_materialize_range" -> """
      SELECT entity, value, ts_us, row_number FROM (
        SELECT entity, value, ts_us, row_number() OVER (ORDER BY entity) AS row_number FROM (
          SELECT user_id AS entity, value, epoch_us(ts) AS ts_us,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1)
      WHERE row_number > 20 AND row_number <= 70""",
    "fs_materialize_paged" -> """
      WITH mat AS (
        SELECT entity, value, ts_us, row_number() OVER (ORDER BY entity) AS row_number FROM (
          SELECT user_id AS entity, value, epoch_us(ts) AS ts_us,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1),
      ps AS (SELECT greatest(1, CAST(ceil(count(*) / 32.0) AS BIGINT)) AS p FROM mat)
      SELECT entity, value, ts_us, row_number,
             CAST((row_number - 1) // p AS BIGINT) AS page
      FROM mat CROSS JOIN ps""",
    "fs_training_set_pit" -> """
      WITH u AS (
        SELECT user_id AS entity, ts, 1 AS kind, event_id AS tb, value AS label,
               CAST(NULL AS DOUBLE) AS f_click, CAST(NULL AS DOUBLE) AS f_view
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, 0, 0, NULL, value, NULL FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, 0, 0, NULL, NULL, value FROM events WHERE event_type = 'view'
      ), f AS (
        SELECT entity, ts, kind, label,
               last_value(f_click IGNORE NULLS) OVER w AS f_click,
               last_value(f_view IGNORE NULLS) OVER w AS f_view
        FROM u WINDOW w AS (
          PARTITION BY entity ORDER BY ts, kind, tb
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT entity, epoch_us(ts) AS label_ts_us, label, f_click, f_view
      FROM f WHERE kind = 1""",
    "fs_training_set_embedded" -> """
      WITH u AS (
        SELECT user_id AS entity, ts, 1 AS kind, event_id AS tb, value AS label,
               CAST(NULL AS DOUBLE) AS f_click, CAST(NULL AS DOUBLE) AS f_view
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, 0, 0, NULL, value, NULL FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, 0, 0, NULL, NULL, value FROM events WHERE event_type = 'view'
      ), f AS (
        SELECT entity, ts, kind, label,
               last_value(f_click IGNORE NULLS) OVER w AS f_click,
               last_value(f_view IGNORE NULLS) OVER w AS f_view
        FROM u WINDOW w AS (
          PARTITION BY entity ORDER BY ts, kind, tb
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ), tset AS (
        SELECT entity, epoch_us(ts) AS label_ts_us, label, f_click, f_view
        FROM f WHERE kind = 1
      ), norms AS (
        SELECT vec_id AS entity,
               CAST(floor(sqrt(sum(x * x)) * 1000000.0) AS BIGINT) AS norm_micro
        FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM embeddings)
        GROUP BY vec_id)
      SELECT t.entity, label_ts_us, label, f_click, f_view,
             n.entity IS NOT NULL AS has_embedding, n.norm_micro
      FROM tset t LEFT JOIN norms n ON n.entity = t.entity""",
    "fs_training_set_paged" -> """
      WITH u AS (
        SELECT user_id AS entity, ts, 1 AS kind, event_id AS tb, value AS label,
               CAST(NULL AS DOUBLE) AS f_click, CAST(NULL AS DOUBLE) AS f_view
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, 0, 0, NULL, value, NULL FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, 0, 0, NULL, NULL, value FROM events WHERE event_type = 'view'
      ), f AS (
        SELECT entity, ts, kind, label,
               last_value(f_click IGNORE NULLS) OVER w AS f_click,
               last_value(f_view IGNORE NULLS) OVER w AS f_view
        FROM u WINDOW w AS (
          PARTITION BY entity ORDER BY ts, kind, tb
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ), tset AS (
        SELECT entity, epoch_us(ts) AS label_ts_us, label, f_click, f_view
        FROM f WHERE kind = 1)
      , numbered AS (
        SELECT *, row_number() OVER (ORDER BY entity, label_ts_us) AS row_number
        FROM tset),
      ps AS (SELECT greatest(1, CAST(ceil(count(*) / 32.0) AS BIGINT)) AS p FROM numbered)
      SELECT entity, label_ts_us, label, f_click, f_view, row_number,
             CAST((row_number - 1) // p AS BIGINT) AS page
      FROM numbered CROSS JOIN ps""",
    "fs_training_set_lag" -> """
      WITH u AS (
        SELECT user_id AS entity, ts, 1 AS kind, event_id AS tb, value AS label,
               CAST(NULL AS DOUBLE) AS f_click_lag1h
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts + INTERVAL 1 HOUR, 0, 0, NULL, value
        FROM events WHERE event_type = 'click'
      ), f AS (
        SELECT entity, ts, kind, label,
               last_value(f_click_lag1h IGNORE NULLS) OVER w AS f_click_lag1h
        FROM u WINDOW w AS (
          PARTITION BY entity ORDER BY ts, kind, tb
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT entity, epoch_us(ts) AS label_ts_us, label, f_click_lag1h
      FROM f WHERE kind = 1""",
    "fs_batch_features" -> """
      WITH r AS (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id AS entity,
             max(CASE WHEN event_type = 'click' THEN value END) AS click,
             max(CASE WHEN event_type = 'view' THEN value END) AS "view",
             max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
             max(CASE WHEN event_type = 'signup' THEN value END) AS signup,
             max(CASE WHEN event_type = 'error' THEN value END) AS "error"
      FROM r WHERE rn = 1 GROUP BY user_id""",
    "fs_transform_sql" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment""",
    "fs_transform_chain" -> """
      SELECT user_id AS entity, count(*) AS n_big,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_big,
             max(value) AS max_big
      FROM events WHERE event_type = 'purchase' AND value > 50
      GROUP BY user_id""",
    "fs_split_train_test" -> """
      SELECT entity,
             CASE WHEN substr(md5(CAST(entity AS VARCHAR)), 1, 4) < '4000'
                  THEN 'test' ELSE 'train' END AS split
      FROM (
        SELECT user_id AS entity FROM (
          SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1)""",
    "fs_split_shuffled" -> """
      SELECT entity,
             CASE WHEN substr(md5('42:' || CAST(entity AS VARCHAR)), 1, 4) < '4000'
                  THEN 'test' ELSE 'train' END AS split
      FROM (
        SELECT user_id AS entity FROM (
          SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1)""",
    "fs_training_set_update" -> """
      WITH u AS (
        SELECT user_id AS entity, ts, 1 AS kind, event_id AS tb, value AS label,
               CAST(NULL AS DOUBLE) AS f_click, CAST(NULL AS DOUBLE) AS f_view
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, 0, 0, NULL, value, NULL FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, 0, 0, NULL, NULL, value FROM events WHERE event_type = 'view'
      ), f AS (
        SELECT entity, ts, kind, label,
               last_value(f_click IGNORE NULLS) OVER w AS f_click,
               last_value(f_view IGNORE NULLS) OVER w AS f_view
        FROM u WINDOW w AS (
          PARTITION BY entity ORDER BY ts, kind, tb
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT entity, epoch_us(ts) AS label_ts_us, label, f_click, f_view
      FROM f WHERE kind = 1""",
    "fs_feature_stats" -> """
      SELECT event_type AS feature, count(*) AS n,
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             min(value) AS min_value, max(value) AS max_value,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS avg_value,
             count(DISTINCT user_id) AS n_entities
      FROM events GROUP BY event_type""",
    "fs_asof_tolerance" -> """
      WITH u AS (
        SELECT user_id AS entity, ts, 1 AS kind, event_id AS tb, NULL AS v
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, 0, event_id, value
        FROM events WHERE event_type = 'click'),
      f AS (
        SELECT entity, ts, kind, tb,
               last_value(CASE WHEN kind = 0 THEN struct_pack(mts := ts, mval := v) END
                          IGNORE NULLS)
                 OVER (PARTITION BY entity ORDER BY ts, kind, tb
                       ROWS UNBOUNDED PRECEDING) AS mv
        FROM u)
      SELECT entity, tb AS left_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(mv.mts) >= epoch_us(ts) - 7200000000 THEN mv.mval END
               AS matched_value,
             CASE WHEN epoch_us(mv.mts) >= epoch_us(ts) - 7200000000 THEN epoch_us(mv.mts) END
               AS matched_ts_us
      FROM f WHERE kind = 1""",
    // Same tagged union, same sort — one trailing and one leading
    // IGNORE NULLS frame, then the closest-side pick (ties backward).
    "q_asof_nearest" -> """
      WITH u AS (
        SELECT user_id AS entity, ts, 1 AS kind, event_id AS tb, NULL AS v
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts, 0, event_id, value
        FROM events WHERE event_type = 'click'),
      f AS (
        SELECT entity, ts, kind, tb,
               last_value(CASE WHEN kind = 0 THEN struct_pack(mts := ts, mval := v) END
                          IGNORE NULLS)
                 OVER (PARTITION BY entity ORDER BY ts, kind, tb
                       ROWS UNBOUNDED PRECEDING) AS mb,
               first_value(CASE WHEN kind = 0 THEN struct_pack(mts := ts, mval := v) END
                           IGNORE NULLS)
                 OVER (PARTITION BY entity ORDER BY ts, kind, tb
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS mf
        FROM u),
      p AS (
        SELECT entity, tb, ts, mb, mf,
               (mb IS NOT NULL AND (mf IS NULL OR
                  epoch_us(ts) - epoch_us(mb.mts) <= epoch_us(mf.mts) - epoch_us(ts)))
                 AS use_back
        FROM f WHERE kind = 1)
      SELECT entity, tb AS left_id, epoch_us(ts) AS ts_us,
             CASE WHEN use_back THEN mb.mval ELSE mf.mval END AS matched_value,
             CASE WHEN use_back THEN epoch_us(mb.mts) ELSE epoch_us(mf.mts) END
               AS matched_ts_us,
             CASE WHEN mb IS NULL AND mf IS NULL THEN NULL
                  WHEN use_back THEN 'back' ELSE 'fwd' END AS direction
      FROM p""",
    // Medians via the same exact interpolated quantile as
    // q_percentiles; Mz is the identical IEEE op sequence.
    "fs_outlier_mad" -> """
      WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type),
      mad AS (
        SELECT e.event_type, min(m.med) AS med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type)
      SELECT e.event_id, e.event_type, e.value, m.med, m.mad,
             (e.value - m.med) * 0.6745 / m.mad AS robust_z
      FROM events e JOIN mad m USING (event_type)
      WHERE m.mad > 0 AND abs((e.value - m.med) * 0.6745 / m.mad) > 3.5""",
    "q_daily_anomaly" -> """
      WITH daily AS (
        SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
               CAST(count(*) AS DOUBLE) AS n
        FROM events GROUP BY 1, 2),
      med AS (
        SELECT event_type, quantile_cont(n, 0.5) AS med FROM daily GROUP BY event_type),
      mad AS (
        SELECT d.event_type, min(m.med) AS med,
               quantile_cont(abs(d.n - m.med), 0.5) AS mad
        FROM daily d JOIN med m USING (event_type)
        GROUP BY d.event_type)
      SELECT d.day_us, d.event_type, d.n, m.med, m.mad,
             (d.n - m.med) * 0.6745 / m.mad AS robust_z
      FROM daily d JOIN mad m USING (event_type)
      WHERE m.mad > 0 AND abs((d.n - m.med) * 0.6745 / m.mad) > 1.5""",
    "fs_freshness" -> """
      SELECT event_type AS feature,
             max(epoch_us(ts)) AS last_ts_us,
             CAST(sum(CASE WHEN epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-15 00:00:00') - 21600000000
                            AND epoch_us(ts) <= epoch_us(TIMESTAMP '2024-01-15 00:00:00')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_recent,
             epoch_us(TIMESTAMP '2024-01-15 00:00:00') - max(epoch_us(ts)) AS age_us,
             epoch_us(TIMESTAMP '2024-01-15 00:00:00') - max(epoch_us(ts)) > 21600000000 AS stale
      FROM events GROUP BY event_type""",
    "fs_agg_incremental" -> """
      SELECT user_id AS entity,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
             count(*) AS n
      FROM events GROUP BY user_id""",
    "fs_join_incremental" -> """
      SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_acctbal
      FROM orders JOIN customer ON o_custkey = c_custkey""",
    "fs_leakage_audit" -> """
      WITH labels AS (
        SELECT user_id AS entity, epoch_us(ts) AS label_ts_us, event_id
        FROM events WHERE event_type = 'purchase'),
      clicks AS (
        SELECT user_id AS entity, epoch_us(ts) AS f_ts_us, event_id AS f_event_id
        FROM events WHERE event_type = 'click'),
      latest AS (
        SELECT entity, f_ts_us FROM (
          SELECT entity, f_ts_us,
                 row_number() OVER (PARTITION BY entity
                   ORDER BY f_ts_us DESC, f_event_id DESC) AS rn
          FROM clicks) WHERE rn = 1),
      naive AS (
        SELECT 'naive_latest' AS method, label_ts_us, f_ts_us
        FROM labels JOIN latest USING (entity)),
      pit AS (
        SELECT 'pit' AS method, label_ts_us, max(f_ts_us) AS f_ts_us
        FROM labels JOIN clicks USING (entity)
        WHERE f_ts_us <= label_ts_us
        GROUP BY entity, label_ts_us, event_id),
      u AS (SELECT * FROM naive UNION ALL SELECT * FROM pit)
      SELECT method, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN f_ts_us > label_ts_us THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaks,
             coalesce(max(CASE WHEN f_ts_us > label_ts_us
                               THEN f_ts_us - label_ts_us END), 0) AS max_lead_us,
             coalesce(max(CASE WHEN f_ts_us <= label_ts_us
                               THEN label_ts_us - f_ts_us END), 0) AS max_staleness_us
      FROM u GROUP BY method""",
    "fs_target_encode" -> """
      WITH s AS (
        SELECT event_type AS category, count(*) AS n,
               sum(CAST(value AS DECIMAL(18,4))) AS sy
        FROM events GROUP BY event_type)
      SELECT event_id, category, value AS target,
             CASE WHEN n > 1
                  THEN CAST(sy - CAST(value AS DECIMAL(18,4)) AS DOUBLE) / (n - 1)
             END AS loo_encoding
      FROM events JOIN s ON events.event_type = s.category""",
    "fs_feature_hashing" -> """
      WITH f AS (
        SELECT c_custkey AS entity,
               ('0x' || substr(md5('seg:' || c_mktsegment), 1, 15))::BIGINT AS h
        FROM customer
        UNION ALL
        SELECT c_custkey,
               ('0x' || substr(md5('nat:' || CAST(c_nationkey AS VARCHAR)), 1, 15))::BIGINT
        FROM customer)
      SELECT entity, h % 64 AS feature_idx,
             CAST(sum(((h >> 59) & 1) * 2 - 1) AS BIGINT) AS weight
      FROM f GROUP BY entity, h % 64""",
    "fs_feature_matrix" -> """
      WITH f AS (
        SELECT c_custkey AS entity,
               ('0x' || substr(md5('seg:' || c_mktsegment), 1, 15))::BIGINT AS h
        FROM customer
        UNION ALL
        SELECT c_custkey,
               ('0x' || substr(md5('nat:' || CAST(c_nationkey AS VARCHAR)), 1, 15))::BIGINT
        FROM customer),
      fh AS (
        SELECT entity, h % 64 AS feature_idx,
               CAST(sum(((h >> 59) & 1) * 2 - 1) AS BIGINT) AS weight
        FROM f GROUP BY entity, h % 64),
      agg AS (SELECT entity, list(feature_idx) AS idxs, list(weight) AS ws
              FROM fh GROUP BY entity),
      dense AS (
        SELECT entity,
               list_transform(range(0, 64),
                 i -> coalesce(ws[list_position(idxs, i)], 0)) AS features
        FROM agg)
      SELECT entity, array_to_string(features, ',') AS features_csv,
             CAST(list_sum(list_transform(features, x -> abs(x))) AS BIGINT) AS l1,
             CAST(list_sum(list_transform(features,
               x -> CASE WHEN x <> 0 THEN 1 ELSE 0 END)) AS BIGINT) AS nnz
      FROM dense""",
    "fs_outlier_values" -> """
      WITH m1 AS (
        SELECT event_type AS feature, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS svd,
               CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
                    AS DOUBLE) AS sv2d
        FROM events GROUP BY event_type),
      m2 AS (
        SELECT feature, svd / n AS mean,
               sqrt(sv2d / n - (svd / n) * (svd / n)) AS std
        FROM m1)
      SELECT event_id, feature, value, (value - mean) / std AS z
      FROM events JOIN m2 ON events.event_type = m2.feature
      WHERE std > 0 AND abs((value - mean) / std) > 3.0""",
    "fs_feature_scale" -> """
      WITH m1 AS (
        SELECT event_type AS feature, count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS svd,
               CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
                    AS DOUBLE) AS sv2d,
               min(value) AS mn, max(value) AS mx
        FROM events GROUP BY event_type),
      m2 AS (
        SELECT feature, svd / n AS mean,
               sqrt(sv2d / n - (svd / n) * (svd / n)) AS std, mn, mx
        FROM m1)
      SELECT event_id, feature, value,
             CASE WHEN std > 0 THEN (value - mean) / std END AS z,
             CASE WHEN mx > mn THEN (value - mn) / (mx - mn) END AS minmax
      FROM events JOIN m2 ON events.event_type = m2.feature""",
    "fs_feature_bins" -> """
      WITH m AS (
        SELECT event_type AS feature, min(value) AS mn, max(value) AS mx
        FROM events GROUP BY event_type)
      SELECT event_id, feature, value,
             CASE WHEN value IS NULL THEN NULL
                  WHEN mx > mn THEN least(CAST(floor((value - mn) / (mx - mn) * 10) AS BIGINT), 9)
                  ELSE 0 END AS width_bin,
             CAST(ntile(10) OVER (
               PARTITION BY event_type ORDER BY value NULLS FIRST, event_id) AS BIGINT) AS freq_bin
      FROM events JOIN m ON events.event_type = m.feature""",
    "fs_winsorize" -> """
      WITH q AS (
        SELECT event_type AS feature,
               quantile_cont(value, 0.05) AS p_lo,
               quantile_cont(value, 0.95) AS p_hi
        FROM events GROUP BY event_type)
      SELECT event_id, feature, value,
             CASE WHEN value IS NULL THEN NULL
                  ELSE least(greatest(value, p_lo), p_hi) END AS clipped,
             CAST(coalesce(value < p_lo OR value > p_hi, false) AS INT) AS was_clipped
      FROM events JOIN q ON events.event_type = q.feature""",
    "fs_split_time" -> """
      WITH n AS (SELECT count(*) AS total FROM events),
      r AS (SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn FROM events)
      SELECT event_id,
             CASE WHEN rn <= CAST(floor(0.8 * total) AS BIGINT) THEN 'train' ELSE 'test' END AS split
      FROM r CROSS JOIN n""",
    "fs_feature_drift" -> """
      WITH base AS (
        SELECT event_type AS feature, value::DOUBLE AS v,
               ts < TIMESTAMP '2024-01-15 00:00:00' AS is_ref
        FROM events),
      rs AS (
        SELECT feature, min(v) AS mn, (max(v) - min(v)) / 10 AS w
        FROM base WHERE is_ref GROUP BY feature),
      bk AS (
        SELECT base.feature,
               CASE WHEN w = 0 THEN 0
                    ELSE least(greatest(CAST(floor((v - mn) / w) AS INT), 0), 9) END AS bucket,
               sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c_ref,
               sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS c_cur
        FROM base JOIN rs ON base.feature = rs.feature
        GROUP BY 1, 2),
      frame AS (
        SELECT feature, i AS bucket FROM rs, unnest(range(0, 10)) AS u(i)),
      filled AS (
        SELECT frame.feature, frame.bucket,
               coalesce(c_ref, 0) AS c_ref, coalesce(c_cur, 0) AS c_cur
        FROM frame LEFT JOIN bk ON frame.feature = bk.feature AND frame.bucket = bk.bucket),
      p AS (
        SELECT feature, c_ref, c_cur,
               greatest(c_ref / (sum(c_ref) OVER (PARTITION BY feature)), 0.000001) AS pa,
               greatest(c_cur / (sum(c_cur) OVER (PARTITION BY feature)), 0.000001) AS pb
        FROM filled)
      SELECT feature,
             CAST(sum(c_ref) AS BIGINT) AS n_ref,
             CAST(sum(c_cur) AS BIGINT) AS n_cur,
             round(CAST(sum(CAST(round((pa - pb) * ln(pa / pb), 12) AS DECIMAL(28,12)))
                        AS DOUBLE), 6) AS psi,
             round(CAST(sum(CAST(round((pa - pb) * ln(pa / pb), 12) AS DECIMAL(28,12)))
                        AS DOUBLE), 6) > 0.25 AS drifted
      FROM p GROUP BY feature""",
    "fs_features_asof" -> """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1""",
    "fs_materialize_incremental" -> """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1""",
    "fs_vocab_encode" -> """
      WITH c AS (
        SELECT p_type AS category, count(*) AS cnt FROM part GROUP BY p_type),
      v AS (
        SELECT category,
               CAST(row_number() OVER (ORDER BY cnt DESC, category) - 1 AS BIGINT) AS idx
        FROM c WHERE cnt >= 12)
      SELECT p_partkey AS entity, p_type AS category,
             coalesce(idx, -1) AS idx
      FROM part LEFT JOIN v ON part.p_type = v.category""",
    "fs_label_horizon" -> """
      WITH a AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      o AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      nxt AS (
        SELECT a.event_id, a.user_id, a.ts, min(o.ts) AS nts
        FROM a LEFT JOIN o ON o.user_id = a.user_id AND o.ts > a.ts
        GROUP BY 1, 2, 3)
      SELECT event_id, user_id AS entity, epoch_us(ts) AS ts_us,
             CAST(CASE WHEN nts IS NOT NULL
                        AND epoch_us(nts) <= epoch_us(ts) + 259200000000
                       THEN 1 ELSE 0 END AS INT) AS label,
             CASE WHEN nts IS NOT NULL
                   AND epoch_us(nts) <= epoch_us(ts) + 259200000000
                  THEN epoch_us(nts) - epoch_us(ts) END AS ttc_us
      FROM nxt""",
    "fs_backfill_days" -> """
      SELECT CAST(ts AS DATE) AS day, event_type AS feature, count(*) AS n,
             CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS spend_micro,
             CAST(CASE WHEN CAST(ts AS DATE) IN (DATE '2024-01-05', DATE '2024-01-20')
                       THEN 1 ELSE 0 END AS INT) AS backfilled
      FROM events GROUP BY 1, 2""",
    "fs_negative_sample" -> """
      WITH sp AS (SELECT count(*) AS n_items FROM part),
      iidx AS (
        SELECT CAST(p_partkey AS BIGINT) AS item,
               row_number() OVER (ORDER BY p_partkey) - 1 AS draw
        FROM (SELECT DISTINCT p_partkey FROM part)),
      prop AS (
        SELECT c_custkey AS "user", CAST(t.slot AS BIGINT) AS slot, i.item
        FROM customer CROSS JOIN sp
             CROSS JOIN (SELECT range AS slot FROM range(12)) t
             JOIN iidx i
               ON i.draw = ('0x' || substr(md5('neg7:' || CAST(c_custkey AS VARCHAR)
                                   || ':' || CAST(t.slot AS VARCHAR)), 1, 15))::BIGINT
                 % n_items),
      pos AS (
        SELECT DISTINCT o_custkey AS "user", CAST(l_partkey AS BIGINT) AS item
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      filt AS (
        SELECT p."user", p.item, min(p.slot) AS slot
        FROM prop p
        WHERE NOT EXISTS (
          SELECT 1 FROM pos WHERE pos."user" = p."user" AND pos.item = p.item)
        GROUP BY 1, 2),
      ranked AS (
        SELECT "user", item, slot,
               row_number() OVER (PARTITION BY "user" ORDER BY slot, item) AS rk
        FROM filt)
      SELECT "user", item, slot FROM ranked WHERE rk <= 5"""
  )

  // ---------------------------------------------------------------- //
  // Embedding / vector                                               //
  // ---------------------------------------------------------------- //

  private def embQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_get_multi" -> ((s, dir) =>
      Similarity
        .multiGet(t(s, dir, "embeddings"), "vec_id", 0L to 9L)
        .select(
          col("vec_id"), size(col("embedding")).cast("long").as("dims"),
          element_at(col("embedding"), 1).as("e_first"),
          element_at(col("embedding"), -1).as("e_last"),
          col("label"))),
    "emb_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
    // Range search (FAISS range_search): every corpus vector within
    // cosine radius 0.35 of each query — filter-only plan, no window.
    "emb_range_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.rangeSearch(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", minSim = 0.35)
    }),
    // Grouped kNN (Milvus group_by / Vespa grouping): top-5 per query
    // with at most 2 hits from any one label — one entity cannot
    // monopolize the result list.
    "emb_knn_grouped" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnGrouped(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5, perGroup = 2)
    }),
    // Contrastive triplet mining: per anchor, 5 nearest same-label
    // (positives) and 5 nearest other-label (hard negatives) from ONE
    // corpus scan with two label-masked bounded heaps.
    "emb_triplet_mine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.tripletMine(
        emb, "vec_id", "embedding", "label", emb.where(col("vec_id") < 10), k = 5)
    }),
    // Driver-facing IVF invariant: probing EVERY cell must reproduce
    // brute force exactly, so the full IVF machinery (centroid build,
    // assignment, probe join, top-k) is hash-checked against the brute
    // oracle. Partial-probe recall is spec-covered (SimilaritySpec).
    "emb_knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvf(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5, nProbe = 1000 /* >= nCells => full probe = brute equality */)
    }),
    // The REAL approximate path, driver-checked: nProbe = 3 of the 10
    // label cells, with an oracle that unrolls the identical IVF
    // schedule (assignment + query-cell ranking + restricted top-k) in
    // SQL — the recall trade-off itself is hash-verified, not just the
    // degenerate full-probe case.
    "emb_knn_ivf_partial" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvf(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5, nProbe = 3)
    }),
    // End-to-end ANN: k-means index build + probe. nProbe = nCells, so
    // the learned-codebook path is also held to exact brute equality.
    "emb_knn_ivf_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvfKmeans(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nProbe = 8, nCells = 8)
    }),
    // ANN acceptance gate: per-query recall vs brute. Full probe makes
    // the expected recall provably 1.0 per query — a deterministic
    // oracle; the lossy partial-probe recall curve is spec territory.
    "emb_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
      Similarity.recall(
        Similarity.knnIvf(emb, q, "vec_id", "embedding", "label", k = 5, nProbe = 1000),
        Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5))
    }),
    // Deterministic ±1 random projection 64 -> 16 dims (Achlioptas /
    // JL): the training-free dimension-reduction transform — the
    // projection matrix is md5-derived, so any engine reproduces it.
    // Runs the native graft_rp kernel: the declarative 1024-term tree
    // cost seconds of optimizer+Janino work per plan and overflowed
    // the 64KB generated-method limit into interpreted eval.
    "emb_random_projection" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          posexplode(Quantization.randomProjectionNative(col("embedding"), 64, 16))
            .as(Seq("out_dim", "p")))
        .select(col("vec_id"), col("out_dim").cast("long").as("out_dim"), col("p"))
    }),
    // RP-space retrieval acceptance gate: recall of top-5 cosine in
    // the 16-dim md5-signed random projection vs full-dim exact — the
    // same lossy-axis eval as matryoshka, but with the training-free
    // JL transform that mixes ALL input dims instead of truncating.
    "emb_rp_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rp = emb.select(
        col("vec_id"),
        Quantization.randomProjectionNative(col("embedding"), 64, 16).as("embedding"))
      Similarity.recall(
        Similarity.knnBruteForce(rp, rp.where(col("vec_id") < 10), "vec_id", "embedding", 5),
        Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5))
    }),
    // Matryoshka-style truncation eval: how much recall does retrieval
    // at the first 16 of 64 dims keep vs full-dim exact top-5? The
    // dimension-reduction acceptance gate (16 dims = 4x cheaper scan;
    // same machinery as emb_ivf_recall, lossy axis = dims not cells).
    "emb_matryoshka_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      Similarity.recall(
        Similarity.knnBruteForce(
          trunc, trunc.where(col("vec_id") < 10), "vec_id", "embedding", 5),
        Similarity.knnBruteForce(
          emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5))
    }),
    // embeddinghub Set/MultiSet write path: upsert a delta (25 updated
    // vectors + 5 inserts, both derived deterministically from the
    // table) into the space; last-writer-wins per key. Updates flip the
    // vector (reverse) and bump the label by 1000 so the merged rows are
    // visibly the delta's, not the original's.
    "emb_upsert" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      val updates = emb
        .where(col("vec_id") < 25)
        .select(
          col("vec_id"), reverse(col("embedding")).as("embedding"),
          (col("label") + 1000).as("label"))
      val inserts = emb
        .where(col("vec_id") < 5)
        .select(
          (col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          (col("label") + 2000).as("label"))
      Similarity
        .upsert(emb, updates.unionByName(inserts), "vec_id")
        .select(
          col("vec_id"), col("label"),
          size(col("embedding")).cast("long").as("dims"),
          element_at(col("embedding"), 1).as("e_first"),
          element_at(col("embedding"), -1).as("e_last"))
    }),
    // Space lifecycle (CreateSpace/FreezeSpace/DeleteSpace): freeze two
    // immutable snapshots of a space, read each back by version.
    "emb_space_lifecycle" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_spaces"
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      graft.sources.Spaces.delete(s, root, "vectors")
      val v1 = graft.sources.Spaces.freeze(emb.where(col("vec_id") < 100), root, "vectors")
      val v2 = graft.sources.Spaces.freeze(emb, root, "vectors")
      def profile(version: Int): DataFrame =
        graft.sources.Spaces.load(s, root, "vectors", Some(version))
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n"),
            min(col("vec_id")).as("min_key"),
            max(col("vec_id")).as("max_key"))
          .withColumn("version", lit(version.toLong))
      profile(v1).unionByName(profile(v2))
    }),
    "emb_pairwise_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = emb
        .where(col("vec_id") < 20)
        .select(col("vec_id").as("a"), (col("vec_id") + 100).as("b"))
      Similarity.pairwiseCosine(emb, "vec_id", "embedding", pairs)
        .select(col("a"), col("b"), col("cos_sim"))
    }),
    "emb_centroids" -> ((s, dir) =>
      Similarity
        .centroids(t(s, dir, "embeddings"), "label", "embedding")
        .select(
          col("centroid_id").as("label"),
          size(col("centroid")).cast("long").as("dims"),
          round(VectorFunctions.l2Norm(col("centroid")), 6).as("c_norm"))),
    "emb_nearest_centroid" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.centroids(emb, "label", "embedding")
      Similarity
        .nearestCentroid(emb, "vec_id", "embedding", cents)
        .join(emb.select(col("vec_id"), col("label").as("own_label")), "vec_id")
        .select(
          col("vec_id"), col("assigned"), col("own_label"),
          (col("assigned") === col("own_label")).cast("int").as("is_own"))
    }),
    "emb_norm_stats" -> ((s, dir) =>
      Similarity.normStats(t(s, dir, "embeddings"), "label", "embedding")),
    // OOD screening: exact integer distance-to-mean with the top 1%
    // most distant flagged by exact rank — the pre-ingest sanity gate.
    "emb_ood_scores" -> ((s, dir) =>
      Similarity.oodScores(t(s, dir, "embeddings"), "vec_id", "embedding", pctOod = 1)),
    // embeddinghub Download: full-space export (key, dims, payload
    // checksum columns keep the compare cheap but scan everything).
    "emb_download" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("dims"),
        element_at(col("embedding"), 1).as("e_first"))),
    // Batch ANN index build: deterministic k-means codebook. The fixed
    // 3-iteration Lloyd schedule unrolls into plain SQL (kmeansOracleSql),
    // so even the iterative path is hash-checked.
    "emb_kmeans" -> ((s, dir) =>
      Similarity
        .kmeansCodebook(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iterations = 3)
        .select(
          col("centroid_id").cast("long").as("centroid_id"),
          size(col("centroid")).cast("long").as("dims"),
          round(VectorFunctions.l2Norm(col("centroid")), 6).as("c_norm"))),
    // Product quantization index build: per-subspace Lloyd codebooks
    // (m=16 x ksub=32 over 64 dims, 2 iterations) — the published
    // compressed-ANN scale path (Jégou et al., TPAMI 2011). The fixed
    // schedule unrolls into SQL like emb_kmeans does.
    "emb_pq_codebooks" -> ((s, dir) =>
      Quantization
        .pqCodebooks(t(s, dir, "embeddings"), "vec_id", "embedding",
          m = 16, dims = 64, ksub = 32, iterations = 2)
        .select(
          col("subspace").cast("long").as("subspace"),
          col("centroid_id").cast("long").as("centroid_id"),
          size(col("centroid")).cast("long").as("dims"),
          round(VectorFunctions.l2Norm(col("centroid")), 6).as("c_norm"))),
    // PQ end-to-end: build -> encode -> ADC top-5 for queries
    // vec_id < 10. Deterministic (seeded build, ordered ADC fold,
    // id tiebreaks), so the whole approximate pipeline is hash-checked.
    "emb_pq_knn" -> ((s, dir) =>
      Quantization.pqKnn(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        "vec_id", "embedding", m = 16, dims = 64, ksub = 32, iterations = 2, k = 5)),
    // ColBERT-style late interaction: 3-token-bag queries (first three
    // members of labels 0-2) MaxSim-scored against label-bag documents.
    "emb_maxsim" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val w = Window.partitionBy(col("label")).orderBy(col("vec_id"))
      val qtoks = emb.where(col("label") < 3)
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select(col("label").as("qid"), col("rn").cast("long").as("qtok"), col("embedding"))
      Similarity.maxSim(emb, "label", qtoks, "qid", "embedding")
    }),
    // OPQ end-to-end (Ge et al. CVPR'13): learned orthogonal rotation
    // (alternating PQ / Procrustes-SVD) -> PQ -> ADC in the rotated
    // space. The oracle embeds the per-SF rotation as literals
    // (opqKnnOracle) — generated by Verify, which computes R once.
    "emb_opq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rotated = Quantization.rotate(emb, "vec_id", "embedding", opqRot(s, dir))
      Quantization.pqKnn(
        rotated, rotated.where(col("vec_id") < 10),
        "vec_id", "vec", m = PqM, dims = 64, ksub = PqKsub, iterations = 2, k = 5)
    }),
    // PCA whitening (Jégou–Chum ECCV'12): corpus-learned top-8
    // principal directions scaled 1/sqrt(λ+ε), applied centered via
    // the native matapply kernel; oracle embeds the per-SF (W, W·μ)
    // literals (pcaWhitenOracle) — generated by Verify, which learns
    // the transform once.
    "emb_pca_whiten" -> ((s, dir) => {
      val (mu, w) = pcaWhiten(s, dir)
      val b = w.map(row => row.indices.foldLeft(0.0)((acc, i) => acc + row(i) * mu(i)))
      val y = Quantization.rotate(t(s, dir, "embeddings"), "vec_id", "embedding", w)
      y.select(
        col("vec_id") +:
          (0 until PcaK).map(j =>
            round(element_at(col("vec"), j + 1) - b(j), 6).as(s"c$j")): _*)
    }),
    // Dimension-reduced PQ (the OPQ-shaped compression stack with the
    // training-free JL rotation): project 64 -> 16 dims with the
    // md5-signed random projection, then PQ (m=8, dsub=2) + ADC in
    // the projected space — 4x cheaper codebooks and tables on top of
    // PQ's compression, end-to-end deterministic and hash-checked.
    "emb_rp_pq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rp = emb.select(
        col("vec_id"),
        Quantization.randomProjectionNative(col("embedding"), 64, 16).as("embedding"))
      Quantization.pqKnn(
        rp, rp.where(col("vec_id") < 10), "vec_id", "embedding",
        m = 8, dims = 16, ksub = 32, iterations = 2, k = 5)
    }),
    // IVF-PQ: learned 8-cell coarse quantizer (same 3-iteration Lloyd
    // schedule as emb_kmeans) + PQ of the residuals, nProbe=3 probe —
    // the composed FAISS-style billion-scale index, fully
    // deterministic and hash-checked against its unrolled SQL twin.
    "emb_knn_ivfpq" -> ((s, dir) =>
      Quantization.knnIvfPq(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        "vec_id", "embedding",
        m = 16, dims = 64, ksub = 32, iterations = 2,
        nCells = 8, coarseIterations = 3, nProbe = 3, k = 5)),
    // FAISS IVFPQ+Refine: ADC shortlist of 4x k from the compressed
    // index, exact cosine ONLY on the shortlist — memory stays
    // PQ-sized, final ranking recovers the quantization loss.
    "emb_knn_ivfpq_rerank" -> ((s, dir) =>
      Quantization.knnIvfPqRerank(
        t(s, dir, "embeddings"),
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        "vec_id", "embedding",
        m = 16, dims = 64, ksub = 32, iterations = 2,
        nCells = 8, coarseIterations = 3, nProbe = 3, k = 5, overfetch = 4)),
    // Index persistence (embeddinghub's save/load surface re-expressed
    // as table-format artifacts): the IVF-PQ index's three frames —
    // coarse cells, residual codebooks, encoded corpus — commit to
    // lakehouse tables, reload in a fresh lineage, and the reloaded
    // index probes BIT-IDENTICALLY to the fresh one (same oracle as
    // emb_knn_ivfpq; parquet round-trips doubles exactly).
    "emb_index_persist" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_index"
      val tp = new org.apache.hadoop.fs.Path(root)
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh tables per run
      val emb = t(s, dir, "embeddings")
      val idx = Quantization.buildIvfPq(
        emb, "vec_id", "embedding",
        m = 16, dims = 64, ksub = 32, iterations = 2,
        nCells = 8, coarseIterations = 3)
      Lakehouse.commit(idx.coarse, root, "ix_coarse", "overwrite")
      Lakehouse.commit(idx.codebooks, root, "ix_cb", "overwrite")
      Lakehouse.commit(idx.encoded, root, "ix_enc", "overwrite")
      val reloaded = Quantization.IvfPqIndex(
        Lakehouse.read(s, root, "ix_coarse").pinned(),
        Lakehouse.read(s, root, "ix_cb").pinned(),
        Lakehouse.read(s, root, "ix_enc"))
      Quantization.probeIvfPq(
        reloaded, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        m = 16, dims = 64, nProbe = 3, k = 5)
    }),
    // Incremental index maintenance: build IVF-PQ on the corpus MINUS
    // the delta, upsert the delta with the frozen artifacts (no
    // re-training), emit the merged encoded corpus. Codes are emitted
    // as a comma string — deterministic and hashable either way, and
    // scalar columns keep the driver's row-sort well-defined.
    "emb_index_upsert" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Quantization.buildIvfPq(
        emb.where(col("vec_id") >= 10), "vec_id", "embedding",
        m = 16, dims = 64, ksub = 32, iterations = 2,
        nCells = 8, coarseIterations = 3)
      Quantization
        .upsertIvfPq(idx, emb.where(col("vec_id") < 10), "vec_id", "embedding", 16, 64)
        .encoded
        .select(
          col("vec_id"),
          col("cell").cast("long").as("cell"),
          concat_ws(",", transform(col("codes"), c => c.cast("string"))).as("codes"))
    }),
    // Filtered ANN (the vector-db "metadata predicate" search): the
    // label filter composes BEFORE the scan, so Catalyst pushes it
    // into the parquet read and the kNN scores only the surviving
    // corpus — a predicate-pushdown win no post-filter k' > k
    // heuristic can match for exactness.
    "emb_knn_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForce(
        emb.where(col("label").isin(1, 2, 3)),
        emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
    // hnswlib ships l2/ip spaces alongside the cosine space index.h
    // instantiates — exact top-5 by euclidean distance for the same
    // query set (negated-squared-distance bounded-heap, native kernel).
    "emb_knn_l2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForceL2(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
    // Max-inner-product retrieval — the third hnswlib space (ip).
    "emb_knn_ip" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForceIp(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),
    // 1-bit binary sketches + hamming top-k (the 32x compression tier).
    "emb_knn_binary" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Quantization.knnBinaryHamming(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", dims = 64, k = 5)
    }),
    // Two-stage binary prefilter: hamming top-20 candidates at sketch
    // scan speed, exact float cosine only on those, cut to top-5.
    "emb_knn_binary_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Quantization.knnBinaryRerank(
        emb, emb.where(col("vec_id") < 10), "vec_id", "embedding",
        dims = 64, k = 5, overfetch = 4)
    }),
    // Storage-tier int8 scalar quantization with per-vector
    // reconstruction-error stats (the 4x embedding compression knob).
    "emb_int8_quant" -> ((s, dir) =>
      Quantization.int8Quantize(t(s, dir, "embeddings"), "vec_id", "embedding")),
    // End-to-end corpus curation map: cluster documents by embedding
    // (the same deterministic k-means schedule as emb_kmeans), then
    // profile each cluster from the document table — the "what is in
    // my corpus" step of training-data curation, composed entirely
    // from existing operators in one Catalyst plan.
    // SSP prototypicality pruning (Sorscher et al.): same Lloyd
    // schedule as emb_kmeans, per-cluster hardness rank by ASCENDING
    // centroid similarity, keep the hardest half of every cluster.
    "emb_ssp_prune" -> ((s, dir) =>
      Sampling.prototypePrune(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iterations = 3, hardFraction = 0.5)),
    "corpus_cluster_profile" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 8, iterations = 3)
      Similarity
        .nearestCentroid(emb, "vec_id", "embedding", cb)
        .join(docs, col("vec_id") === col("doc_id"))
        .groupBy(col("assigned").cast("long").as("cluster"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"))
    }),
    // Embedding-distribution drift: per-label centroid shift between
    // the even- and odd-keyed corpus halves — the vector-space
    // companion of the scalar PSI monitor.
    "emb_centroid_drift" -> ((s, dir) =>
      Similarity.centroidDrift(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        col("vec_id") % 2 === 0)),
    // Centrality over the similarity graph: PageRank on the directed
    // 3-NN cosine graph — "which vectors are central" for
    // representative selection. Edge list pinned once (the expensive
    // kNN must not re-run per PR iteration); the fixed-point integer
    // iteration schedule is unrolled into the oracle.
    "graph_pagerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      Graph.pageRank(edges, dampingPct = 85, iterations = 3)
        .select(col("id").as("node_id"), col("pr_units"), col("pagerank"))
    }),
    // Full-scale iterative gate: the SAME fixed-point PageRank over a
    // LINEARLY-built graph — the order↔part incidence edges of
    // lineitem (both directions, multi-edges kept as weights) — so the
    // 3-round join+aggregate machinery is oracle-checkable at sf10's
    // 60 M lineitem rows where the kNN edge demo (quadratic by
    // construction) cannot be. Part ids offset into a disjoint space.
    "graph_pagerank_bipartite" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val fwd = li.select(
        col("l_orderkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000000000L).as("dst"))
      // NOTE (r11 optimization round): pinning this edge list was
      // paired-A/B'd and REJECTED (+0.3 s here, +1.3 s on the
      // label-prop twin) — the 56 lineitem scans in the static plan
      // are deduplicated at runtime by AQE exchange reuse, so the pin
      // only adds a materialization job.
      val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      Graph.pageRank(edges, dampingPct = 85, iterations = 3)
        .select(col("id").as("node_id"), col("pr_units"), col("pagerank"))
    }),
    // Same linear edge source for the label-prop iterative machinery:
    // every 7th part seeds its `p_partkey % 5` class; two clamped
    // majority-vote rounds spread labels across orders and back.
    "graph_label_prop_bipartite" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val fwd = li.select(
        col("l_orderkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000000000L).as("dst"))
      val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t(s, dir, "part").where(col("p_partkey") % 7 === 0)
        .select(
          (col("p_partkey").cast("long") + 1000000000000L).as("id"),
          (col("p_partkey") % 5).cast("long").as("label"))
      Graph.labelPropagation(edges, seeds, iterations = 2)
        .select(col("id").as("node_id"), col("label"))
    }),
    // Similarity-graph quality audit: per-node triangles + local
    // clustering coefficient over the undirected 3-NN graph.
    "graph_triangles" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      Graph.triangleStats(edges).withColumnRenamed("id", "node_id")
    }),
    // Label-noise audit: fraction of each vector's 10 cosine-NN that
    // share its label; low consistency flags probable annotation noise.
    "emb_label_consistency" -> ((s, dir) =>
      Similarity.labelConsistency(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", k = 10)),
    // Weak supervision: spread the 10% ground-truth labels (vec_id <
    // 50) over the 3-NN cosine graph by 2 rounds of clamped majority
    // vote — integer votes, smaller-label tiebreak, bit-reproducible.
    "graph_label_prop" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      val seeds = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("id"), col("label"))
      Graph.labelPropagation(edges, seeds, iterations = 2)
        .select(col("id").as("node_id"), col("label"))
    }),
    // Link prediction on the 3-NN similarity graph: non-adjacent pairs
    // at distance 2 scored by common-neighbor count + fixed-point
    // Jaccard — "which near-dup edges did the kNN budget miss".
    "graph_link_predict" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      Graph.linkPrediction(edges, minCommon = 2)
    }),
    // Offline HNSW hierarchy: integer-geometric levels (P(l≥1)=1/4),
    // per-layer 3-NN graphs over the level-filtered corpus — the
    // batch-built layered index a server would mmap.
    "emb_hnsw_build" -> ((s, dir) =>
      Graph.hnswBuild(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 3, maxLevel = 3)),
    // The declared 100 TB candidate swap, realized and gated: IVF
    // probes feed the SAME diverse prune, and probing every cell
    // (nProbe >= the 10 label cells) must reproduce the brute-built
    // hierarchy EXACTLY — held to the brute oracle, exactly as
    // emb_knn_ivf is held to knnBruteForce. Partial-probe structure
    // and probed-cell containment are spec territory (GraphSpec).
    "emb_hnsw_ivf_build" -> ((s, dir) =>
      Graph.hnswBuildIvf(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        k = 3, maxLevel = 3, nProbe = 1000)),
    // Deterministically capped twins: the 4-layer build/search
    // machinery over `vec_id % ((n+1999) div 2000) == 0` — the full
    // space at driver SFs (modulus 1), a bounded 2000-vector slice of
    // generated scale-ups, so the quadratic all-pairs oracle stays
    // tractable at sf10 while the machinery runs on genuine sf10 rows.
    "emb_hnsw_build_sampled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val kmod = (emb.count() + 1999L) / 2000L
      Graph.hnswBuild(
        emb.where(col("vec_id") % kmod === 0), "vec_id", "embedding",
        k = 3, maxLevel = 3)
    }),
    "emb_hnsw_search_sampled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val kmod = (emb.count() + 1999L) / 2000L
      val sp = emb.where(col("vec_id") % kmod === 0)
      Graph.hnswSearchReplay(
        sp, "vec_id", "embedding",
        sp.where(col("vec_id") < 10L * kmod), k = 3, kBuild = 3, maxLevel = 3)
    }),
    // Greedy-descent replay over the built hierarchy: global entry,
    // one step per upper layer, two-hop layer-0 frontier, exact top-3
    // among candidates — validates the artifact navigates.
    "emb_hnsw_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Graph.hnswSearchReplay(
        emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 10), k = 3, kBuild = 3, maxLevel = 3)
    }),
    // hnswlib saveIndex serialization (the reference's deployable
    // serving artifact): build the hierarchy, WRITE the binary file,
    // re-parse it with the independent reader, and emit per-level
    // stats computed FROM THE PARSED BYTES. The oracle re-derives the
    // same numbers from first principles — node/edge counts from the
    // level + diverse-neighbor CTEs, and the exact file byte count
    // from hnswlib's layout arithmetic — so a drifting serializer
    // (wrong field width, missing pad, dropped edge) hash-mismatches.
    // the IVF-probed candidate source IS the exported path: nProbe
    // (1000) >= the 10 label cells makes the probe exhaustive, so the
    // artifact is byte-identical to the brute-candidate export
    // (HnswExportSpec asserts the file bytes) and the from-first-
    // principles oracle gates the production build shape — nothing in
    // the export plan is quadratic in the corpus
    "emb_hnsw_export" -> ((s, dir) =>
      hnswExportStats(s, t(s, dir, "embeddings"), "full")),
    // Deterministically capped export twin (the emb_hnsw_*_sampled
    // discipline): the SAME serialize-parse-gate machinery over the
    // `vec_id % ((n+1999) div 2000) = 0` slice — the full space at
    // driver SFs (modulus 1, equal to emb_hnsw_export), a bounded
    // 2000-vector slice of generated scale-ups, so the hnswlib ARTIFACT
    // itself (byte count included) is oracle-gateable at sf10.
    "emb_hnsw_export_sampled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val kmod = (emb.count() + 1999L) / 2000L
      hnswExportStats(s, emb.where(col("vec_id") % kmod === 0), "sampled")
    }),
    // Dense-core extraction: 3 synchronized peeling rounds at k=3 over
    // the undirected 3-NN graph; survivors + residual degree.
    "graph_kcore" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Graph.knnGraph(emb, "vec_id", "embedding", 3).pinned()
      Graph.kcorePeel(edges, k = 3, rounds = 3)
    })
  )

  /** Shared CTE text: the directed 3-NN cosine graph over embeddings —
    * used by the PageRank, label-propagation and triangle oracles.
    */
  private val knnGraphCtes: String = """escored AS MATERIALIZED (
        SELECT qid AS src, nvid AS dst,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id)
        GROUP BY qid, nvid),
      edges AS MATERIALIZED (
        SELECT src, dst FROM (
          SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rank
          FROM escored) WHERE rank <= 3)"""

  /** Triangles + local clustering coefficient over the undirected view
    * of the 3-NN graph: canonical a<b pairs, each triangle counted once
    * via the a<b<c join; lcc emitted as the raw IEEE division of two
    * exact integers (never round a ratio for cross-engine output).
    */
  private lazy val triangleOracleSql: String = s"""
      WITH $knnGraphCtes,
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
      deg AS (
        SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und)
        GROUP BY id),
      tri AS (
        SELECT x.a, x.b, y.b AS c
        FROM und x
        JOIN und y ON y.a = x.b
        JOIN und z ON z.a = x.a AND z.b = y.b),
      pern AS (
        SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
          SELECT a AS id FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY id)
      SELECT deg.id AS node_id, deg.degree,
             coalesce(pern.n_tri, 0) AS n_tri,
             CASE WHEN deg.degree >= 2
                  THEN CAST(2 * coalesce(pern.n_tri, 0) AS DOUBLE)
                       / (deg.degree * (deg.degree - 1))
                  ELSE 0.0 END AS lcc
      FROM deg LEFT JOIN pern ON pern.id = deg.id"""

  /** Distance-2 link prediction over the undirected 3-NN graph:
    * wedge-join candidates, common-neighbor counts, integer-micro
    * Jaccard, existing edges anti-joined away.
    */
  private lazy val linkPredictOracleSql: String = s"""
      WITH $knnGraphCtes,
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
      adj AS (
        SELECT a AS id, b AS nb FROM und
        UNION ALL SELECT b, a FROM und),
      deg AS (
        SELECT id, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY id),
      cn AS (
        SELECT x.nb AS a, y.nb AS b, CAST(count(*) AS BIGINT) AS common
        FROM adj x JOIN adj y ON y.id = x.id AND x.nb < y.nb
        GROUP BY x.nb, y.nb),
      cand AS (
        SELECT cn.a, cn.b, cn.common
        FROM cn LEFT JOIN und ON und.a = cn.a AND und.b = cn.b
        WHERE und.a IS NULL AND cn.common >= 2)
      SELECT c.a, c.b, c.common,
             CAST(c.common * 1000000 // (da.degree + db.degree - c.common) AS BIGINT)
               AS jaccard_micro
      FROM cand c
      JOIN deg da ON da.id = c.a
      JOIN deg db ON db.id = c.b"""

  /** 3 unrolled peeling rounds at k=3 over the same undirected graph:
    * each round recomputes degrees inside the survivor-induced
    * subgraph and drops nodes under k.
    */
  private lazy val kcoreOracleSql: String = s"""
      WITH $knnGraphCtes,
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
      d1 AS (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
      s1 AS (SELECT id FROM d1 WHERE deg >= 3),
      e2 AS (
        SELECT und.a, und.b FROM und
        JOIN s1 x ON x.id = und.a JOIN s1 y ON y.id = und.b),
      d2 AS (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY id),
      s2 AS (SELECT id FROM d2 WHERE deg >= 3),
      e3 AS (
        SELECT e2.a, e2.b FROM e2
        JOIN s2 x ON x.id = e2.a JOIN s2 y ON y.id = e2.b),
      d3 AS (
        SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT a AS id FROM e3 UNION ALL SELECT b FROM e3) GROUP BY id)
      SELECT id AS node_id, deg AS core_degree FROM d3 WHERE deg >= 3"""

  /** The level CTE shared by the HNSW oracles: the SAME pure-integer
    * trailing-base-4-zeros rule as Graph.hnswLevels (md5 60-bit hash,
    * divisibility by 4^l). `src` parameterizes the vector source so
    * the deterministically SAMPLED twins (the sf10 gates) reuse the
    * identical rule over their capped subspace.
    */
  private def hnswLvCteFrom(src: String): String = s"""
      lv AS MATERIALIZED (
        SELECT vec_id,
               CASE WHEN h % 64 = 0 THEN 3
                    WHEN h % 16 = 0 THEN 2
                    WHEN h % 4 = 0 THEN 1
                    ELSE 0 END AS level
        FROM (
          SELECT vec_id,
                 ('0x' || substr(md5('hnsw:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM $src))"""

  private val hnswLvCte: String = hnswLvCteFrom("embeddings")

  /** All-pair cosine CTE shared by the HNSW oracles (ordered unnest
    * sums = the kernel's index-ordered double accumulation), over a
    * parameterized vector source.
    */
  private def hnswEsCteFrom(src: String): String = s"""
      es AS MATERIALIZED (
        SELECT qid, nvid,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM $src q JOIN $src n ON n.vec_id <> q.vec_id)
        GROUP BY qid, nvid)"""

  private val hnswEsCte: String = hnswEsCteFrom("embeddings")

  /** The deterministic sampled HNSW subspace: cap the corpus at ~2000
    * vectors by a count-derived modulus (the SAME `(n+1999) div 2000`
    * both engines compute), so the driver SFs run the FULL space
    * (modulus 1) and generated scale-ups (sf10's 200k vectors) gate the
    * identical 4-layer machinery on a bounded slice — the all-pairs
    * oracle stays tractable while the inputs are genuine sf10 rows.
    */
  private val hnswSampledSrc: String =
    "(SELECT * FROM embeddings WHERE vec_id % " +
      "(SELECT (count(*) + 1999) // 2000 FROM embeddings) = 0)"

  /** Unrolled SQL of the diverse-neighbor heuristic
    * (Graph.diverseNeighbors — Algorithm 4 of Malkov & Yashunin with
    * keepPrunedConnections: nearest-first over the top-`candK` pool,
    * keep c iff ∀ kept j: sim(c, j) <= sim(base, c), cap at `m`, then
    * backfill discarded candidates in rank order until `m`) for layer
    * `l`, emitting CTEs ending in `$name(src, dst)`. The sequential
    * keep decisions unroll into lateral-alias boolean flags
    * k1..k$candK; backfill unrolls into per-candidate discarded-rank
    * prefix counts d_j against the total kept count kt.
    */
  private def hnswKeptEdgesSql(l: Int, name: String, candK: Int, m: Int): String = {
    val wide = (1 to candK).map(j =>
      s"max(CASE WHEN r = $j THEN nvid END) AS i$j, " +
        s"max(CASE WHEN r = $j THEN sim END) AS s$j").mkString(",\n               ")
    val pairJoins = (for { t <- 1 until candK; j <- (t + 1) to candK } yield
      s"LEFT JOIN es p${t}_$j ON p${t}_$j.qid = w.i$t AND p${t}_$j.nvid = w.i$j")
      .mkString("\n        ")
    val pairCols = (for { t <- 1 until candK; j <- (t + 1) to candK } yield
      s"p${t}_$j.sim AS q${t}_$j").mkString(", ")
    val flags = (1 to candK).map { j =>
      val parts = scala.collection.mutable.Buffer[String](s"i$j IS NOT NULL")
      if (j > 1) {
        val cnt = (1 until j).map(t => s"CAST(k$t AS INT)").mkString(" + ")
        parts += s"($cnt) < $m"
        (1 until j).foreach(t => parts += s"(NOT k$t OR q${t}_$j <= s$j)")
      }
      s"(${parts.mkString(" AND ")}) AS k$j"
    }.mkString(",\n               ")
    // keepPrunedConnections backfill: kt = total kept; d_j = j's rank
    // among existing-but-discarded candidates; chosen c_j = kept OR
    // within the first (m - kt) discarded
    val keptTotal = (1 to candK).map(t => s"CAST(k$t AS INT)").mkString(" + ")
    val backfill = (1 to candK).map { j =>
      val dj = (1 to j)
        .map(t => s"CAST((i$t IS NOT NULL AND NOT k$t) AS INT)").mkString(" + ")
      s"(k$j OR (i$j IS NOT NULL AND NOT k$j AND ($dj) <= $m - ($keptTotal))) AS c$j"
    }.mkString(",\n               ")
    val arms = (1 to candK)
      .map(j => s"SELECT qid AS src, i$j AS dst FROM fl_$name WHERE c$j")
      .mkString("\n        UNION ALL ")
    s"""
      cn_$name AS MATERIALIZED (
        SELECT es.qid, es.nvid, es.sim,
               row_number() OVER (PARTITION BY es.qid ORDER BY es.sim DESC, es.nvid) AS r
        FROM es
        JOIN lv a ON a.vec_id = es.qid AND a.level >= $l
        JOIN lv b ON b.vec_id = es.nvid AND b.level >= $l
        QUALIFY r <= $candK),
      wd_$name AS MATERIALIZED (
        SELECT qid,
               $wide
        FROM cn_$name GROUP BY qid),
      fl_$name AS MATERIALIZED (
        SELECT w.*, $pairCols,
               $flags,
               $backfill
        FROM wd_$name w
        $pairJoins),
      $name AS MATERIALIZED (
        $arms)"""
  }

  /** Per-layer heuristic-pruned neighbor graph over the level-filtered
    * corpus — mirrors Graph.hnswBuild (diverseNeighbors with
    * candK = 2k, m = k) arm for arm.
    */
  private def hnswBuildOracleFrom(src: String): String = {
    val kept = (0 to 3).map(l => hnswKeptEdgesSql(l, s"ed$l", candK = 6, m = 3))
    val arms = (0 to 3)
      .map(l => s"SELECT CAST($l AS BIGINT) AS level, src, dst FROM ed$l")
      .mkString("\n      UNION ALL\n      ")
    s"""
      WITH ${hnswLvCteFrom(src)},
      ${hnswEsCteFrom(src)},
      ${kept.mkString(",")}
      $arms"""
  }

  private lazy val hnswOracleSql: String = hnswBuildOracleFrom("embeddings")

  private lazy val hnswSampledOracleSql: String = hnswBuildOracleFrom(hnswSampledSrc)

  /** Greedy-descent replay, unrolled: all-pair sims once (escored),
    * per-layer kNN edges from level filters, the global entry, one
    * argmax step per upper layer, a two-hop layer-0 frontier, exact
    * top-3. Mirrors Graph.hnswSearchReplay step for step.
    */
  private def hnswSearchOracleFrom(src: String, queryBound: String): String = {
    def edgesFor(l: Int) = hnswKeptEdgesSql(l, s"ed$l", candK = 6, m = 3)
    def stepFor(out: String, prev: String, edges: String, width: Int) = s"""
      cand_$out AS (
        SELECT DISTINCT query_id, cand FROM (
          SELECT query_id, cur AS cand FROM $prev
          UNION ALL
          SELECT p.query_id, e.dst FROM $prev p JOIN $edges e ON e.src = p.cur)),
      $out AS MATERIALIZED (
        SELECT query_id, cand AS cur FROM (
          SELECT c.query_id, c.cand,
                 row_number() OVER (PARTITION BY c.query_id
                   ORDER BY es.sim DESC, c.cand) AS rn
          FROM cand_$out c JOIN es ON es.qid = c.query_id AND es.nvid = c.cand
          WHERE c.cand <> c.query_id)
        WHERE rn <= $width)"""
    s"""
      WITH ${hnswLvCteFrom(src)},
      ${hnswEsCteFrom(src)},
      ${(0 to 3).map(edgesFor).mkString(",")},
      entry AS (SELECT vec_id AS cur FROM lv ORDER BY level DESC, vec_id LIMIT 1),
      c0 AS (
        SELECT q.vec_id AS query_id, e.cur
        FROM $src q CROSS JOIN entry e WHERE q.vec_id < $queryBound),
      ${stepFor("s3a", "c0", "ed3", 3)},
      ${stepFor("s3b", "s3a", "ed3", 3)},
      ${stepFor("s2a", "s3b", "ed2", 3)},
      ${stepFor("s2b", "s2a", "ed2", 3)},
      ${stepFor("s1a", "s2b", "ed1", 3)},
      ${stepFor("s1b", "s1a", "ed1", 3)},
      ${stepFor("b1", "s1b", "ed0", 8)},
      ${stepFor("b2", "b1", "ed0", 8)},
      ${stepFor("b3", "b2", "ed0", 8)}
      SELECT query_id, cur AS neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
        SELECT b.query_id, b.cur,
               row_number() OVER (PARTITION BY b.query_id
                 ORDER BY es.sim DESC, b.cur) AS rank
        FROM b3 b JOIN es ON es.qid = b.query_id AND es.nvid = b.cur)
      WHERE rank <= 3"""
  }

  private lazy val hnswSearchOracleSql: String =
    hnswSearchOracleFrom("embeddings", "10")

  private lazy val hnswSearchSampledOracleSql: String = {
    val kmod = "(SELECT (count(*) + 1999) // 2000 FROM embeddings)"
    hnswSearchOracleFrom(hnswSampledSrc, s"10 * $kmod")
  }

  /** The shared body of the emb_hnsw_export driver queries: build the
    * hierarchy over `space` through the IVF-probed candidate source,
    * WRITE the hnswlib saveIndex binary, re-parse it with the
    * independent reader, and emit per-level stats FROM THE PARSED
    * BYTES plus the payload check (labels dense-ascending in key
    * order, vector bytes bit-equal to the source column — an
    * artifact-sized driver loop; the file is serving-RAM-sized by the
    * format's own contract).
    */
  private def hnswExportStats(
      s: SparkSession, space: DataFrame, tag: String): DataFrame = {
    import s.implicits._
    // per-invocation temp dir, not a (tag, pid)-keyed path: two
    // concurrent invocations of the same export query inside one JVM
    // (e.g. two threads sharing a session) must never write and read
    // the same file
    val p = java.nio.file.Files
      .createTempDirectory(s"graft_hnsw_export_${tag}_")
      .resolve("index.hnsw").toString
    val cents = Similarity.centroids(space, "label", "embedding")
    // the oracle equality below assumes the IVF probe is EXHAUSTIVE
    // (every cell probed => candidate set identical to brute); fail
    // loudly if the corpus ever grows more label cells than nProbe
    // instead of surfacing as an opaque hash mismatch at verify time
    val nProbe = 1000
    val nCells = cents.count()
    require(nCells <= nProbe,
      s"hnswExportStats($tag): IVF candidate source must be exhaustive for " +
        s"byte-level oracle equality, but nCells=$nCells > nProbe=$nProbe")
    HnswExport.exportIndex(
      space, "vec_id", "embedding",
      m = 3, maxLevel = 3, efConstruction = 100, p,
      candidates = Some(Graph.ivfCandidateSource("vec_id", "embedding", cents, nProbe = nProbe)))
    val idx = HnswExport.readIndex(p)
    val src = space
      .select(col("vec_id").cast("long"), col("embedding"))
      .orderBy(col("vec_id")).collect()
    val payloadOk =
      idx.labels.toSeq == src.map(_.getLong(0)).toSeq &&
        src.indices.forall { i =>
          val v = src(i).getSeq[Float](1)
          v.length == idx.dim && v.indices.forall(j =>
            java.lang.Float.floatToRawIntBits(v(j)) ==
              java.lang.Float.floatToRawIntBits(idx.vectors(i)(j)))
        }
    val fileBytes = java.nio.file.Files.size(java.nio.file.Paths.get(p))
    // artifact fully parsed into memory above; drop the per-invocation
    // temp dir so repeated bench reps don't accumulate index files
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p).getParent)
    (0 to 3).map(l => (
      l.toLong, idx.nodesAtLevelGte(l), idx.edgesAtLevel(l),
      idx.nElements.toLong, idx.labels(idx.header.enterPoint), fileBytes, payloadOk))
      .toDF("level", "n_nodes", "n_edges", "n_elements", "entry_label",
        "file_bytes", "payload_ok")
  }

  /** The hnswlib-serialization gate: per-level node/edge counts from
    * the SAME level + diverse-neighbor CTEs as the build oracle, plus
    * the EXACT artifact byte count from hnswlib's saveIndex layout
    * arithmetic — header 96 bytes; per element a level-0 block of
    * (maxM0*4+4) link bytes + dim*4 vector bytes + 8 label bytes
    * (maxM0 = 2m = 6); then per element 4 size bytes + level_i
    * segments of (maxM*4+4) = 16 bytes. The Spark side reads these
    * numbers back out of the parsed binary, so the two derivations
    * meet only at the file format.
    */
  private def hnswExportOracleFrom(src: String): String = {
    val kept = (0 to 3).map(l => hnswKeptEdgesSql(l, s"ed$l", candK = 6, m = 3))
    val arms = (0 to 3).map { l =>
      s"""SELECT CAST($l AS BIGINT) AS level,
             (SELECT count(*) FROM lv WHERE level >= $l) AS n_nodes,
             (SELECT count(*) FROM ed$l) AS n_edges"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
      WITH ${hnswLvCteFrom(src)},
      ${hnswEsCteFrom(src)},
      ${kept.mkString(",")},
      geom AS MATERIALIZED (
        SELECT count(*) AS n, max(len(embedding)) AS dim FROM $src g0),
      lvsum AS (SELECT sum(level) AS suml FROM lv),
      perlevel AS ($arms)
      SELECT p.level,
             CAST(p.n_nodes AS BIGINT) AS n_nodes,
             CAST(p.n_edges AS BIGINT) AS n_edges,
             CAST(g.n AS BIGINT) AS n_elements,
             (SELECT vec_id FROM lv ORDER BY level DESC, vec_id LIMIT 1) AS entry_label,
             CAST(96 + g.n * (6*4+4 + g.dim*4 + 8) + 4*g.n + (3*4+4) * s.suml AS BIGINT)
               AS file_bytes,
             TRUE AS payload_ok
      FROM perlevel p, geom g, lvsum s"""
  }

  private lazy val hnswExportOracleSql: String = hnswExportOracleFrom("embeddings")

  private lazy val hnswExportSampledOracleSql: String =
    hnswExportOracleFrom(hnswSampledSrc)

  /** All-points 10-NN label consistency: integer match counts, one
    * IEEE division at output.
    */
  private val labelConsistencyOracleSql: String = """
      WITH scored AS (
        SELECT qid, qlab, nvid, nlab,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, q.label AS qlab,
                 n.vec_id AS nvid, n.label AS nlab,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id)
        GROUP BY qid, qlab, nvid, nlab),
      nn AS (
        SELECT qid, qlab, nlab FROM (
          SELECT qid, qlab, nlab,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nvid) AS rank
          FROM scored) WHERE rank <= 10)
      SELECT qid AS vec_id, CAST(qlab AS INT) AS label,
             CAST(sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
             CAST(sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS consistency
      FROM nn GROUP BY qid, qlab"""

  /** Unrolled 2-iteration clamped majority-vote label propagation over
    * the same 3-NN cosine graph as PageRank: integer votes,
    * smaller-label tiebreak, seeds (vec_id < 50) clamped.
    */
  private def lpIterSql(prev: String, n: Int): String = s"""
      v$n AS MATERIALIZED (
        SELECT e.dst AS id, p.label AS nl, count(*) AS votes
        FROM edges e JOIN $prev p ON p.id = e.src
        WHERE p.label IS NOT NULL GROUP BY e.dst, p.label),
      w$n AS MATERIALIZED (
        SELECT id, nl AS win FROM (
          SELECT id, nl,
                 row_number() OVER (PARTITION BY id ORDER BY votes DESC, nl) AS rn
          FROM v$n)
        WHERE rn = 1),
      l$n AS MATERIALIZED (
        SELECT nodes.id, coalesce(seeds.sl, w$n.win, $prev.label) AS label
        FROM nodes
        LEFT JOIN seeds ON seeds.id = nodes.id
        LEFT JOIN w$n ON w$n.id = nodes.id
        LEFT JOIN $prev ON $prev.id = nodes.id)"""

  /** The 2-iteration clamped-majority-vote body shared by the
    * kNN-graph and bipartite label-prop oracles — only the edge and
    * seed CTEs differ.
    */
  private def labelPropBodySql(edgeCtes: String, seedsCte: String): String = s"""
      WITH $edgeCtes,
      nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
      seeds AS MATERIALIZED ($seedsCte),
      l0 AS MATERIALIZED (
        SELECT nodes.id, seeds.sl AS label
        FROM nodes LEFT JOIN seeds ON seeds.id = nodes.id),
      ${lpIterSql("l0", 1)},
      ${lpIterSql("l1", 2)}
      SELECT id AS node_id, CAST(label AS BIGINT) AS label FROM l2"""

  private lazy val labelPropOracleSql: String = labelPropBodySql(
    knnGraphCtes,
    """SELECT vec_id AS id, CAST(label AS BIGINT) AS sl
        FROM embeddings WHERE vec_id < 50""")

  private lazy val labelPropBipartiteOracleSql: String = labelPropBodySql(
    bipartiteEdgeCtes,
    """SELECT p_partkey + 1000000000000 AS id,
               CAST(p_partkey % 5 AS BIGINT) AS sl
        FROM part WHERE p_partkey % 7 = 0""")

  /** Unrolled 3-iteration PageRank (dampingPct 85) over the directed
    * 3-NN cosine graph — the same FIXED-POINT INTEGER schedule as
    * Graph.pageRank: mass in 1e-12 units (BIGINT), every transfer a
    * truncating integer division, so no float enters the iteration in
    * either engine. DuckDB's sum(BIGINT) widens to HUGEINT — cast back.
    */
  // MATERIALIZED on every multiply-referenced / chain-referenced CTE:
  // DuckDB otherwise inlines CTE references, and a 3-deep iteration
  // chain whose body references the previous iteration plus
  // nodes/edges/od re-evaluates the whole upstream tree per reference
  // — measured at sf10 (240 M edge rows): materialized 120 s, inlined
  // still running past 15 min and spilling the disk full. (The HNSW
  // oracles learned this earlier; same rule here.)
  private def prIterSql(prev: String, name: String): String = s"""
      $name AS MATERIALIZED (
        SELECT nodes.id,
               (15 * 1000000000000 // 100 // nn) + (85 * coalesce(sm.s, 0) // 100) AS pr
        FROM nodes
        LEFT JOIN (
          SELECT e.dst AS id, CAST(sum(p.pr // od.od) AS BIGINT) AS s
          FROM edges e
          JOIN $prev p ON p.id = e.src
          JOIN od ON od.src = e.src
          GROUP BY e.dst) sm ON sm.id = nodes.id
        CROSS JOIN n)"""

  /** The 3-iteration fixed-point body shared by the kNN-graph and
    * bipartite PageRank oracles — only the `edges` CTE differs.
    */
  private def pageRankBodySql(edgeCtes: String): String = s"""
      WITH $edgeCtes,
      nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
      n AS MATERIALIZED (SELECT count(*) AS nn FROM nodes),
      od AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src),
      pr0 AS MATERIALIZED (
        SELECT id, 1000000000000 // nn AS pr FROM nodes CROSS JOIN n),
      ${prIterSql("pr0", "pr1")},
      ${prIterSql("pr1", "pr2")},
      ${prIterSql("pr2", "pr3")}
      SELECT id AS node_id, CAST(pr AS BIGINT) AS pr_units,
             CAST(pr AS BIGINT) / 1000000000000.0 AS pagerank
      FROM pr3"""

  private lazy val pageRankOracleSql: String = pageRankBodySql(knnGraphCtes)

  /** The LINEAR full-scale edge source for the iterative-family scale
    * gates: the order↔part incidence graph of lineitem, both
    * directions, multi-edges kept (both engines see the identical edge
    * multiset; multiplicity just weights the vote/transfer). Part ids
    * are offset into a disjoint node-id space.
    */
  private val bipartiteEdgeCtes: String = """fwd AS MATERIALIZED (
        SELECT l_orderkey AS src, l_partkey + 1000000000000 AS dst FROM lineitem),
      edges AS MATERIALIZED (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd)"""

  private lazy val pageRankBipartiteOracleSql: String =
    pageRankBodySql(bipartiteEdgeCtes)

  private val centroidCte = """
      cd AS (
        SELECT label, pos, avg(x) AS c FROM (
          SELECT label, unnest(embedding)::DOUBLE AS x,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings) GROUP BY label, pos),
      cent AS (
        SELECT label AS centroid_id, list(c ORDER BY pos) AS centroid
        FROM cd GROUP BY label)"""

  /** Exact top-5 neighbors for queries vec_id < 10 — the oracle for
    * emb_knn_brute AND (via the full-probe invariant) both IVF paths.
    */
  private val knnBruteSql: String = """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""

  /** Unrolled 3-iteration Lloyd k-means (k = 8, seeds = 8 smallest
    * keys) — the same deterministic schedule kmeansCodebook runs, as
    * plain SQL: assign (argmax cosine, smallest-id tiebreak) then
    * recompute per-(cell, dim) means, three times.
    */
  /** WITH-clause body for the deterministic 3-iteration k=8 Lloyd
    * schedule (s0 seeds -> a1/c1 -> a2/c2 -> a3/c3) — shared by the
    * emb_kmeans oracle and the corpus-cluster-profile oracle, which
    * additionally assigns every vector against the final codebook.
    */
  private lazy val kmeansCtes: String = {
    def assign(cent: String, name: String) = kmeansAssignCte(cent, name)
    def mstep(assignName: String, name: String) = kmeansMstepCte(assignName, name)
    s"""s0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               list_transform(embedding, x -> x::DOUBLE) AS centroid
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
      ${assign("s0", "a1")}, ${mstep("a1", "c1")},
      ${assign("c1", "a2")}, ${mstep("a2", "c2")},
      ${assign("c2", "a3")}, ${mstep("a3", "c3")}"""
  }

  private def kmeansAssignCte(cent: String, name: String): String = s"""
      $name AS (
        SELECT vec_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM (
            SELECT vec_id, centroid_id,
                   sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
            FROM (
              SELECT e.vec_id, c.centroid_id,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
              FROM embeddings e CROSS JOIN $cent c)
            GROUP BY vec_id, centroid_id))
        WHERE rn = 1)"""

  private def kmeansMstepCte(assignName: String, name: String): String = s"""
      $name AS (
        SELECT cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.cell, u.pos, avg(u.x) AS c
          FROM (
            SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u
          JOIN $assignName a ON u.vec_id = a.vec_id
          GROUP BY a.cell, u.pos)
        GROUP BY cell)"""

  private lazy val kmeansOracleSql: String = s"""
      WITH $kmeansCtes
      SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
             CAST(count(*) AS BIGINT) AS dims,
             round(sqrt(sum(x * x)), 6) AS c_norm
      FROM (SELECT centroid_id, unnest(centroid) AS x FROM c3)
      GROUP BY centroid_id"""

  /** PQ schedule constants shared by the Spark queries and the SQL
    * oracles: 64 dims split into PqM subspaces of 64/PqM dims, PqKsub
    * centroids each, 2 Lloyd iterations. dsub=4/ksub=32 rather than a
    * coarser split because the synthetic corpus is uniform random —
    * the distance-concentration worst case for PQ — and this is the
    * config whose measured recall (~0.44 vs exact L2) keeps the spec's
    * quality gate meaningful.
    */
  private val PqM = 16
  private val PqKsub = 32
  private val PqDsub = 64 / PqM

  /** Set by Verify before building [[oracleSql]]: the sf dir whose DATA
    * data-dependent oracles must derive from (OPQ's learned rotation is
    * a function of the corpus, so its oracle embeds per-SF literals).
    * When unset, those oracles are omitted from the map.
    */
  @volatile var oracleDataDir: Option[String] = None

  /** Learned OPQ rotation per sf dir, memoized so the emb_opq_knn query
    * and its generated oracle share the SAME matrix within one JVM run.
    * Recomputation is not bit-stable: the cross-covariance is exact, but
    * the PQ codebooks inside each OPQ iteration are double M-step means
    * whose partial-sum merge order is not fixed, and a last-bit change in
    * a sub-centroid can move codes and so R (see Quantization.opqRotation).
    */
  private val opqRotCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]
  private def opqRot(s: SparkSession, dir: String): Seq[Seq[Double]] =
    opqRotCache.computeIfAbsent(
      dir,
      _ => Quantization.opqRotation(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        m = PqM, dims = 64, ksub = PqKsub, pqIterations = 2, opqIterations = 2))

  private val PcaK = 8

  /** Learned PCA-whitening transform of an sf dir. Not memoized: the
    * fit is one exact pass whose (μ, W) does not depend on partitioning,
    * so the emb_pca_whiten query and its generated oracle each fit and
    * get the same matrix bit for bit.
    */
  private def pcaWhiten(s: SparkSession, dir: String): (Seq[Double], Seq[Seq[Double]]) =
    Quantization.pcaWhitening(t(s, dir, "embeddings"), "vec_id", "embedding", dims = 64, k = PcaK)

  /** Generated emb_pca_whiten oracle: each whitened component an
    * UNROLLED ascending-i left-associated fold of embedding[i]·W[j][i]
    * (the matapply kernel's add order) minus the literal (W·μ)_j,
    * 6dp-rounded — bit-identical doubles in both engines.
    */
  private def pcaWhitenOracle(dir: String): String = {
    val spark = org.apache.spark.sql.SparkSession.active
    val (mu, w) = pcaWhiten(spark, dir)
    val comps = (0 until PcaK).map { j =>
      val row = w(j)
      val b = row.indices.foldLeft(0.0)((acc, i) => acc + row(i) * mu(i))
      val dot = (1 to 64)
        .map(i => s"embedding[$i]::DOUBLE * (${row(i - 1)})::DOUBLE")
        .mkString("(", " + ", ")")
      s"round($dot - ($b)::DOUBLE, 6) AS c$j"
    }
    s"SELECT vec_id, ${comps.mkString(", ")} FROM embeddings"
  }

  /** Generated emb_opq_knn oracle: the learned rotation as literal
    * weights (each output dim an UNROLLED left-associated fold, the
    * same add order as Quantization.rotate's aggregate — bit-identical
    * doubles), feeding the standard unrolled PQ chain + ADC tail.
    */
  private def opqKnnOracle(dir: String): String = {
    val spark = org.apache.spark.sql.SparkSession.active
    val rot = opqRot(spark, dir)
    val vecSql = (0 until 64).map { out =>
      (1 to 64)
        .map(i => s"embedding[$i]::DOUBLE * (${rot(out)(i - 1)})::DOUBLE")
        .mkString("(", " + ", ")")
    }.mkString("list_value(", ", ", ")")
    s"""
      WITH opqv AS (SELECT vec_id, $vecSql AS v FROM embeddings),
      ${pqChainCtes(
        s"""SELECT vec_id, j AS subspace,
               v[(j * $PqDsub + 1):((j + 1) * $PqDsub)] AS subvec
        FROM opqv, (SELECT unnest(range($PqM)) AS j)""",
        seedSrc = "opqv")},
      ${pqAdcSql(PqM, PqDsub, 5)}"""
  }

  /** Ordered squared-L2 fold over `n` list positions — matches Spark's
    * sequential double accumulation exactly.
    */
  private def sqlL2(a: String, b: String, n: Int) =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** PQ codebook-build CTE chain (sub -> seeds -> 2x Lloyd -> cb): the
    * exact schedule Quantization.pqCodebooks runs, with every float
    * fold list-ordered to match Spark's sequential aggregate.
    * `subDef` supplies the subvector source CTE body, so the same
    * chain quantizes raw embeddings (emb_pq_*) or IVF residuals
    * (emb_knn_ivfpq).
    */
  private def pqChainCtes(
      subDef: String,
      dsub: Int = PqDsub,
      ksub: Int = PqKsub,
      seedSrc: String = "embeddings"): String = {
    def assign(cent: String, name: String) = s"""
      $name AS (
        SELECT subspace, vec_id, centroid_id AS cell FROM (
          SELECT s.subspace AS subspace, s.vec_id AS vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.subspace, s.vec_id
                                    ORDER BY ${sqlL2("s.subvec", "c.centroid", dsub)}, c.centroid_id) AS rn
          FROM sub s JOIN $cent c ON c.subspace = s.subspace)
        WHERE rn = 1)"""
    def mstep(a: String, name: String) = s"""
      $name AS (
        SELECT subspace, cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.subspace AS subspace, a.cell AS cell, u.pos, avg(u.x) AS c
          FROM (SELECT subspace, vec_id, unnest(subvec) AS x,
                       generate_subscripts(subvec, 1) AS pos FROM sub) u
          JOIN $a a ON u.vec_id = a.vec_id AND u.subspace = a.subspace
          GROUP BY a.subspace, a.cell, u.pos)
        GROUP BY subspace, cell)"""
    s"""
      sub AS ($subDef),
      s0 AS (
        SELECT subspace,
               CAST(row_number() OVER (PARTITION BY subspace ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               subvec AS centroid
        FROM sub WHERE vec_id IN (SELECT vec_id FROM $seedSrc ORDER BY vec_id LIMIT $ksub)),
      ${assign("s0", "a1")}, ${mstep("a1", "c1")},
      ${assign("c1", "a2")}, ${mstep("a2", "c2")},
      cb AS (
        SELECT subspace,
               CAST(row_number() OVER (PARTITION BY subspace ORDER BY centroid_id) - 1 AS INT) AS centroid_id,
               centroid
        FROM c2)"""
  }

  /** Raw-embedding subvector source for the emb_pq_* oracles. */
  private val pqPrefixCtes: String = pqChainCtes(s"""
        SELECT vec_id, j AS subspace,
               list_transform(embedding[(j * $PqDsub + 1):((j + 1) * $PqDsub)], x -> x::DOUBLE) AS subvec
        FROM embeddings, (SELECT unnest(range($PqM)) AS j)""")

  /** Unrolled greedy k-center (k=5): seed = min vec_id, then four
    * rounds of "farthest from nearest selected center" (max-min L2,
    * tiebreak smaller id) — the exact schedule
    * Sampling.kCenterSelect runs, with the same ordered double fold.
    */
  private lazy val kCenterOracleSql: String = {
    val d = sqlL2("e.embedding", "c.embedding", 64)
      .replaceAll("e\\.embedding\\[i\\]", "e.embedding[i]::DOUBLE")
      .replaceAll("c\\.embedding\\[i\\]", "c.embedding[i]::DOUBLE")
    def round(prev: String, n: Int): String = s"""
      d$n AS (
        SELECT e.vec_id, min($d) AS dmin
        FROM embeddings e, $prev c
        WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev)
        GROUP BY e.vec_id),
      p$n AS (SELECT vec_id, dmin FROM d$n ORDER BY dmin DESC, vec_id LIMIT 1),
      c$n AS (
        SELECT vec_id, embedding FROM $prev
        UNION ALL
        SELECT e.vec_id, e.embedding FROM embeddings e JOIN p$n ON p$n.vec_id = e.vec_id)"""
    s"""
      WITH c1 AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
      ${round("c1", 2)},
      ${round("c2", 3)},
      ${round("c3", 4)},
      ${round("c4", 5)}
      SELECT vec_id AS id, CAST(1 AS BIGINT) AS rank, NULL::DOUBLE AS dist FROM c1
      UNION ALL SELECT vec_id, 2, dmin FROM p2
      UNION ALL SELECT vec_id, 3, dmin FROM p3
      UNION ALL SELECT vec_id, 4, dmin FROM p4
      UNION ALL SELECT vec_id, 5, dmin FROM p5"""
  }

  /** The 16-dim md5-signed random projection of `embedding` as a SQL
    * list expression — the same left-associated double fold the native
    * graft_rp kernel evaluates (see emb_random_projection oracle).
    */
  private val rpVecSql: String = (0 until 16).map { j =>
    (1 to 64)
      .map(i => s"embedding[$i]::DOUBLE * (${Quantization.rpSign("rp", i, j)})")
      .mkString("(", " + ", s") / sqrt(16.0)")
  }.mkString("list_value(", ", ", ")")

  /** RP->PQ->ADC: the projected-space PQ oracle — JL projection to 16
    * dims, then the full PQ chain (m=8, dsub=2, ksub=32) and ADC
    * probe in the projected space.
    */
  private val rpPqKnnOracleSql: String =
    s"""
      WITH rpv AS (SELECT vec_id, $rpVecSql AS v FROM embeddings),
      ${pqChainCtes(
        """SELECT vec_id, j AS subspace, v[(j * 2 + 1):((j + 1) * 2)] AS subvec
        FROM rpv, (SELECT unnest(range(8)) AS j)""",
        dsub = 2, ksub = 32, seedSrc = "rpv")},
      ${pqAdcSql(8, 2, 5)}"""

  /** ADC encode+probe CTE tail (expects the `sub`/`cb` chain from
    * pqChainCtes in scope): codes per corpus vector, per-query
    * distance tables, asymmetric-distance top-k. Parameterized on the
    * subspace count / width so the same tail scores raw-space PQ
    * (emb_pq_knn) and projected-space PQ (emb_rp_pq_knn).
    */
  private def pqAdcSql(m: Int, dsub: Int, k: Int): String = {
    def l2(a: String, b: String) = sqlL2(a, b, dsub)
    s"""
      codes AS (
        SELECT subspace, vec_id, centroid_id AS code FROM (
          SELECT s.subspace AS subspace, s.vec_id AS vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.subspace, s.vec_id
                                    ORDER BY ${l2("s.subvec", "c.centroid")}, c.centroid_id) AS rn
          FROM sub s JOIN cb c ON c.subspace = s.subspace)
        WHERE rn = 1),
      enc AS (SELECT vec_id, list(code ORDER BY subspace) AS codes FROM codes GROUP BY vec_id),
      qt AS (
        SELECT query_id, subspace, list(d ORDER BY centroid_id) AS dists FROM (
          SELECT s.vec_id AS query_id, s.subspace AS subspace, c.centroid_id,
                 ${l2("s.subvec", "c.centroid")} AS d
          FROM sub s JOIN cb c ON c.subspace = s.subspace
          WHERE s.vec_id < 10)
        GROUP BY query_id, subspace),
      qtab AS (SELECT query_id, list(dists ORDER BY subspace) AS tables FROM qt GROUP BY query_id),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, ${m + 1}), j -> q.tables[j][e.codes[j] + 1])) AS adist
        FROM qtab q CROSS JOIN enc e
        WHERE e.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= $k"""
  }

  private val pqKnnOracleSql: String =
    s"""
      WITH $pqPrefixCtes,
      ${pqAdcSql(PqM, PqDsub, 5)}"""

  /** IVF-PQ oracle: learned coarse k-means cells (the kmeansOracleSql
    * chain, k-prefixed names) -> corpus assignment -> residuals -> PQ
    * chain over residual subvectors -> per-(query, probed-cell) ADC
    * tables -> within-cell scoring — the unrolled twin of
    * Quantization.knnIvfPq.
    */
  private val ivfPqOracleSql: String = {
    val dsub = PqDsub
    val residSub = s"""
        SELECT vec_id, j AS subspace,
               r[(j * $dsub + 1):((j + 1) * $dsub)] AS subvec
        FROM resid, (SELECT unnest(range($PqM)) AS j)"""
    // Coarse chain: cosine-assignment Lloyd, k=8, 3 iterations — the
    // exact kmeansCodebook schedule, CTE names prefixed with 'k'.
    def kassign(cent: String, name: String) = s"""
      $name AS (
        SELECT vec_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM (
            SELECT vec_id, centroid_id,
                   sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
            FROM (
              SELECT e.vec_id, c.centroid_id,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
              FROM embeddings e CROSS JOIN $cent c)
            GROUP BY vec_id, centroid_id))
        WHERE rn = 1)"""
    def kmstep(assignName: String, name: String) = s"""
      $name AS (
        SELECT cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.cell, u.pos, avg(u.x) AS c
          FROM (
            SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings) u
          JOIN $assignName a ON u.vec_id = a.vec_id
          GROUP BY a.cell, u.pos)
        GROUP BY cell)"""
    s"""
      WITH ks0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               list_transform(embedding, x -> x::DOUBLE) AS centroid
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
      ${kassign("ks0", "ka1")}, ${kmstep("ka1", "kc1")},
      ${kassign("kc1", "ka2")}, ${kmstep("ka2", "kc2")},
      ${kassign("kc2", "ka3")}, ${kmstep("ka3", "kc3")},
      ${kassign("kc3", "cassign")},
      resid AS (
        SELECT e.vec_id, a.cell,
               list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - c.centroid[i]) AS r
        FROM embeddings e
        JOIN cassign a ON a.vec_id = e.vec_id
        JOIN kc3 c ON c.centroid_id = a.cell),
      ${pqChainCtes(residSub)},
      codes AS (
        SELECT subspace, vec_id, centroid_id AS code FROM (
          SELECT s.subspace AS subspace, s.vec_id AS vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.subspace, s.vec_id
                                    ORDER BY ${sqlL2("s.subvec", "c.centroid", dsub)}, c.centroid_id) AS rn
          FROM sub s JOIN cb c ON c.subspace = s.subspace)
        WHERE rn = 1),
      enc AS (
        SELECT k.vec_id, r.cell, k.codes FROM (
          SELECT vec_id, list(code ORDER BY subspace) AS codes
          FROM codes GROUP BY vec_id) k
        JOIN resid r ON r.vec_id = k.vec_id),
      qcells AS (
        SELECT vec_id AS query_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rk
          FROM (
            SELECT vec_id, centroid_id,
                   sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
            FROM (
              SELECT e.vec_id, c.centroid_id,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
              FROM embeddings e CROSS JOIN kc3 c WHERE e.vec_id < 10)
            GROUP BY vec_id, centroid_id))
        WHERE rk <= 3),
      qresid AS (
        SELECT q.query_id, q.cell,
               list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - c.centroid[i]) AS qr
        FROM qcells q
        JOIN embeddings e ON e.vec_id = q.query_id
        JOIN kc3 c ON c.centroid_id = q.cell),
      qsub AS (
        SELECT query_id, cell, j AS subspace,
               qr[(j * $dsub + 1):((j + 1) * $dsub)] AS subvec
        FROM qresid, (SELECT unnest(range($PqM)) AS j)),
      qt AS (
        SELECT query_id, cell, subspace, list(d ORDER BY centroid_id) AS dists FROM (
          SELECT s.query_id AS query_id, s.cell AS cell, s.subspace AS subspace, c.centroid_id,
                 ${sqlL2("s.subvec", "c.centroid", dsub)} AS d
          FROM qsub s JOIN cb c ON c.subspace = s.subspace)
        GROUP BY query_id, cell, subspace),
      qtab AS (
        SELECT query_id, cell, list(dists ORDER BY subspace) AS tables
        FROM qt GROUP BY query_id, cell),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, ${PqM + 1}), j -> q.tables[j][e.codes[j] + 1])) AS adist
        FROM qtab q JOIN enc e ON e.cell = q.cell
        WHERE e.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5"""
  }

  /** IVFPQ+Refine oracle: the full ivfPqOracleSql chain widened to the
    * 20-candidate ADC shortlist (nested WITH inside the CTE body —
    * legal subquery scoping), then the exact-cosine rerank tail of the
    * binary-rerank oracle.
    */
  private lazy val ivfPqRerankOracleSql: String = {
    require(ivfPqOracleSql.trim.endsWith("WHERE rank <= 5"),
      "ivfPqOracleSql tail changed; update the rerank wrapper")
    s"""
      WITH cands AS (
        ${ivfPqOracleSql.replace("WHERE rank <= 5", "WHERE rank <= 20")}),
      rscored AS (
        SELECT query_id, neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT c.query_id, c.neighbor_id,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM cands c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings n ON n.vec_id = c.neighbor_id)
        GROUP BY query_id, neighbor_id)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM rscored)
      WHERE rank <= 5"""
  }

  /** Incremental-maintenance oracle: the IVF-PQ chain with TRAINING
    * restricted to the old corpus (vec_id >= 10) and ENCODING covering
    * every row — the unrolled twin of buildIvfPq(old) +
    * upsertIvfPq(delta) with frozen artifacts. CTE structure mirrors
    * ivfPqOracleSql; only the FROM sources differ (train vs all).
    */
  private val ivfPqUpsertOracleSql: String = {
    val dsub = PqDsub
    // coarse Lloyd trained on `train` only
    def kassign(cent: String, name: String, src: String) = s"""
      $name AS (
        SELECT vec_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM (
            SELECT vec_id, centroid_id,
                   sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
            FROM (
              SELECT e.vec_id, c.centroid_id,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
              FROM $src e CROSS JOIN $cent c)
            GROUP BY vec_id, centroid_id))
        WHERE rn = 1)"""
    def kmstep(assignName: String, name: String) = s"""
      $name AS (
        SELECT cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.cell, u.pos, avg(u.x) AS c
          FROM (
            SELECT vec_id, unnest(embedding)::DOUBLE AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM train) u
          JOIN $assignName a ON u.vec_id = a.vec_id
          GROUP BY a.cell, u.pos)
        GROUP BY cell)"""
    // PQ Lloyd trained on train-residual subvectors only
    def passign(cent: String, name: String, src: String) = s"""
      $name AS (
        SELECT subspace, vec_id, centroid_id AS cell FROM (
          SELECT s.subspace AS subspace, s.vec_id AS vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.subspace, s.vec_id
                                    ORDER BY ${sqlL2("s.subvec", "c.centroid", dsub)}, c.centroid_id) AS rn
          FROM $src s JOIN $cent c ON c.subspace = s.subspace)
        WHERE rn = 1)"""
    def pmstep(a: String, name: String) = s"""
      $name AS (
        SELECT subspace, cell AS centroid_id, list(c ORDER BY pos) AS centroid FROM (
          SELECT a.subspace AS subspace, a.cell AS cell, u.pos, avg(u.x) AS c
          FROM (SELECT subspace, vec_id, unnest(subvec) AS x,
                       generate_subscripts(subvec, 1) AS pos FROM subt) u
          JOIN $a a ON u.vec_id = a.vec_id AND u.subspace = a.subspace
          GROUP BY a.subspace, a.cell, u.pos)
        GROUP BY subspace, cell)"""
    s"""
      WITH train AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
      ks0 AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               list_transform(embedding, x -> x::DOUBLE) AS centroid
        FROM (SELECT vec_id, embedding FROM train ORDER BY vec_id LIMIT 8)),
      ${kassign("ks0", "ka1", "train")}, ${kmstep("ka1", "kc1")},
      ${kassign("kc1", "ka2", "train")}, ${kmstep("ka2", "kc2")},
      ${kassign("kc2", "ka3", "train")}, ${kmstep("ka3", "kc3")},
      ${kassign("kc3", "cassign", "embeddings")},
      resid AS (
        SELECT e.vec_id, a.cell,
               list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE - c.centroid[i]) AS r
        FROM embeddings e
        JOIN cassign a ON a.vec_id = e.vec_id
        JOIN kc3 c ON c.centroid_id = a.cell),
      suba AS (
        SELECT vec_id, j AS subspace,
               r[(j * $dsub + 1):((j + 1) * $dsub)] AS subvec
        FROM resid, (SELECT unnest(range($PqM)) AS j)),
      subt AS (SELECT * FROM suba WHERE vec_id >= 10),
      s0 AS (
        SELECT subspace,
               CAST(row_number() OVER (PARTITION BY subspace ORDER BY vec_id) - 1 AS INT) AS centroid_id,
               subvec AS centroid
        FROM subt WHERE vec_id IN (SELECT vec_id FROM train ORDER BY vec_id LIMIT $PqKsub)),
      ${passign("s0", "a1", "subt")}, ${pmstep("a1", "c1")},
      ${passign("c1", "a2", "subt")}, ${pmstep("a2", "c2")},
      cb AS (
        SELECT subspace,
               CAST(row_number() OVER (PARTITION BY subspace ORDER BY centroid_id) - 1 AS INT) AS centroid_id,
               centroid
        FROM c2),
      ${passign("cb", "acodes", "suba")},
      enc AS (
        SELECT vec_id, list(cell ORDER BY subspace) AS codes
        FROM acodes GROUP BY vec_id)
      SELECT e.vec_id, CAST(r.cell AS BIGINT) AS cell,
             array_to_string(list_transform(e.codes, x -> CAST(x AS VARCHAR)), ',') AS codes
      FROM enc e JOIN resid r ON r.vec_id = e.vec_id"""
  }

  private def embOracles: Map[String, String] = Map(
    // SSP pruning: same Lloyd CTE chain + sim-keeping assignment,
    // hardness rank ASCENDING, per-cluster ceil(n/2) keep budget.
    "emb_ssp_prune" -> s"""
      WITH $kmeansCtes,
      $kmeansAssignSimCte,
      ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY sim ASC, vec_id) AS rnk,
               count(*) OVER (PARTITION BY cell) AS n
        FROM a4s)
      SELECT vec_id, CAST(cell AS BIGINT) AS cluster,
             CAST(rnk AS BIGINT) AS hardness_rank,
             rnk <= ceil(n * 0.5) AS kept
      FROM ranked""",
    "corpus_cluster_profile" -> s"""
      WITH $kmeansCtes, ${kmeansAssignCte("c3", "a4")}
      SELECT CAST(cell AS BIGINT) AS cluster,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
             CAST(sum(d.n_chars) AS BIGINT) AS total_chars
      FROM a4 JOIN documents d ON d.doc_id = a4.vec_id
      GROUP BY cell""",
    "emb_knn_filtered" -> """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n
            ON n.vec_id <> q.vec_id AND n.label IN (1, 2, 3)
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5""",
    "emb_knn_l2" -> """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id, sum((x - y) * (x - y)) AS dist FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5""",
    "emb_knn_binary" -> """
      WITH s AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 64),
                    i -> CASE WHEN embedding[i + 1] <= 0 THEN 0::BIGINT
                              WHEN i = 63 THEN ((-9223372036854775807)::BIGINT - 1)
                              ELSE (1::BIGINT << i) END)) AS BIGINT) AS sk
        FROM embeddings),
      scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               bit_count(xor(q.sk, n.sk)) AS h
        FROM s q JOIN s n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < 10)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5""",
    "emb_knn_binary_rerank" -> """
      WITH s AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 64),
                    i -> CASE WHEN embedding[i + 1] <= 0 THEN 0::BIGINT
                              WHEN i = 63 THEN ((-9223372036854775807)::BIGINT - 1)
                              ELSE (1::BIGINT << i) END)) AS BIGINT) AS sk
        FROM embeddings),
      cands AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.sk, n.sk)), n.vec_id) AS hrank
          FROM s q JOIN s n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        WHERE hrank <= 20),
      scored AS (
        SELECT query_id, neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT c.query_id, c.neighbor_id,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM cands c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings n ON n.vec_id = c.neighbor_id)
        GROUP BY query_id, neighbor_id)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5""",
    "emb_knn_ip" -> """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id, sum(x * y) AS ip FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5""",
    "emb_int8_quant" -> """
      WITH u AS (
        SELECT vec_id, unnest(embedding)::DOUBLE AS x FROM embeddings),
      mm AS (
        SELECT vec_id, min(x) AS vmin, (max(x) - min(x)) / 255.0 AS scale
        FROM u GROUP BY vec_id),
      cc AS (
        SELECT u.vec_id,
               CASE WHEN scale = 0 THEN 0
                    ELSE CAST(round((x - vmin) / scale, 0) AS INT) END AS code,
               CASE WHEN scale = 0 THEN 0.0
                    ELSE abs(x - (vmin + round((x - vmin) / scale, 0) * scale)) END AS err
        FROM u JOIN mm ON u.vec_id = mm.vec_id)
      SELECT vec_id, CAST(count(*) AS BIGINT) AS n_codes,
             CAST(min(code) AS BIGINT) AS code_min,
             CAST(max(code) AS BIGINT) AS code_max,
             round(max(err), 6) AS max_abs_err,
             round(sum(err) / count(*), 6) AS mean_abs_err
      FROM cc GROUP BY vec_id""",
    "emb_knn_ivfpq" -> ivfPqOracleSql,
    "emb_knn_ivfpq_rerank" -> ivfPqRerankOracleSql,
    // the reloaded index must answer exactly like the fresh one
    "emb_index_persist" -> ivfPqOracleSql,
    "emb_index_upsert" -> ivfPqUpsertOracleSql,
    "emb_pq_codebooks" -> s"""
      WITH $pqPrefixCtes
      SELECT CAST(subspace AS BIGINT) AS subspace,
             CAST(centroid_id AS BIGINT) AS centroid_id,
             CAST(len(centroid) AS BIGINT) AS dims,
             round(sqrt(list_sum(list_transform(centroid, x -> x * x))), 6) AS c_norm
      FROM cb""",
    "emb_pq_knn" -> pqKnnOracleSql,
    "emb_maxsim" -> """
      WITH qt AS (
        SELECT label AS query_id, rn AS qtok, embedding AS q FROM (
          SELECT label, vec_id, embedding,
                 row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
          FROM embeddings WHERE label < 3) WHERE rn <= 3),
      pairs AS (
        SELECT query_id, doc_id, qtok, dvid,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim
        FROM (
          SELECT qt.query_id, e.label AS doc_id, qt.qtok, e.vec_id AS dvid,
                 unnest(qt.q)::DOUBLE AS x, unnest(e.embedding)::DOUBLE AS y
          FROM qt CROSS JOIN embeddings e)
        GROUP BY query_id, doc_id, qtok, dvid),
      m AS (
        SELECT query_id, doc_id, qtok, max(sim) AS tok_max
        FROM pairs GROUP BY query_id, doc_id, qtok)
      SELECT query_id, doc_id,
             CAST(sum(CAST(tok_max AS DECIMAL(18,6))) AS DOUBLE) AS maxsim,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM m GROUP BY query_id, doc_id""",
    "emb_rp_pq_knn" -> rpPqKnnOracleSql,
    "emb_get_multi" -> """
      SELECT vec_id, len(embedding) AS dims, embedding[1] AS e_first,
             embedding[-1] AS e_last, label
      FROM embeddings WHERE vec_id BETWEEN 0 AND 9""",
    "emb_knn_brute" -> knnBruteSql,
    "emb_range_search" -> """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, sim FROM scored WHERE sim >= 0.35""",
    "emb_knn_grouped" -> """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id, nl AS group_label,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid, n.label AS nl,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid, nl),
      capped AS (
        SELECT query_id, neighbor_id, group_label, sim,
               row_number() OVER (PARTITION BY query_id, group_label
                                  ORDER BY sim DESC, neighbor_id) AS grn
        FROM scored)
      SELECT query_id, neighbor_id, CAST(group_label AS INT) AS group_label, rank FROM (
        SELECT query_id, neighbor_id, group_label,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM capped WHERE grn <= 2)
      WHERE rank <= 5""",
    // Same brute-force scoring CTE, split by the anchor/neighbor label
    // relation into the positive and hard-negative ranked lists.
    "emb_triplet_mine" -> """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id, ql, nl,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid, q.label AS ql, n.label AS nl,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid, ql, nl),
      ranked AS (
        SELECT query_id, neighbor_id,
               CASE WHEN ql = nl THEN 'pos' ELSE 'neg' END AS kind,
               row_number() OVER (
                 PARTITION BY query_id, ql = nl
                 ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, kind, neighbor_id, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 5""",
    "emb_knn_ivf" -> knnBruteSql,
    "emb_knn_ivf_kmeans" -> knnBruteSql,
    // Partial-probe IVF unrolled: label centroids -> corpus cell
    // assignment (argmax cosine, smallest-id tiebreak) -> top-3 cells
    // per query -> exact top-5 within the probed cells only.
    "emb_knn_ivf_partial" -> s"""
      WITH $centroidCte,
      ascore AS (
        SELECT vec_id, centroid_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT e.vec_id, c.centroid_id,
                 unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
          FROM embeddings e CROSS JOIN cent c)
        GROUP BY vec_id, centroid_id),
      assigned AS (
        SELECT vec_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM ascore) WHERE rn = 1),
      qcells AS (
        SELECT vec_id AS query_id, centroid_id AS cell FROM (
          SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rk
          FROM ascore WHERE vec_id < 10) WHERE rk <= 3),
      scored AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q
          JOIN qcells qc ON qc.query_id = q.vec_id
          JOIN assigned a ON a.cell = qc.cell
          JOIN embeddings n ON n.vec_id = a.vec_id AND n.vec_id <> q.vec_id)
        GROUP BY qid, nvid)
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5""",
    "emb_ivf_recall" -> """
      SELECT vec_id AS query_id, round(1.0, 4) AS recall
      FROM embeddings WHERE vec_id < 10""",
    "emb_kmeans" -> kmeansOracleSql,
    "graph_pagerank" -> pageRankOracleSql,
    "graph_label_prop" -> labelPropOracleSql,
    "graph_triangles" -> triangleOracleSql,
    "graph_link_predict" -> linkPredictOracleSql,
    "graph_kcore" -> kcoreOracleSql,
    "emb_hnsw_build" -> hnswOracleSql,
    // full probe == brute candidates => the IVF-built hierarchy must
    // hash-equal the brute oracle (same discipline as emb_knn_ivf)
    "emb_hnsw_ivf_build" -> hnswOracleSql,
    "emb_hnsw_build_sampled" -> hnswSampledOracleSql,
    "emb_hnsw_search" -> hnswSearchOracleSql,
    "emb_hnsw_search_sampled" -> hnswSearchSampledOracleSql,
    "emb_hnsw_export" -> hnswExportOracleSql,
    "emb_hnsw_export_sampled" -> hnswExportSampledOracleSql,
    "graph_pagerank_bipartite" -> pageRankBipartiteOracleSql,
    "graph_label_prop_bipartite" -> labelPropBipartiteOracleSql,
    "emb_label_consistency" -> labelConsistencyOracleSql,
    "emb_centroid_drift" -> """
      WITH b AS (
        SELECT label, vec_id % 2 = 0 AS is_old,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings),
      m AS (SELECT label, is_old, pos, avg(x) AS m FROM b GROUP BY 1, 2, 3),
      d AS (
        SELECT o.label,
               CAST(round((o.m - n.m) * (o.m - n.m), 12) AS DECIMAL(28,12)) AS d2
        FROM m o JOIN m n ON o.label = n.label AND o.pos = n.pos
        WHERE o.is_old AND NOT n.is_old),
      c AS (
        SELECT label,
               CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
               CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_new
        FROM embeddings GROUP BY label)
      SELECT d.label, sqrt(CAST(sum(d2) AS DOUBLE)) AS centroid_shift, n_old, n_new
      FROM d JOIN c ON c.label = d.label
      GROUP BY d.label, n_old, n_new""",
    // The oracle unrolls the SAME left-associated double fold the
    // Spark expression evaluates, with the same md5-derived ±1 signs
    // (Quantization.rpSign) baked in as literals — sequential double
    // adds are bit-identical when the fold order matches.
    "emb_random_projection" -> (0 until 16).map { j =>
      val chain = (1 to 64)
        .map(i => s"embedding[$i]::DOUBLE * (${Quantization.rpSign("rp", i, j)})")
        .mkString(" + ")
      s"""SELECT vec_id, CAST($j AS BIGINT) AS out_dim, ($chain) / sqrt(16.0) AS p
          FROM embeddings"""
    }.mkString("\n      UNION ALL "),
    "emb_rp_recall" -> {
      val chains = (0 until 16).map { j =>
        (1 to 64)
          .map(i => s"embedding[$i]::DOUBLE * (${Quantization.rpSign("rp", i, j)})")
          .mkString("(", " + ", s") / sqrt(16.0)")
      }.mkString("list_value(", ", ", ")")
      s"""
      WITH rpv AS (SELECT vec_id, $chains AS v FROM embeddings),
      tsc AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.v) AS x, unnest(n.v) AS y
          FROM rpv q JOIN rpv n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      tlist AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM tsc) WHERE rank <= 5),
      esc AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      elist AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM esc) WHERE rank <= 5),
      hits AS (
        SELECT t.query_id, count(*) AS n_hits
        FROM tlist t JOIN elist e
          ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY t.query_id),
      kk AS (SELECT query_id, count(*) AS k FROM elist GROUP BY query_id)
      SELECT kk.query_id, round(coalesce(n_hits, 0) / k, 4) AS recall
      FROM kk LEFT JOIN hits ON hits.query_id = kk.query_id"""
    },
    "emb_matryoshka_recall" -> """
      WITH tsc AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding[1:16])::DOUBLE AS x,
                 unnest(n.embedding[1:16])::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      tlist AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM tsc) WHERE rank <= 5),
      esc AS (
        SELECT qid AS query_id, nvid AS neighbor_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      elist AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM esc) WHERE rank <= 5),
      hits AS (
        SELECT t.query_id, count(*) AS n_hits
        FROM tlist t JOIN elist e
          ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY t.query_id),
      kk AS (SELECT query_id, count(*) AS k FROM elist GROUP BY query_id)
      SELECT kk.query_id, round(coalesce(n_hits, 0) / k, 4) AS recall
      FROM kk LEFT JOIN hits ON hits.query_id = kk.query_id""",
    "emb_upsert" -> """
      WITH delta AS (
        SELECT vec_id, list_reverse(embedding) AS embedding, label + 1000 AS label
        FROM embeddings WHERE vec_id < 25
        UNION ALL
        SELECT vec_id + 1000000, embedding, label + 2000 FROM embeddings WHERE vec_id < 5),
      merged AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM delta)
        UNION ALL SELECT vec_id, embedding, label FROM delta)
      SELECT vec_id, label, len(embedding) AS dims,
             embedding[1] AS e_first, embedding[-1] AS e_last
      FROM merged""",
    "emb_space_lifecycle" -> """
      SELECT label, count(*) AS n, min(vec_id) AS min_key, max(vec_id) AS max_key,
             CAST(1 AS BIGINT) AS version
      FROM embeddings WHERE vec_id < 100 GROUP BY label
      UNION ALL
      SELECT label, count(*), min(vec_id), max(vec_id), CAST(2 AS BIGINT)
      FROM embeddings GROUP BY label""",
    "emb_pairwise_cosine" -> """
      SELECT a, b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim FROM (
        SELECT a, b, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb FROM (
          SELECT a.vec_id AS a, b.vec_id AS b,
                 unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
          FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100
          WHERE a.vec_id < 20) GROUP BY a, b)""",
    "emb_centroids" -> s"""
      WITH $centroidCte
      SELECT label, count(*) AS dims, round(sqrt(sum(c * c)), 6) AS c_norm
      FROM cd GROUP BY label""",
    "emb_nearest_centroid" -> s"""
      WITH $centroidCte,
      scored AS (
        SELECT vec_id, own_label, centroid_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT e.vec_id, e.label AS own_label, c.centroid_id,
                 unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
          FROM embeddings e CROSS JOIN cent c)
        GROUP BY vec_id, own_label, centroid_id)
      SELECT vec_id, centroid_id AS assigned, own_label,
             CAST(centroid_id = own_label AS INT) AS is_own FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
        FROM scored) WHERE rn = 1""",
    "emb_ood_scores" -> """
      WITH comp AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(floor(unnest(embedding)::DOUBLE * 1000000.0) AS BIGINT) + 1000000 AS vm
        FROM embeddings),
      m AS (
        SELECT pos, CAST(sum(vm) // count(*) AS BIGINT) AS mm
        FROM comp GROUP BY pos),
      d AS (
        SELECT vec_id, CAST(sum((vm - mm) * (vm - mm)) AS BIGINT) AS d2
        FROM comp JOIN m USING (pos) GROUP BY vec_id),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      rn AS (
        SELECT vec_id, d2, row_number() OVER (ORDER BY d2, vec_id) AS r FROM d)
      SELECT vec_id, d2, r > n - n * 1 // 100 AS is_ood
      FROM rn CROSS JOIN tot""",
    "emb_norm_stats" -> """
      WITH n AS (
        SELECT label, sqrt(sum(x * x)) AS nrm FROM (
          SELECT vec_id, label, unnest(embedding)::DOUBLE AS x FROM embeddings)
        GROUP BY vec_id, label)
      SELECT label, round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm,
             round(avg(nrm), 6) AS avg_norm
      FROM n GROUP BY label""",
    "emb_download" -> """
      SELECT vec_id, label, len(embedding) AS dims, embedding[1] AS e_first
      FROM embeddings"""
  )

  // ---------------------------------------------------------------- //
  // Dedup                                                            //
  // ---------------------------------------------------------------- //

  private def dedupQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),
    // Native one-pass md5 sketch kernel (graft.plans.MinHashBands) —
    // bit-identical to minhashLsh(portableHashes = true), so the DuckDB
    // oracle rebuilds the full LSH pipeline hash-for-hash. (xxhash64
    // stays the prod-default hash for Spark-only deployments.)
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshNative(t(s, dir, "documents"), "doc_id", "text")),
    // Filter+verify record linkage: LSH candidates verified by exact
    // character-level Levenshtein (<= 20% of the longer text).
    "dedup_edit_verify" -> ((s, dir) =>
      Dedup.editVerifiedPairs(
        t(s, dir, "documents"), "doc_id", "text", 0.2,
        maxCandidateInstances = Some(10000000000L))),
    // Corpus-governance view: exact distinct-shingle Jaccard between
    // sources, side by side with its 16-lane MinHash estimate.
    "dedup_corpus_overlap" -> ((s, dir) =>
      Dedup.corpusOverlap(t(s, dir, "documents"), "source", "text")),
    // maxHamming=3 over 4 derived bands = exact candidate recall
    // (pigeonhole); see Dedup.simhashNearDups.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(
        t(s, dir, "documents"), "doc_id", "text", maxHamming = 3, portableHashes = true)),
    // The pairwise verifies run with the candidate-budget circuit
    // breaker armed (Dedup.guardBudget): on a duplication-heavy corpus
    // the verify OUTPUT, not the blocked candidate generation, is the
    // 100x-scale cost — the guard prices the bucket join from index
    // statistics (O(buckets), zero pair-stream passes) and fails fast
    // with sizing guidance instead of a silent quadratic burn. The cap
    // counts JOIN INSTANCES (>= distinct pairs); 1e10 ~ 28 h of verify
    // kernel on one box — past that, fail and resize.
    "dedup_jaccard_words" -> ((s, dir) =>
      Dedup.jaccardWordPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.9,
        maxCandidateInstances = Some(10000000000L))),
    // Asymmetric doc-in-doc containment: ordered (contained, container)
    // pairs at C(a->b) >= 0.8 — catches the small-doc-inside-big-doc
    // class the symmetric Jaccard size-ratio filter excludes.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.8,
        maxCandidateInstances = Some(10000000000L))),
    // Keyed 1/256 samples of the two heavy verified-pair streams — the
    // sf10-and-beyond gate form: the FULL pair set at sf10 is ~360 M
    // rows (impractical to single-file hash-compare), but a
    // deterministic md5(a:b)-keyed slice hashes the same verified
    // pairs in both engines at any scale. The full queries stay gated
    // at the driver SFs; these run everywhere and keep the generated-
    // corpus gate honest where the full dump can't go.
    "dedup_jaccard_sampled" -> ((s, dir) =>
      pairSample(Dedup.jaccardWordPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.9,
        maxCandidateInstances = Some(10000000000L)))),
    "dedup_containment_sampled" -> ((s, dir) =>
      pairSample(Dedup.containmentPairs(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.8,
        maxCandidateInstances = Some(10000000000L)))),
    // Sequence-level span dedup (Lee et al. 2021 analog): repeated
    // 8-token spans survive only at their first corpus occurrence.
    "dedup_spans" -> ((s, dir) =>
      Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", spanWords = 8)),
    // Sliding-window duplicated-substring ranges (ExactSubstr flavor):
    // any-alignment 10-token matches merged into maximal spans.
    "dedup_ngram_spans" -> ((s, dir) =>
      Dedup.ngramSpanDedup(t(s, dir, "documents"), "doc_id", "text", k = 10)),
    // Exact verification scaffold (O(|block|^2) by construction; the
    // production paths are dedup_embedding_lsh / dedup_semantic). The
    // maxBlockRows guard enforces that role: oversize blocks fail fast.
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDups(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", 0.3,
        maxBlockRows = Some(100000L))),
    // Sub-quadratic embedding near-dup via random-hyperplane LSH
    // (Charikar'02): md5-signed hyperplanes -> sign-bit sketch ->
    // exact-band candidates -> exact-cosine verify. The data-adaptive
    // counterpart of dedup_embedding's label blocking. Banding is
    // COUNT-ADAPTIVE (Dedup.lshAdaptiveParams — band width grows with
    // the corpus so expected bucket size stays bounded; the r10 fixed
    // 4-bit bands were 16 buckets forever and went quadratic at sf10),
    // and the candidate join is budget-guarded like every pair family.
    "dedup_embedding_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (planes, bands) = Dedup.lshAdaptiveParams(emb.count())
      Dedup.embeddingLshDedup(
        emb, "vec_id", "embedding",
        dims = 64, planes = planes, bands = bands, cosFloor = 0.3,
        maxCandidateInstances = Some(10000000000L))
    }),
    "dedup_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = Dedup
        .jaccardWordPairs(docs, "doc_id", "text", "lang", 0.9)
        .select(col("a"), col("b"))
      Dedup.connectedComponents(edges, docs, "doc_id")
    }),
    // The full published near-dedup pipeline in one query (the GPT-3/
    // Lee-et-al corpus-dedup recipe): MinHash-LSH candidate pairs ->
    // connected components -> keep the min-id doc per cluster, with
    // the cluster size it absorbed — the cleaned-corpus view.
    "dedup_canonicalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshNative(docs, "doc_id", "text").select(col("a"), col("b"))
      val cc = Dedup.connectedComponents(pairs, docs, "doc_id")
      val sizes = cc.groupBy(col("canonical_id")).agg(count(lit(1)).as("n_merged"))
      docs
        .join(sizes, col("doc_id") === col("canonical_id"))
        .select(col("doc_id"), col("n_merged"), col("n_chars"))
    }),
    // INCREMENTAL connected components — the daily-delta path: docs
    // with id < cut are "yesterday's corpus" whose CC labels are
    // already stored; today only the label STAR EDGES (node ->
    // canonical, |V_old| edges) plus the delta pairs (any pair
    // touching a new doc) enter the loop, never yesterday's full pair
    // set. Output must equal full CC over all pairs — the oracle IS
    // the full recompute (recursive CTE), so the equivalence is
    // hash-gated. Work scales with |delta| + |labels|, not |pairs|.
    "dedup_cc_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = lit(docs.count() / 2) // "yesterday" = the older half
      val pairs = Dedup.minhashLshNative(docs, "doc_id", "text")
        .select(col("a"), col("b"))
        .pinned()
      val oldPairs = pairs.where(col("a") < cut && col("b") < cut)
      val deltaPairs = pairs.where(col("a") >= cut || col("b") >= cut)
      val oldDocs = docs.where(col("doc_id") < cut)
      val oldLabels = Dedup.connectedComponents(oldPairs, oldDocs, "doc_id")
      val starEdges = oldLabels
        .where(col("doc_id") =!= col("canonical_id"))
        .select(col("doc_id").as("a"), col("canonical_id").as("b"))
      Dedup.connectedComponents(starEdges.unionByName(deltaPairs), docs, "doc_id")
    }),
    // SemDeDup (Abbas et al. 2023): semantic pruning — same Lloyd
    // schedule as emb_kmeans (k=8, 3 iterations), members ranked by
    // similarity to their centroid, later-ranked members with an
    // earlier eps-neighbor are pruned. The whole chain (clustering,
    // assignment, ranking, pair test) unrolls into the SQL oracle.
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semDeDup(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iterations = 3, eps = 0.25))
  )

  /** Generated oracle for the md5-portable minhash+LSH pipeline:
    * width-3 word shingles, 16 min-hash lanes (seed g's md5 split into
    * its two 64-bit hex halves; min over fixed-width lowercase hex ==
    * min over the 64-bit value), 4 bands of 4.
    */
  /** The minhash WITH-chain body (toks -> sh -> sig -> banded),
    * shared by the pair query and the canonicalize pipeline.
    */
  private val minhashChainCtes: String = {
    val bands = 4
    val rpb = 4
    val sigCols = (0 until bands * rpb / 2)
      .flatMap(g => Seq(
        s"min(substr(md5('$g:' || sh), 1, 16)) AS h${2 * g}",
        s"min(substr(md5('$g:' || sh), 17, 16)) AS h${2 * g + 1}"))
      .mkString(",\n               ")
    val bandRows = (0 until bands).map { b =>
      val parts = (b * rpb until (b + 1) * rpb).map(i => s"h$i").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bh FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
          FROM toks)),
      sig AS (
        SELECT doc_id, $sigCols
        FROM sh GROUP BY doc_id),
      banded AS (
        $bandRows)"""
  }

  /** Corpus-pair overlap: exact distinct-shingle Jaccard + the 16-lane
    * split-md5 MinHash estimate, both engines computing identical
    * string minima over fixed-width lowercase hex.
    */
  private val corpusOverlapOracleSql: String = {
    val lanes = 16
    val laneMins = (0 until lanes / 2)
      .flatMap(g => Seq(
        s"min(substr(md5('$g:' || sh), 1, 16)) AS h${2 * g}",
        s"min(substr(md5('$g:' || sh), 17, 16)) AS h${2 * g + 1}"))
      .mkString(",\n               ")
    val laneMatch = (0 until lanes)
      .map(i => s"(CASE WHEN p.h$i = q.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""
      WITH shx AS (
        SELECT DISTINCT grp, sh FROM (
          SELECT source AS grp, unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
          FROM (SELECT source, string_split(text, ' ') AS t FROM documents))),
      sizes AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM shx GROUP BY grp),
      inter AS (
        SELECT x.grp AS a, y.grp AS b, CAST(count(*) AS BIGINT) AS inter
        FROM shx x JOIN shx y ON x.sh = y.sh AND x.grp < y.grp
        GROUP BY x.grp, y.grp),
      sig AS (
        SELECT grp, $laneMins
        FROM shx GROUP BY grp),
      m AS (
        SELECT p.grp AS a, q.grp AS b, CAST($laneMatch AS BIGINT) AS lane_matches
        FROM sig p JOIN sig q ON p.grp < q.grp)
      SELECT m.a, m.b, sa.n AS n_a, sb.n AS n_b,
             coalesce(i.inter, 0) AS inter,
             CAST(coalesce(i.inter, 0) AS DOUBLE)
               / (sa.n + sb.n - coalesce(i.inter, 0)) AS jaccard,
             CAST(m.lane_matches AS DOUBLE) / $lanes AS est_jaccard,
             m.lane_matches
      FROM m
      JOIN sizes sa ON sa.grp = m.a
      JOIN sizes sb ON sb.grp = m.b
      LEFT JOIN inter i ON i.a = m.a AND i.b = m.b"""
  }

  private val minhashOracleSql: String =
    s"""
      WITH $minhashChainCtes
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_bands
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id"""

  /** Minhash pairs -> min-label connected components -> canonical
    * survivor per cluster with its absorbed size.
    */
  private val dedupCanonicalizeOracleSql: String =
    s"""
      WITH RECURSIVE $minhashChainCtes,
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x
        JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      sym AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs),
      cc(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, cc.lbl FROM cc JOIN sym s ON s.src = cc.node AND cc.lbl < s.dst),
      cc2 AS (SELECT node AS doc_id, min(lbl) AS canonical_id FROM cc GROUP BY node),
      sizes AS (SELECT canonical_id, count(*) AS n_merged FROM cc2 GROUP BY canonical_id)
      SELECT d.doc_id, CAST(s.n_merged AS BIGINT) AS n_merged, d.n_chars
      FROM documents d JOIN sizes s ON s.canonical_id = d.doc_id"""

  /** Generated oracle for the md5-portable simhash pipeline: 60-bit
    * token hashes (top 60 bits of md5), per-bit counter sums, 4 bands
    * of 15 bits, hamming <= 3.
    */
  private val simhashOracleSql: String = {
    val nBits = 60
    val nBands = 4
    val width = 15
    val bitSumCols = (0 until nBits)
      .map(i => s"sum(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n               ")
    val shExpr = (0 until nBits)
      .map(i => s"(CASE WHEN b$i > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" | ")
    val bandRows = (0 until nBands).map(b =>
      s"SELECT doc_id, sh, $b AS band, (sh >> ${b * width}) & ${(1L << width) - 1} AS bh FROM sh")
      .mkString("\n        UNION ALL ")
    s"""
      WITH tok AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents)),
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
      bs AS (SELECT doc_id, $bitSumCols FROM h GROUP BY doc_id),
      sh AS (SELECT doc_id, $shExpr AS sh FROM bs),
      banded AS (
        $bandRows)
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
             CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3"""
  }

  /** Final-codebook assignment CTE that KEEPS the winning similarity
    * (the rank key for SemDeDup's centroid-rank and SSP's hardness
    * rank) — shared by the dedup_semantic and emb_ssp_prune oracles.
    */
  private lazy val kmeansAssignSimCte: String = """
      a4s AS (
        SELECT vec_id, centroid_id AS cell, sim FROM (
          SELECT vec_id, centroid_id, sim,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
          FROM (
            SELECT vec_id, centroid_id,
                   sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim
            FROM (
              SELECT e.vec_id, c.centroid_id,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.centroid) AS y
              FROM embeddings e CROSS JOIN c3 c)
            GROUP BY vec_id, centroid_id))
        WHERE rn = 1)"""

  /** SemDeDup oracle: the shared k-means CTE chain, a final assignment
    * that KEEPS the winning similarity (the rank key), centroid-rank
    * windows per cluster, then the earlier-ranked eps-neighbor test.
    */
  private lazy val semDeDupOracleSql: String = s"""
      WITH $kmeansCtes,
      $kmeansAssignSimCte,
      ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rnk
        FROM a4s),
      psim AS (
        SELECT a, b, sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS cs FROM (
          SELECT la.vec_id AS a, lb.vec_id AS b,
                 unnest(ea.embedding)::DOUBLE AS x, unnest(eb.embedding)::DOUBLE AS y
          FROM ranked la
          JOIN ranked lb ON lb.cell = la.cell AND lb.rnk < la.rnk
          JOIN embeddings ea ON ea.vec_id = la.vec_id
          JOIN embeddings eb ON eb.vec_id = lb.vec_id)
        GROUP BY a, b),
      dups AS (SELECT DISTINCT a AS vec_id FROM psim WHERE cs > 0.25)
      SELECT r.vec_id, CAST(r.cell AS BIGINT) AS cluster,
             CAST(r.rnk AS BIGINT) AS rnk, (d.vec_id IS NULL) AS kept
      FROM ranked r LEFT JOIN dups d ON d.vec_id = r.vec_id"""

  private def dedupOracles: Map[String, String] = Map(
    "dedup_minhash_lsh" -> minhashOracleSql,
    // Full-recompute CC over ALL minhash pairs: the incremental path
    // must reproduce it exactly.
    "dedup_cc_incremental" -> s"""
      WITH RECURSIVE $minhashChainCtes,
      pairs AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM banded x
        JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      sym AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs),
      cc(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, cc.lbl FROM cc JOIN sym s ON s.src = cc.node AND cc.lbl < s.dst)
      SELECT node AS doc_id, min(lbl) AS canonical_id FROM cc GROUP BY node""",
    "dedup_corpus_overlap" -> corpusOverlapOracleSql,
    "dedup_containment" -> containmentOracleSql,
    "dedup_edit_verify" -> s"""
      WITH $minhashChainCtes,
      cands AS (
        SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
      SELECT c.a, c.b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
      FROM cands c
      JOIN documents da ON da.doc_id = c.a
      JOIN documents db ON db.doc_id = c.b
      WHERE levenshtein(da.text, db.text)
            <= ceil(0.2 * greatest(len(da.text), len(db.text)))""",
    "dedup_canonicalize" -> dedupCanonicalizeOracleSql,
    "dedup_semantic" -> semDeDupOracleSql,
    "dedup_simhash" -> simhashOracleSql,
    "dedup_exact" -> """
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text)""",
    "dedup_spans" -> """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      spans AS (
        SELECT doc_id, i AS pos,
               array_to_string(t[i * 8 + 1 : i * 8 + 8], ' ') AS span
        FROM toks,
             unnest(range(0, greatest(CAST(ceil(len(t) / 8.0) AS INT), 1))) AS u(i)),
      marked AS (
        SELECT doc_id, pos, span,
               row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, pos) AS rn
        FROM spans)
      SELECT doc_id,
             count(*) AS n_spans,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY pos), '')
               AS text_dedup
      FROM marked GROUP BY doc_id""",
    "dedup_ngram_spans" -> """
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      grams AS (
        SELECT doc_id, i.pos AS pos,
               md5(array_to_string(tk[i.pos + 1 : i.pos + 10], ' ')) AS fp
        FROM toks, LATERAL (
          SELECT unnest(generate_series(0, len(tk) - 10)) AS pos) i
        WHERE len(tk) >= 10),
      dupfp AS (SELECT fp FROM grams GROUP BY fp HAVING count(*) >= 2),
      duppos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dupfp USING (fp)),
      isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 9
                    THEN 0 ELSE 1 END AS new_island
        FROM duppos),
      runs AS (
        SELECT doc_id, pos,
               sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
        FROM isl)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + 9 AS BIGINT) AS span_end,
             count(*) AS n_grams
      FROM runs GROUP BY doc_id, island""",
    "dedup_jaccard_words" -> jaccardWordsOracleSql,
    // md5(a:b)-keyed 1/256 slices of the verified pair streams — the
    // scale-invariant gate form (see pairSample)
    "dedup_jaccard_sampled" -> pairSampleSql(jaccardWordsOracleSql),
    "dedup_containment_sampled" -> pairSampleSql(containmentOracleSql),
    // Same md5-signed hyperplanes as emb_random_projection; sign bits
    // summed as disjoint powers of two (== the OR fold), band bits by
    // shift/mask, exact cosine verify on the originals. Banding is
    // count-adaptive exactly as Dedup.lshAdaptiveParams derives it:
    // width w = smallest bits in [4,16] with (n >> w) <= 16 — the
    // integer threshold walk, no float log, so both engines compute
    // the identical w from the identical count — and nb = 63 // w
    // bands tile the 63 non-sign sketch bits. All 63 sign chains are
    // emitted; rows beyond nb*w bits are never banded. Signs compare
    // the RAW projection sum (> 0 is invariant under the positive
    // 1/sqrt(planes) normalization the Spark kernel applies).
    "dedup_embedding_lsh" -> {
      val chains = (0 until 63).map { j =>
        (1 to 64)
          .map(i => s"embedding[$i]::DOUBLE * (${Quantization.rpSign("rp", i, j)})")
          .mkString("(", " + ", ")")
      }.mkString("list_value(", ", ", ")")
      val skBits = (0 until 63)
        .map(i => s"(CASE WHEN v[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      val wArms = (4 until 16)
        .map(w => s"WHEN (c >> $w) <= 16 THEN $w").mkString(" ")
      s"""
      WITH par AS (
        SELECT CASE $wArms ELSE 16 END AS w
        FROM (SELECT count(*) AS c FROM embeddings)),
      bp AS (SELECT w, 63 // w AS nb FROM par),
      rpv AS (SELECT vec_id, $chains AS v FROM embeddings),
      sks AS (SELECT vec_id, $skBits AS sk FROM rpv),
      banded AS (
        SELECT vec_id, b, (sk >> (b * w)) & ((1::BIGINT << w) - 1) AS bh
        FROM sks
        CROSS JOIN bp
        CROSS JOIN (SELECT unnest(range(0, 16)) AS b) t
        WHERE b < nb),
      cand AS (
        SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        FROM banded x JOIN banded y
          ON x.b = y.b AND x.bh = y.bh AND x.vec_id < y.vec_id),
      scored AS (
        SELECT a, b, sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))) AS cos FROM (
          SELECT c.a, c.b,
                 unnest(ea.embedding)::DOUBLE AS xa, unnest(eb.embedding)::DOUBLE AS xb
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.a
          JOIN embeddings eb ON eb.vec_id = c.b)
        GROUP BY a, b)
      SELECT a, b, round(cos, 6) AS cos_sim FROM scored WHERE round(cos, 6) >= 0.3"""
    },
    "dedup_embedding" -> """
      SELECT a, b, round(cos_sim, 6) AS cos_sim FROM (
        SELECT a, b, dot / (sqrt(na) * sqrt(nb)) AS cos_sim FROM (
          SELECT a, b, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb FROM (
            SELECT a.vec_id AS a, b.vec_id AS b,
                   unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id) GROUP BY a, b))
      WHERE cos_sim > 0.3""",
    "dedup_components" -> """
      WITH RECURSIVE w AS (
        SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS word,
               len(list_distinct(string_split(text, ' '))) AS nw
        FROM documents),
      i AS (
        SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter,
               any_value(a.nw) AS nwa, any_value(b.nw) AS nwb
        FROM w a JOIN w b ON a.word = b.word AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
      edges AS (
        SELECT a, b FROM i WHERE round(inter / (nwa + nwb - inter), 6) >= 0.9),
      sym AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL SELECT b, a FROM edges),
      cc(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.dst, cc.lbl FROM cc JOIN sym s ON s.src = cc.node AND cc.lbl < s.dst)
      SELECT node AS doc_id, min(lbl) AS canonical_id FROM cc GROUP BY node"""
  )

  // ---------------------------------------------------------------- //
  // Text analysis                                                    //
  // ---------------------------------------------------------------- //

  private def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text")),
    "text_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "doc_id", "text")),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text")),
    "text_ngram_freq" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextFunctions.shingles(col("text"), 2)).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 5)),
    // End-to-end corpus prep: fingerprint-dedup (keep min doc per
    // canonical form) -> quality floor -> per-language profile. One
    // Catalyst plan composing three operators.
    "text_prep_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val deduped = TextAnalysis.fingerprints(docs, "doc_id", "text")
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .join(docs, "doc_id")
      val scored = deduped.join(TextAnalysis.qualityScore(deduped, "doc_id", "text"), "doc_id")
      scored
        .where(col("quality") >= 0.6)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("quality").cast("decimal(18,6)")).cast("double") / count(lit(1)))
            .as("avg_quality"),
          sum(col("n_chars")).as("total_chars"))
    }),
    "text_subword_count" -> ((s, dir) =>
      TextAnalysis.subwordCounts(t(s, dir, "documents"), "doc_id", "text")),
    // Temperature-rebalanced mixture (mT5-style α=0.5): per-source
    // budgets from the sqrt-scaled distribution (all-integer targets),
    // md5-ranked selection within each source.
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperatureSample(
        t(s, dir, "documents"), "source", "doc_id", totalBudget = 200L, seed = 23L)),
    // Tokenizer fertility (subwords per whitespace word) by language —
    // the standard multilingual tokenizer-quality metric.
    "text_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.subwordCounts(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("n_subwords")).as("subwords"), sum(col("n_tokens")).as("words"))
        .withColumn("fertility_micro", expr("(subwords * 1000000) div words"))
    }),
    // Pretraining sequence-packing manifest: docs concatenated in id
    // order, cut into 2048-token sequences; per doc its stream offset
    // and first/last pack. Distributed prefix sum — no global window.
    "text_seq_pack" -> ((s, dir) =>
      TextAnalysis.seqPack(t(s, dir, "documents"), "doc_id", "text", capacity = 2048L)),
    // Bigram LM with stupid backoff, trained on the even-id half so
    // backoff genuinely fires on the scored half.
    "text_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(
        t(s, dir, "documents"), "doc_id", "text", col("doc_id") % 2 === 0)),
    // DSIR data selection: lang='en' is the target domain; top-50 raw
    // docs by unigram log-likelihood ratio (pico-nat integer weights).
    "text_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TextAnalysis.dsirWeights(docs, "doc_id", "text", col("lang") === "en")
      val top = w.orderBy(col("weight_pico").desc, col("doc_id")).limit(50)
      top.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("weight_pico"))
    }),
    // Deterministic 10% corpus sample: content-keyed hash, so the
    // selection is identical on any cluster / partitioning / engine.
    "sample_hash" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), "doc_id", fraction = 0.1, seed = 7L)
        .select(col("doc_id"), col("lang"))),
    // Per-language stratified rates (en down-sampled, de kept, rest at
    // the default) — the corpus-balancing step of LLM data prep.
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(
        t(s, dir, "documents"), "lang", "doc_id",
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, seed = 11L)
        .select(col("doc_id"), col("lang"))),
    // Weighted source mixture: three sources at different rates,
    // tagged — LLM corpus assembly's data-mixture step.
    "sample_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.mixture(
        Seq(
          ("src0", docs.where(col("source") === "src0"), 1.0),
          ("src1", docs.where(col("source") === "src1"), 0.5),
          ("src2", docs.where(col("source") === "src2"), 0.25)),
        "doc_id", seed = 13L)
        .select(col("doc_id"), col("mix_source"))
    }),
    // Exact per-group budget: exactly min(60, |lang|) docs per
    // language by md5 rank — hard corpus balancing (a fraction-based
    // sample only hits a budget in expectation).
    "sample_group_budget" -> ((s, dir) =>
      Sampling.perGroupBudget(
        t(s, dir, "documents"), "lang", "doc_id", n = 60, seed = 17L)
        .select(col("doc_id"), col("lang"))),
    // Greedy k-center coreset: 5 diversity-maximizing exemplars of
    // the embedding space (Gonzalez max-min farthest-point), with the
    // coverage-radius sequence — the 5-step schedule unrolls into SQL.
    "sample_kcenter" -> ((s, dir) =>
      Sampling.kCenterSelect(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5)),
    // Priority sampling (Duffield–Lund–Thorup): 50 docs weighted by
    // byte size, with the unbiased max(w, τ) subset-sum estimator —
    // the bounded weighted summary of a corpus.
    "sample_priority" -> ((s, dir) =>
      Sampling.prioritySample(
        t(s, dir, "documents"), "doc_id", "n_chars", k = 50, seed = 23L)
        .withColumnRenamed("id", "doc_id")),
    // Unigram-entropy quality gate: low-entropy docs are templates /
    // keyword stuffing; the decimal-exact H makes keep reproducible.
    "text_entropy" -> ((s, dir) =>
      TextAnalysis.entropyScore(t(s, dir, "documents"), "doc_id", "text", minBits = 3.0)),
    // Blocklist redaction (the PII-scrub shape: same operator, swap the
    // word list for email/phone/id regexes on a real corpus).
    "text_scrub" -> ((s, dir) =>
      TextAnalysis.scrub(
        t(s, dir, "documents"), "doc_id", "text", ScrubBlocklist)),
    // Regex-class PII scrub (TextAnalysis.PiiClasses: email / card /
    // IPv4 / SSN / phone, sequential-redaction counts). The synthetic
    // corpus carries no PII, so the query seeds class spans from
    // doc_id arithmetic first (piiSeeded — reproducible in ANSI SQL),
    // then redacts; per-class counts AND the scrubbed text both
    // hash-compare against the oracle, which runs the IDENTICAL
    // pattern strings in DuckDB's RE2 — the Java ∩ RE2 shared-dialect
    // contract documented on PiiClasses.
    "text_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(piiSeeded(t(s, dir, "documents")), "doc_id", "text")),
    // Gopher-style repetition/quality gates with keep/drop verdict.
    "text_gopher_filter" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")),
    // Unigram-LM quality score (CCNet shape): per-doc average token
    // negative log-likelihood under the corpus unigram distribution.
    "text_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")),
    // fastText-shaped hashed linear classifier inference: bigrams hash
    // into 1024 weight slots, doc score = summed evidence, all inside
    // one per-row HOF fold — no explode, no shuffle, scan-speed.
    "text_classifier_score" -> ((s, dir) =>
      TextAnalysis.classifierScore(t(s, dir, "documents"), "doc_id", "text")),
    // CCNet head/middle/tail quality terciles over the LM score —
    // exact NTILE via the distributed numbering primitive.
    "text_ppl_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text")),
    // Train/eval decontamination: docs sharing a 4-gram with the
    // held-out benchmark slice (doc_id % 50 == 0).
    "text_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.decontaminate(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 4)
    }),
    // Context-window chunking: 32-token windows at stride 24 (the
    // overlapping LM-sequence split).
    "text_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text", chunkSize = 32, stride = 24)),
    // Tokenizer training: the first 3 BPE merge rules learned from the
    // corpus (distributed pair counts, greedy merge application).
    "text_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "doc_id", "text", merges = 3)),
    // Tokenizer application: encode every doc with the 3 learned merge
    // rules (greedy replace chain over the double-spaced encoding).
    "text_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text", merges = 3)),
    // Per-doc TF-IDF keyword extraction: top-3 characteristic terms
    // per document (cluster labeling / sparse-vector summarization).
    "text_tfidf_top_terms" -> ((s, dir) =>
      Search.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)),
    // Count-Min frequency sketch: token occurrence counts in a 4x2048
    // integer matrix (O(sketch) memory at any corpus size, upward-only
    // bias); probed for a fixed token set against exact counts.
    "text_cms_counts" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val sketch = Sketches.cmsBuild(toks, col("tok"), depth = 4, width = 2048)
      val probes = SketchProbeTokens.toDF("item")
      val exact = toks
        .where(col("tok").isin(SketchProbeTokens: _*))
        .groupBy(col("tok").as("item"))
        .agg(count(lit(1)).as("exact_count"))
      Sketches.cmsQuery(sketch, probes, depth = 4, width = 2048)
        .join(exact, Seq("item"), "left_outer")
        .select(
          col("item"), col("est_count"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"))
    }),
    // Bloom membership filter in relational form (distinct k-hash
    // positions; member iff all k set): the English vocabulary as the
    // key set, probed with the fixed token list — zero false
    // negatives, FP rate bounded by (1-e^{-kn/m})^k.
    "text_bloom_vocab" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val enToks = t(s, dir, "documents")
        .where(col("lang") === "en")
        .select(explode(TextFunctions.distinctTokens(col("text"))).as("tok"))
      val filter = Sketches.bloomBuild(enToks, col("tok"), k = 4, bits = 4096)
      val probes = SketchProbeTokens.toDF("item")
      val members = enToks.select(col("tok").as("item")).distinct()
        .withColumn("is_member", lit(true))
      Sketches.bloomProbe(filter, probes, k = 4, bits = 4096)
        .join(members, Seq("item"), "left_outer")
        .select(
          col("item"), col("n_set"), col("maybe_member"),
          coalesce(col("is_member"), lit(false)).as("is_member"))
    }),
    // Portable HyperLogLog: per-language distinct-token estimates in
    // one pass — at most 2^p registers per group cross the shuffle,
    // never the distinct value space (the 100 TB cardinality answer;
    // Spark's approx_count_distinct is equivalent but its hash is
    // engine-private, so this md5 formulation is the verifiable one).
    "text_hll_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Cardinality.hllDistinct(
        docs.select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("tok")),
        Seq("lang"), col("tok"), p = 8)
    }),
    // BM25 ranked retrieval: top-10 docs for 3 fixed keyword queries.
    // Per-term scores rounded to 12dp + decimal-summed (order-free),
    // ranks tie-break on doc_id — hash-reproducible cross-engine.
    "text_bm25_topk" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val q = Bm25DemoQueries
        .flatMap { case (id, terms) => terms.map(id -> _) }
        .toDF("query_id", "term")
      Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text", q, k = 10)
    }),
    // MMR diversity re-rank: greedy maximal-marginal-relevance over a
    // 20-candidate cosine front (lambda = 0.5) — near-duplicates of
    // already-picked results fall behind novel ones.
    "search_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = broadcast(
        emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_vec")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rel").desc, col("doc_id"))
      val cands = emb
        .select(col("vec_id").as("doc_id"), col("embedding").as("vec"))
        .join(q, col("doc_id") =!= col("query_id"))
        .withColumn("rel", VectorFunctions.cosine(col("q_vec"), col("vec")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 20)
        .select(col("query_id"), col("doc_id"), col("rel"), col("vec"))
        .pinned() // each greedy round re-reads the pool
      Search.mmrRerank(cands, k = 5, lambda = 0.5)
    }),
    // Hybrid search: fuse semantic (cosine kNN over embeddings) and
    // lexical (BM25 more-like-this over the query doc's own tokens)
    // rank lists with exact-integer reciprocal-rank fusion. The two
    // retrieval legs are the already-verified operators; fusion adds
    // zero float risk (integer points per rank).
    "search_hybrid_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val vecList = Similarity
        .knnBruteForce(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 10)
        .withColumnRenamed("neighbor_id", "doc_id")
        .select(col("query_id"), col("doc_id"), col("rank"))
      val qTerms = docs
        .where(col("doc_id") < 5)
        .select(
          col("doc_id").as("query_id"),
          explode(TextFunctions.distinctTokens(col("text"))).as("term"))
      val textList = Search
        .bm25TopK(docs, "doc_id", "text", qTerms, k = 10, selfExclude = true)
        .select(col("query_id"), col("doc_id"), col("rank"))
      Search.rrfFuse(vecList, textList, c = 60, maxRank = 10, k = 10)
    }),
    // Offline retrieval eval: the cosine-kNN retriever scored against
    // label ground truth (same-label = relevant) — hits@10, exact
    // lcm-scaled reciprocal rank, recall@10, precision@10 per query.
    "search_eval_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ranked = Similarity
        .knnBruteForce(emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", 10)
        .withColumnRenamed("neighbor_id", "doc_id")
      val truth = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
        .join(
          emb.select(col("vec_id").as("doc_id"), col("label")),
          col("label") === col("qlabel") && col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"))
      Search.evalRanking(ranked, truth, k = 10)
    }),
    // Three-tier hybrid retrieval: dense cosine kNN + lexical BM25 +
    // the 1-bit hamming sketch tier, fused with exact-integer RRF in
    // ONE groupBy regardless of list count. The production shape for
    // "fuse whatever retrievers you have" — adding a tier adds a union
    // branch, not a shuffle.
    "search_hybrid_rrf3" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val vecList = Similarity
        .knnBruteForce(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 10)
        .withColumnRenamed("neighbor_id", "doc_id")
        .select(col("query_id"), col("doc_id"), col("rank"))
      val qTerms = docs
        .where(col("doc_id") < 5)
        .select(
          col("doc_id").as("query_id"),
          explode(TextFunctions.distinctTokens(col("text"))).as("term"))
      val textList = Search
        .bm25TopK(docs, "doc_id", "text", qTerms, k = 10, selfExclude = true)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val binList = Quantization
        .knnBinaryHamming(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          dims = 64, k = 10)
        .withColumnRenamed("neighbor_id", "doc_id")
        .select(col("query_id"), col("doc_id"), col("rank"))
      Search.rrfFuseAll(Seq(vecList, textList, binList), c = 60, maxRank = 10, k = 10)
    })
  )

  /** Fixed keyword queries for text_bm25_topk (terms from the synthetic
    * vocabulary, mixed document frequencies).
    */
  private val Bm25DemoQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("hash", "join"),
    2L -> Seq("vector", "scan", "filter"),
    3L -> Seq("customer", "order", "slow"))

  /** Demo blocklist for text_scrub (vocabulary terms — the corpus is
    * synthetic lowercase words; production swaps in PII regexes).
    */
  private val ScrubBlocklist = Seq("hash", "key", "secret")

  /** Deterministic PII seeding for text_pii_scrub: the synthetic corpus
    * is lowercase words with no PII, so the query appends class spans
    * derived from doc_id arithmetic — an email for doc_id ≡ 0 (mod 3),
    * a phone for ≡ 1 (mod 4), a dotted-quad IP for ≡ 2 (mod 5), an
    * SSN-shaped id for ≡ 3 (mod 6), a 16-digit card run for ≡ 4
    * (mod 7); docs hitting none of the residues exercise the no-PII
    * path, docs hitting several get multiple classes in one row. Every
    * piece is integer-mod + lpad string building that the DuckDB
    * oracle reproduces verbatim, and the seeded spans are pairwise
    * non-overlapping by construction so per-class counts are exact
    * under sequential redaction.
    */
  private def piiSeeded(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def str(c: Column) = c.cast("string")
    val email = when(id % 3 === 0,
      concat(lit(" contact u"), str(id), lit("@mail"), str(id % 7),
        lit(".example.com"))).otherwise(lit(""))
    val phone = when(id % 4 === 1,
      concat(lit(" call 555-"), str(id % 900 + 100), lit("-"),
        str(id % 9000 + 1000))).otherwise(lit(""))
    val ip = when(id % 5 === 2,
      concat(lit(" from 10."), str(id % 256), lit("."),
        str(floor(id / 7) % 256), lit("."), str(id % 250 + 1)))
      .otherwise(lit(""))
    val ssn = when(id % 6 === 3,
      concat(lit(" ssn 123-45-"), lpad(str(id % 10000), 4, "0")))
      .otherwise(lit(""))
    val card = when(id % 7 === 4,
      concat(lit(" card 4111222233"), lpad(str(id % 1000000), 6, "0")))
      .otherwise(lit(""))
    docs.select(
      col("doc_id"),
      concat(col("text"), email, phone, ip, ssn, card).as("text"))
  }

  /** Fixed probe set for the CMS/Bloom sketch queries: four known
    * vocabulary terms + one never-seen token (exercises the empty-cell
    * and non-member paths).
    */
  private val SketchProbeTokens = Seq("hash", "join", "vector", "customer", "zzznever")

  private val stopwordList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  private def textOracles: Map[String, String] = Map(
    "text_subword_count" -> """
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]')) AS n_subwords,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents""",
    "sample_temperature" -> """
      WITH counts AS (
        SELECT source, count(*) AS n,
               CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS r
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM counts),
      targets AS (
        SELECT source, CAST(least(n, (200 * r) // t) AS BIGINT) AS target
        FROM counts CROSS JOIN tot)
      SELECT doc_id, source, rank FROM (
        SELECT d.doc_id, d.source, t.target,
               row_number() OVER (PARTITION BY d.source
                 ORDER BY substr(md5('23:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
                 AS rank
        FROM documents d JOIN targets t USING (source))
      WHERE rank <= target""",
    "text_fertility" -> """
      WITH c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_subwords,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT lang,
             CAST(sum(n_subwords) AS BIGINT) AS subwords,
             CAST(sum(n_tokens) AS BIGINT) AS words,
             (CAST(sum(n_subwords) AS BIGINT) * 1000000) // CAST(sum(n_tokens) AS BIGINT)
               AS fertility_micro
      FROM c JOIN documents USING (doc_id) GROUP BY lang""",
    "text_seq_pack" -> """
      WITH c AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      s AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_tokens AS BIGINT) AS stream_offset
        FROM c)
      SELECT doc_id, n_tokens, stream_offset,
             stream_offset // 2048 AS pack_first,
             (stream_offset + n_tokens - 1) // 2048 AS pack_last,
             (stream_offset + n_tokens - 1) // 2048 - stream_offset // 2048 + 1 AS n_packs
      FROM s""",
    "text_bigram_lm" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      docbi AS (
        SELECT doc_id, doc_id % 2 = 0 AS is_train,
               unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bi
        FROM toks),
      trainbi AS (SELECT bi, count(*) AS c12 FROM docbi WHERE is_train GROUP BY bi),
      trainuni AS (
        SELECT tok, count(*) AS c FROM (
          SELECT unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE doc_id % 2 = 0)
        GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM trainuni),
      terms AS (
        SELECT d.doc_id,
          CASE WHEN tb.c12 IS NOT NULL THEN
            CAST(floor(ln(CAST(tb.c12 AS DOUBLE) / u1.c) * 1000000000000.0) AS BIGINT)
          ELSE
            CAST(floor(ln(0.4 * (CAST(coalesce(u2.c, 0) + 1 AS DOUBLE) / (t + v)))
                       * 1000000000000.0) AS BIGINT)
          END AS term_pico,
          tb.c12 IS NULL AS is_backoff
        FROM docbi d
        LEFT JOIN trainbi tb USING (bi)
        LEFT JOIN trainuni u1 ON split_part(d.bi, ' ', 1) = u1.tok
        LEFT JOIN trainuni u2 ON split_part(d.bi, ' ', 2) = u2.tok
        CROSS JOIN tot)
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(CASE WHEN is_backoff THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
             CAST(-sum(term_pico) AS BIGINT) AS nll_pico
      FROM terms GROUP BY doc_id""",
    "text_dsir_select" -> """
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_target, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      vocab AS (
        SELECT tok, count(*) AS cr,
               CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
        FROM toks GROUP BY tok),
      tot AS (
        SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt,
               count(*) AS v
        FROM vocab),
      scored AS (
        SELECT tok,
               CAST(floor(ln(CAST(ct + 1 AS DOUBLE) / (tt + v)) * 1000000000000.0) AS BIGINT)
               - CAST(floor(ln(CAST(cr + 1 AS DOUBLE) / (tr + v)) * 1000000000000.0) AS BIGINT)
                 AS dw_pico
        FROM vocab CROSS JOIN tot),
      w AS (
        SELECT doc_id, count(*) AS n_tokens, CAST(sum(dw_pico) AS BIGINT) AS weight_pico
        FROM toks JOIN scored USING (tok)
        GROUP BY doc_id)
      SELECT w.doc_id, d.lang, w.n_tokens, w.weight_pico
      FROM w JOIN documents d ON w.doc_id = d.doc_id
      ORDER BY weight_pico DESC, w.doc_id
      LIMIT 50""",
    // hexThreshold(0.1) = floor(0.1 * 2^32) = 0x19999999, etc. — the
    // same fixed-width-hex compare Sampling.hashSample runs.
    "sample_hash" -> """
      SELECT doc_id, lang FROM documents
      WHERE substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'""",
    "sample_stratified" -> """
      SELECT doc_id, lang FROM documents
      WHERE substr(md5('11:' || CAST(doc_id AS VARCHAR)), 1, 8) <
            CASE lang WHEN 'en' THEN '80000000'
                      WHEN 'de' THEN '40000000'
                      ELSE '19999999' END""",
    "sample_group_budget" -> """
      SELECT doc_id, lang FROM documents
      QUALIFY row_number() OVER (PARTITION BY lang
        ORDER BY substr(md5('17:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) <= 60""",
    "sample_kcenter" -> kCenterOracleSql,
    "sample_mixture" -> """
      SELECT doc_id, 'src0' AS mix_source FROM documents
      WHERE source = 'src0'
        AND substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'ffffffff'
      UNION ALL
      SELECT doc_id, 'src1' FROM documents
      WHERE source = 'src1'
        AND substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
      UNION ALL
      SELECT doc_id, 'src2' FROM documents
      WHERE source = 'src2'
        AND substr(md5('13:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'""",
    "text_token_count" -> """
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             length(text) AS n_chars
      FROM documents""",
    // Priority sampling: identical md5-52-bit uniform, identical two
    // IEEE divisions, global rank, τ = the 51st priority (0 when the
    // corpus is smaller than k+1).
    "sample_priority" -> """
      WITH keyed AS (
        SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS weight,
               CAST(n_chars AS DOUBLE) /
                 (CAST(('0x' || substr(md5('23:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1
                       AS DOUBLE) / 4503599627370496.0) AS priority
        FROM documents),
      ranked AS (
        SELECT id, weight, priority,
               row_number() OVER (ORDER BY priority DESC, id) AS rank
        FROM keyed),
      tau AS (
        SELECT coalesce(max(CASE WHEN rank = 51 THEN priority END), 0.0) AS tau
        FROM ranked)
      SELECT r.id AS doc_id, r.weight, CAST(r.rank AS BIGINT) AS rank, r.priority,
             greatest(r.weight, t.tau) AS est_weight
      FROM ranked r CROSS JOIN tau t WHERE r.rank <= 50""",
    // Unigram entropy: fixed-point pico-nat units — floor(x·1e12) is
    // two IEEE ops identical in both engines (ln agrees bit-for-bit;
    // log2 and round(double,12) both measurably do NOT) — integer
    // decimal sums, bits = nats / ln2 literal at the end.
    "text_entropy" -> """
      WITH cnt AS (
        SELECT doc_id, tok, count(*) AS c FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok),
      agg AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
               CAST(sum(CAST(floor(c * ln(c) * 1e12) AS DECIMAL(28,0)))
                    AS DECIMAL(28,0)) AS sclog
        FROM cnt GROUP BY doc_id),
      h AS (
        SELECT doc_id, n_tokens, n_distinct,
               CAST(CAST(floor(ln(n_tokens) * 1e12) AS DECIMAL(14,0)) *
                      CAST(n_tokens AS DECIMAL(14,0)) - sclog AS DOUBLE)
                 / 1e12 / n_tokens / 0.6931471805599453 AS entropy_bits
        FROM agg)
      SELECT d.doc_id,
             coalesce(h.n_tokens, 0) AS n_tokens,
             coalesce(h.n_distinct, 0) AS n_distinct,
             h.entropy_bits,
             coalesce(CAST(h.entropy_bits >= 3.0 AS INT), 0) AS keep
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN h ON d.doc_id = h.doc_id""",
    "text_quality" -> s"""
      WITH b AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dis,
               CAST(length(text) AS DOUBLE) AS n_chr,
               CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
               CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS upper,
               CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopwordList))) AS DOUBLE) AS stop
        FROM documents)
      SELECT doc_id,
             round(n_dis / n_tok, 6) AS type_token_ratio,
             round(stop / n_tok, 6) AS stopword_ratio,
             round(punct / n_chr, 6) AS punct_ratio,
             round((n_dis / n_tok) * 0.5 + (1.0 - stop / n_tok) * 0.3 +
                   (1.0 - punct / n_chr) * 0.1 + (1.0 - upper / n_chr) * 0.1, 6) AS quality
      FROM b""",
    "text_lang_id" -> {
      val scoreExprs = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        val ms = markers.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(string_split(text, ' '), x -> x IN ($ms))) AS s_$lang"
      }.mkString(",\n               ")
      // alphabetical-first argmax, same tiebreak as the Spark side
      """
      WITH s AS (
        SELECT doc_id, SCORES
        FROM documents)
      SELECT doc_id,
             CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr'
                  ELSE 'zh' END AS lang_pred,
             greatest(s_de, s_en, s_es, s_fr, s_zh) AS marker_hits
      FROM s""".replace("SCORES", scoreExprs)
    },
    "text_fingerprint" -> """
      WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents)
      SELECT doc_id, md5(norm) AS fp, length(norm) AS n_norm_chars FROM n""",
    "text_ngram_freq" -> """
      SELECT ngram, count(*) AS n FROM (
        SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS ngram
        FROM (SELECT string_split(text, ' ') AS t FROM documents))
      GROUP BY ngram HAVING count(*) >= 5""",
    "text_prep_pipeline" -> s"""
      WITH norm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        FROM documents),
      kept AS (
        SELECT d.doc_id, d.lang, d.text, d.n_chars
        FROM (SELECT fp, min(doc_id) AS doc_id FROM norm GROUP BY fp) k
        JOIN documents d ON d.doc_id = k.doc_id),
      q AS (
        SELECT doc_id, lang, n_chars,
               (n_dis / n_tok) * 0.5 + (1.0 - stop / n_tok) * 0.3 +
               (1.0 - punct / n_chr) * 0.1 + (1.0 - upper / n_chr) * 0.1 AS quality
        FROM (
          SELECT doc_id, lang, n_chars,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dis,
                 CAST(length(text) AS DOUBLE) AS n_chr,
                 CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
                 CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS upper,
                 CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopwordList))) AS DOUBLE) AS stop
          FROM kept))
      SELECT lang, count(*) AS n_docs,
             CAST(sum(CAST(round(quality, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_quality,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM q WHERE round(quality, 6) >= 0.6 GROUP BY lang""",
    "text_scrub" -> """
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\b(hash|key|secret)\b')) AS BIGINT) AS n_redacted,
             regexp_replace(text, '\b(hash|key|secret)\b', '[REDACTED]', 'g') AS scrubbed
      FROM documents""",
    // The IDENTICAL pattern strings as TextAnalysis.PiiClasses (the
    // Java-regex ∩ RE2 shared dialect), the IDENTICAL seeding
    // arithmetic as piiSeeded, and the IDENTICAL sequential-redaction
    // semantics: class k counts on the text as classes < k left it.
    "text_pii_scrub" -> """
      WITH seeded AS (
        SELECT doc_id, text
          || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)
               || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ELSE '' END
          || CASE WHEN doc_id % 4 = 1 THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
               || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 5 = 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
               || '.' || CAST(doc_id % 250 + 1 AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 6 = 3 THEN ' ssn 123-45-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
          || CASE WHEN doc_id % 7 = 4 THEN ' card 4111222233'
               || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0') ELSE '' END
          AS t0
        FROM documents),
      s1 AS (SELECT doc_id,
               CAST(len(regexp_extract_all(t0, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_email,
               regexp_replace(t0, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g') AS t1
             FROM seeded),
      s2 AS (SELECT doc_id, n_email,
               CAST(len(regexp_extract_all(t1, '\b\d{16}\b')) AS BIGINT) AS n_card,
               regexp_replace(t1, '\b\d{16}\b', '[CARD]', 'g') AS t2
             FROM s1),
      s3 AS (SELECT doc_id, n_email, n_card,
               CAST(len(regexp_extract_all(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
               regexp_replace(t2, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g') AS t3
             FROM s2),
      s4 AS (SELECT doc_id, n_email, n_card, n_ipv4,
               CAST(len(regexp_extract_all(t3, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
               regexp_replace(t3, '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS t4
             FROM s3),
      s5 AS (SELECT doc_id, n_email, n_card, n_ipv4, n_ssn,
               CAST(len(regexp_extract_all(t4, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
               regexp_replace(t4, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS t5
             FROM s4)
      SELECT doc_id, n_email, n_card, n_ipv4, n_ssn, n_phone,
             n_email + n_card + n_ipv4 + n_ssn + n_phone AS n_redacted,
             t5 AS scrubbed
      FROM s5""",
    "text_gopher_filter" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      f AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM tok) GROUP BY doc_id, tok),
      a AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_cnt,
               CAST(sum(c * length(tok)) AS BIGINT) AS n_word_chars
        FROM f GROUP BY doc_id),
      b AS (
        SELECT doc_id,
               len(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS n_bg,
               len(list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))) AS n_bgd
        FROM tok),
      s AS (
        SELECT a.doc_id, n_tokens,
               round(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS top_word_frac,
               round(CASE WHEN n_bg = 0 THEN 0.0
                          ELSE 1.0 - CAST(n_bgd AS DOUBLE) / n_bg END, 6) AS dup_bigram_frac,
               round(CAST(n_word_chars AS DOUBLE) / n_tokens, 6) AS mean_word_len
        FROM a JOIN b ON a.doc_id = b.doc_id)
      SELECT doc_id, n_tokens, top_word_frac, dup_bigram_frac, mean_word_len,
             CAST(n_tokens BETWEEN 20 AND 80 AND top_word_frac <= 0.12
                  AND dup_bigram_frac <= 0.05
                  AND mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS keep
      FROM s""",
    "text_decontaminate" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      grams AS (
        SELECT doc_id,
               list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' ')) AS gs
        FROM tok),
      bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 50 = 0),
      corp AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 50 <> 0)
      SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_shared
      FROM corp JOIN bench USING (g) GROUP BY doc_id""",
    "text_chunk_windows" -> """
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      SELECT doc_id, CAST(i // 24 AS BIGINT) AS chunk_idx,
             array_to_string(t[i+1:i+32], ' ') AS chunk,
             CAST(len(t[i+1:i+32]) AS BIGINT) AS n_chunk_tokens
      FROM tok, unnest(range(0, len(t), 24)) AS u(i)""",
    // The same 3-round greedy schedule unrolled: count pairs, pick the
    // (count desc, pair asc) winner, apply it corpus-wide as a plain
    // space-delimited replace (left-to-right non-overlapping = greedy
    // BPE in both engines), repeat.
    "text_bpe_merges" -> """
      WITH t1 AS (SELECT ' ' || replace(text, ' ', '  ') || ' ' AS t FROM documents),
      c1 AS (
        SELECT p, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS p
          FROM (SELECT string_split(trim(t), '  ') AS tk FROM t1))
        GROUP BY p),
      m1 AS (SELECT p, n FROM c1 ORDER BY n DESC, p LIMIT 1),
      t2 AS (
        SELECT replace(t, (SELECT ' '||replace(p,' ','  ')||' ' FROM m1),
                          (SELECT ' '||replace(p,' ','@@')||' ' FROM m1)) AS t FROM t1),
      c2 AS (
        SELECT p, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS p
          FROM (SELECT string_split(trim(t), '  ') AS tk FROM t2))
        GROUP BY p),
      m2 AS (SELECT p, n FROM c2 ORDER BY n DESC, p LIMIT 1),
      t3 AS (
        SELECT replace(t, (SELECT ' '||replace(p,' ','  ')||' ' FROM m2),
                          (SELECT ' '||replace(p,' ','@@')||' ' FROM m2)) AS t FROM t2),
      c3 AS (
        SELECT p, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS p
          FROM (SELECT string_split(trim(t), '  ') AS tk FROM t3))
        GROUP BY p),
      m3 AS (SELECT p, n FROM c3 ORDER BY n DESC, p LIMIT 1)
      SELECT CAST(1 AS BIGINT) AS rank, string_split(p,' ')[1] AS lhs,
             string_split(p,' ')[2] AS rhs, replace(p,' ','@@') AS merged,
             n AS n_pairs FROM m1
      UNION ALL SELECT 2, string_split(p,' ')[1], string_split(p,' ')[2],
             replace(p,' ','@@'), n FROM m2
      UNION ALL SELECT 3, string_split(p,' ')[1], string_split(p,' ')[2],
             replace(p,' ','@@'), n FROM m3""",
    "text_classifier_score" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      u AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
        FROM t),
      wt AS (
        SELECT doc_id,
               (('0x' || substr(md5('w:' ||
                    CAST(('0x' || substr(md5('clf:' || g), 1, 15))::BIGINT % 1024
                         AS VARCHAR)), 1, 15))::BIGINT % 2000001) - 1000000 AS wm
        FROM u)
      SELECT doc_id, count(*) AS n_bigrams, CAST(sum(wm) AS BIGINT) AS score_sum_micro,
             CAST(CASE WHEN sum(wm) >= 0 THEN 1 ELSE 0 END AS INT) AS keep
      FROM wt GROUP BY doc_id""",
    "text_lm_score" -> """
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tt AS (SELECT count(*) AS tt FROM toks),
      nll AS (
        SELECT doc_id,
               CAST(round(-ln(CAST(c AS DOUBLE) / tt), 12) AS DECIMAL(28,12)) AS nll
        FROM toks JOIN vocab USING (tok) CROSS JOIN tt)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(nll) AS DOUBLE) / count(*) AS avg_nll
      FROM nll GROUP BY doc_id""",
    "text_ppl_buckets" -> """
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tt AS (SELECT count(*) AS tt FROM toks),
      nll AS (
        SELECT doc_id,
               CAST(round(-ln(CAST(c AS DOUBLE) / tt), 12) AS DECIMAL(28,12)) AS nll
        FROM toks JOIN vocab USING (tok) CROSS JOIN tt),
      scored AS (
        SELECT doc_id, CAST(sum(nll) AS DOUBLE) / count(*) AS avg_nll
        FROM nll GROUP BY doc_id)
      SELECT doc_id, avg_nll,
             CASE ntile(3) OVER (ORDER BY avg_nll, doc_id)
                  WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
      FROM scored""",
    // Same unrolled 3-round schedule as text_bpe_merges, but carrying
    // doc_id through the replace chain and emitting per-doc counts.
    "text_bpe_encode" -> {
      def round(prev: String, c: String, m: String, tn: String): String = s"""
      $c AS (
        SELECT p, count(*) AS n FROM (
          SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS p
          FROM (SELECT string_split(trim(t), '  ') AS tk FROM $prev))
        GROUP BY p),
      $m AS (SELECT p, n FROM $c ORDER BY n DESC, p LIMIT 1),
      $tn AS (
        SELECT doc_id, replace(t, (SELECT ' '||replace(p,' ','  ')||' ' FROM $m),
                                  (SELECT ' '||replace(p,' ','@@')||' ' FROM $m)) AS t
        FROM $prev)"""
      s"""
      WITH t1 AS (
        SELECT doc_id, ' ' || replace(text, ' ', '  ') || ' ' AS t
        FROM documents WHERE text IS NOT NULL),
      ${round("t1", "c1", "m1", "t2")},
      ${round("t2", "c2", "m2", "t3")},
      ${round("t3", "c3", "m3", "t4")}
      SELECT doc_id, len(string_split(trim(t), '  ')) AS n_tokens_bpe,
             len(list_filter(string_split(trim(t), '  '), x -> contains(x, '@@')))
               AS n_merged_tokens
      FROM t4"""
    },
    "text_cms_counts" -> {
      val probeList = SketchProbeTokens.map(t => s"'$t'").mkString(", ")
      s"""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      probes AS (SELECT unnest([$probeList]) AS item),
      cells AS (
        SELECT row, col, count(*) AS cnt FROM (
          SELECT r AS row,
                 ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15))::BIGINT
                   % 2048 AS col
          FROM toks, (SELECT unnest(range(4)) AS r))
        GROUP BY row, col),
      lanes AS (
        SELECT item, r AS row,
               ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || item), 1, 15))::BIGINT
                 % 2048 AS col
        FROM probes, (SELECT unnest(range(4)) AS r)),
      est AS (
        SELECT item, min(coalesce(cnt, 0)) AS est_count
        FROM lanes LEFT JOIN cells USING (row, col) GROUP BY item),
      ex AS (
        SELECT tok AS item, count(*) AS exact_count FROM toks
        WHERE tok IN ($probeList) GROUP BY tok)
      SELECT item, CAST(est_count AS BIGINT) AS est_count,
             CAST(coalesce(exact_count, 0) AS BIGINT) AS exact_count
      FROM est LEFT JOIN ex USING (item)"""
    },
    "text_bloom_vocab" -> {
      val probeList = SketchProbeTokens.map(t => s"'$t'").mkString(", ")
      s"""
      WITH vocab AS (
        SELECT DISTINCT tok FROM (
          SELECT unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents WHERE lang = 'en')),
      filt AS (
        SELECT DISTINCT
               ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15))::BIGINT
                 % 4096 AS pos
        FROM vocab, (SELECT unnest(range(4)) AS r)),
      probes AS (SELECT unnest([$probeList]) AS item),
      lanes AS (
        SELECT item,
               ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || item), 1, 15))::BIGINT
                 % 4096 AS pos
        FROM probes, (SELECT unnest(range(4)) AS r)),
      pr AS (
        SELECT item, CAST(sum(CASE WHEN filt.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_set
        FROM lanes LEFT JOIN filt ON filt.pos = lanes.pos
        GROUP BY item)
      SELECT pr.item, n_set, n_set = 4 AS maybe_member,
             coalesce(vocab.tok IS NOT NULL, false) AS is_member
      FROM pr LEFT JOIN vocab ON vocab.tok = pr.item"""
    },
    "text_hll_tokens" -> """
      WITH items AS (
        SELECT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)),
      regs AS (
        SELECT lang, h >> 52 AS bucket,
               max(CASE WHEN (h & 4503599627370495) = 0 THEN 53
                        ELSE 53 - length(bin(h & 4503599627370495)) END) AS m_rho
        FROM items GROUP BY lang, bucket),
      agg AS (
        SELECT lang, count(*) AS n_registers,
               sum(1::BIGINT << (53 - m_rho)) AS s_present
        FROM regs GROUP BY lang)
      SELECT lang, CAST(n_registers AS BIGINT) AS n_registers,
             CAST(256 - n_registers AS BIGINT) AS v_empty,
             CAST(s_present + (256 - n_registers) * (1::BIGINT << 53) AS BIGINT)
               AS s_scaled,
             0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
               * 256.0::DOUBLE * 256.0::DOUBLE * 9007199254740992.0::DOUBLE
               / CAST(s_present + (256 - n_registers) * (1::BIGINT << 53) AS DOUBLE)
               AS est_distinct
      FROM agg""",
    "text_tfidf_top_terms" -> """
      WITH tf AS (
        SELECT doc_id, tok AS term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term,
               CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df), 12) AS DECIMAL(28,12))
                 AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN nd)
      SELECT doc_id, term, rank, CAST(tfidf AS DOUBLE) AS tfidf FROM (
        SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank,
               tfidf
        FROM scored) WHERE rank <= 3""",
    "text_bm25_topk" -> {
      val ql = Bm25DemoQueries
        .flatMap { case (id, terms) => terms.map(t => s"($id, '$t')") }
        .mkString(", ")
      s"""
      WITH ql AS (SELECT * FROM (VALUES $ql) AS v(query_id, term)),
      ${bm25Ctes(selfExclude = false)}
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank,
             CAST(score_dec AS DOUBLE) AS score
      FROM bm25_ranked WHERE rank <= 10"""
    },
    "search_mmr_rerank" -> {
      // Unrolled 5-step greedy MMR: candidate front + pairwise sims
      // once, then per step an excluded-max-sim aggregate and an
      // argmax (row_number on (score DESC, doc_id)).
      def step(t: Int): String = s"""
      m$t AS (
        SELECT c.query_id, c.doc_id, c.rel, max(ps.sim) AS ms
        FROM cands c
        JOIN sel${t - 1} s ON s.query_id = c.query_id
        JOIN psim ps ON ps.query_id = c.query_id AND ps.da = c.doc_id AND ps.db = s.doc_id
        WHERE NOT EXISTS (
          SELECT 1 FROM sel${t - 1} z
          WHERE z.query_id = c.query_id AND z.doc_id = c.doc_id)
        GROUP BY c.query_id, c.doc_id, c.rel),
      p$t AS (
        SELECT query_id, doc_id FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY 0.5 * rel - (1.0 - 0.5) * ms DESC, doc_id) AS rn
          FROM m$t) WHERE rn = 1),
      sel$t AS (
        SELECT * FROM sel${t - 1}
        UNION ALL SELECT query_id, doc_id, $t AS rank FROM p$t)"""
      s"""
      WITH scored AS (
        SELECT qid AS query_id, nvid AS doc_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS rel FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        GROUP BY qid, nvid),
      cands AS (
        SELECT query_id, doc_id, rel FROM (
          SELECT query_id, doc_id, rel,
                 row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rk
          FROM scored) WHERE rk <= 20),
      pv AS (
        SELECT c.query_id, c.doc_id, e.embedding
        FROM cands c JOIN embeddings e ON e.vec_id = c.doc_id),
      psim AS (
        SELECT query_id, da, db,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
                 unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
          FROM pv a JOIN pv b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id)
        GROUP BY query_id, da, db),
      p1 AS (
        SELECT query_id, doc_id FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY 0.5 * rel DESC, doc_id) AS rn
          FROM cands) WHERE rn = 1),
      sel1 AS (SELECT query_id, doc_id, 1 AS rank FROM p1),
      ${step(2)}, ${step(3)}, ${step(4)}, ${step(5)}
      SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank FROM sel5"""
    },
    "search_hybrid_rrf" -> {
      val scale = graft.operators.Search.rrfScale(60, 10)
      s"""
      WITH ql AS (
        SELECT doc_id AS query_id,
               unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents WHERE doc_id < 5),
      ${bm25Ctes(selfExclude = true)},
      vscored AS (
        SELECT qid AS query_id, nvid AS doc_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        GROUP BY qid, nvid),
      vlist AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
          FROM vscored)
        WHERE rank <= 10),
      pts AS (
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts FROM vlist
        UNION ALL
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts
        FROM bm25_ranked WHERE rank <= 10),
      fused AS (
        SELECT query_id, doc_id, CAST(sum(pts) AS BIGINT) AS rrf_score
        FROM pts GROUP BY query_id, doc_id)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, rrf_score FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank,
               rrf_score
        FROM fused)
      WHERE rank <= 10"""
    },
    "search_eval_knn" -> """
      WITH scored AS (
        SELECT qid AS query_id, nvid AS doc_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 10)
        GROUP BY qid, nvid),
      ranked AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
          FROM scored)
        WHERE rank <= 10),
      truth AS (
        SELECT q.vec_id AS query_id, n.vec_id AS doc_id
        FROM embeddings q JOIN embeddings n
          ON n.label = q.label AND n.vec_id <> q.vec_id
        WHERE q.vec_id < 10),
      hits AS (
        SELECT r.query_id, count(*) AS n_rel_at_k, min(r.rank) AS first_rel_rank
        FROM ranked r JOIN truth t ON t.query_id = r.query_id AND t.doc_id = r.doc_id
        GROUP BY r.query_id),
      totals AS (SELECT query_id, count(*) AS n_rel_total FROM truth GROUP BY query_id),
      anchor AS (SELECT query_id FROM ranked GROUP BY query_id)
      SELECT a.query_id,
             CAST(coalesce(n_rel_at_k, 0) AS BIGINT) AS n_rel_at_k,
             CAST(first_rel_rank AS BIGINT) AS first_rel_rank,
             CAST(coalesce(2520 // first_rel_rank, 0) AS BIGINT) AS rr_scaled,
             CAST(coalesce(n_rel_total, 0) AS BIGINT) AS n_rel_total,
             CAST(coalesce(n_rel_at_k, 0) AS DOUBLE) /
               CAST(greatest(least(coalesce(n_rel_total, 0), 10), 1) AS DOUBLE)
               AS recall_at_k,
             CAST(coalesce(n_rel_at_k, 0) AS DOUBLE) / 10.0::DOUBLE AS precision_at_k
      FROM anchor a
      LEFT JOIN hits USING (query_id)
      LEFT JOIN totals USING (query_id)""",
    "search_hybrid_rrf3" -> {
      val scale = graft.operators.Search.rrfScale(60, 10)
      s"""
      WITH ql AS (
        SELECT doc_id AS query_id,
               unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents WHERE doc_id < 5),
      ${bm25Ctes(selfExclude = true)},
      vscored AS (
        SELECT qid AS query_id, nvid AS doc_id,
               sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS sim FROM (
          SELECT q.vec_id AS qid, n.vec_id AS nvid,
                 unnest(q.embedding)::DOUBLE AS x, unnest(n.embedding)::DOUBLE AS y
          FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        GROUP BY qid, nvid),
      vlist AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
          FROM vscored)
        WHERE rank <= 10),
      bsk AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 64),
                    i -> CASE WHEN embedding[i + 1] <= 0 THEN 0::BIGINT
                              WHEN i = 63 THEN ((-9223372036854775807)::BIGINT - 1)
                              ELSE (1::BIGINT << i) END)) AS BIGINT) AS sk
        FROM embeddings),
      blist AS (
        SELECT query_id, doc_id, rank FROM (
          SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.sk, n.sk)), n.vec_id) AS rank
          FROM bsk q JOIN bsk n ON n.vec_id <> q.vec_id
          WHERE q.vec_id < 5)
        WHERE rank <= 10),
      pts AS (
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts FROM vlist
        UNION ALL
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts
        FROM bm25_ranked WHERE rank <= 10
        UNION ALL
        SELECT query_id, doc_id, CAST($scale // (60 + rank) AS BIGINT) AS pts FROM blist),
      fused AS (
        SELECT query_id, doc_id, CAST(sum(pts) AS BIGINT) AS rrf_score
        FROM pts GROUP BY query_id, doc_id)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rank, rrf_score FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank,
               rrf_score
        FROM fused)
      WHERE rank <= 10"""
    }
  )

  /** Shared BM25 WITH-clause body (expects a preceding `ql(query_id,
    * term)` CTE; yields `bm25_ranked(query_id, doc_id, rank,
    * score_dec)`). Expression-identical to Search.bm25TopK — constants
    * appear as the same ops ((1.2 + 1.0), (1.0 - 0.75)), per-term
    * scores round to 12dp then sum as DECIMAL(28,12).
    */
  private def bm25Ctes(selfExclude: Boolean): String = {
    val self = if (selfExclude) "WHERE doc_id <> query_id" else ""
    s"""bm25_base AS (
        SELECT doc_id, coalesce(len(string_split(text, ' ')), 0) AS dl FROM documents),
      bm25_stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM bm25_base),
      bm25_tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok IN (SELECT DISTINCT term FROM ql)
        GROUP BY doc_id, tok),
      bm25_df AS (SELECT tok, count(*) AS df FROM bm25_tf GROUP BY tok),
      bm25_scored AS (
        SELECT ql.query_id, bm25_tf.doc_id,
               CAST(round(
                 ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
                 (tf * (1.2 + 1.0)) /
                 (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl AS DOUBLE) * n_docs / sum_dl))),
                 12) AS DECIMAL(28,12)) AS term_score
        FROM bm25_tf
        JOIN bm25_df USING (tok)
        JOIN bm25_base USING (doc_id)
        JOIN ql ON bm25_tf.tok = ql.term
        CROSS JOIN bm25_stats),
      bm25_perdoc AS (
        SELECT query_id, doc_id, sum(term_score) AS score_dec
        FROM bm25_scored $self
        GROUP BY query_id, doc_id),
      bm25_ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score_dec DESC, doc_id) AS rank,
               score_dec
        FROM bm25_perdoc)"""
  }

  // ---------------------------------------------------------------- //
  // Analytics / SQL-transformation engine                            //
  // ---------------------------------------------------------------- //

  private def analyticsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) =>
      Analytics.q1PricingSummary(t(s, dir, "lineitem"))),
    "q3_join" -> ((s, dir) =>
      Analytics.q3ShippingPriority(
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"), "BUILDING")),
    "q5_multijoin" -> ((s, dir) => Analytics.q5LocalSupplier(s, dir, "ASIA")),
    "q10_returned" -> ((s, dir) =>
      Analytics.q10ReturnedItems(
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"),
        t(s, dir, "nation"), topN = 20)),
    "q12_case_agg" -> ((s, dir) =>
      Analytics.q12PriorityClasses(t(s, dir, "orders"), t(s, dir, "lineitem"))),
    "q6_scan_agg" -> ((s, dir) =>
      Analytics.q6ForecastRevenue(t(s, dir, "lineitem"))),
    "q4_exists_range" -> ((s, dir) =>
      Analytics.q4OrderPriority(t(s, dir, "orders"), t(s, dir, "lineitem"))),
    "q_corr_subquery" -> ((s, dir) =>
      Analytics.ordersAboveCustomerAvg(t(s, dir, "orders"))),
    "q_window" -> ((s, dir) => Analytics.runningSpend(t(s, dir, "orders"))),
    // Window-function breadth: lead/lag/ntile/first over one
    // entity-partitioned sort.
    "q_window_suite" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"),
        col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        ntile(4).over(w).cast("long").as("quartile"),
        first(col("o_orderkey")).over(w).as("first_order"))
    }),
    "q_topk_per_group" -> ((s, dir) => Analytics.topKPerGroup(t(s, dir, "orders"), 3)),
    // Bucketed range join (no native Spark operator): count orders
    // falling inside sampled 3-day campaign windows — day-bucket
    // explode + equi-join + exact residual, never a nested-loop
    // theta join.
    "q_range_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val windows = orders
        .where(col("o_orderkey") % 991 === 0)
        .select(
          col("o_orderkey").as("window_id"),
          col("o_orderdate").cast("timestamp").as("w_start"),
          date_add(col("o_orderdate"), 3).cast("timestamp").as("w_end"))
      Analytics
        .pointInRangeJoin(
          orders.select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("p_ts")),
          "o_orderkey", "p_ts",
          windows, "window_id", "w_start", "w_end",
          bucketUs = 86400L * 1000000L)
        .groupBy(col("interval_id").as("window_id"))
        .agg(count(lit(1)).as("n_points"))
    }),
    // True RANGE frame: trailing-24h spend per user at every event —
    // equal-ts peers share the frame (ROWS frames cannot express this).
    "q_window_range" -> ((s, dir) =>
      Analytics.trailingRangeSum(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value",
        trailingUs = 24L * 3600L * 1000000L)),
    // Time-series densification: per-type daily counts with empty days
    // zero-filled across the corpus date span.
    "q_gapfill_daily" -> ((s, dir) =>
      Analytics.gapfillDaily(t(s, dir, "events"), "event_type", "ts")),
    // Flow analytics: consecutive event-type transition counts per
    // user stream (the Sankey/Markov matrix).
    "q_event_transitions" -> ((s, dir) =>
      Analytics.eventTransitions(t(s, dir, "events"), "user_id", "event_type", "ts", "event_id")),
    // Top 20 3-step user journeys (the Sankey/path-analysis view).
    "q_event_paths" -> ((s, dir) =>
      Analytics.eventPaths(
        t(s, dir, "events"), "user_id", "event_type", "ts", "event_id",
        steps = 3, topN = 20)),
    // Cohort retention matrix: distinct active users per
    // (first-active-week cohort, week offset) — product analytics'
    // canonical retention view.
    "q_retention_cohorts" -> ((s, dir) =>
      Analytics.retentionCohorts(t(s, dir, "events"), "user_id", "ts")),
    // SCD type-2 history build: validity intervals per (user, value)
    // observation, open-ended for the current row.
    "fs_scd2_intervals" -> ((s, dir) =>
      Analytics.scd2Intervals(t(s, dir, "events"), "user_id", "value", "ts", "event_id")),
    "q_sessionize" -> ((s, dir) => Analytics.sessionize(t(s, dir, "events"), 30)),
    // Sweep-line peak concurrency: max simultaneous 30-min sessions
    // per UTC day; sessions split at midnight so the sweep partitions
    // by day (no global ordering).
    "q_concurrency_peak" -> ((s, dir) =>
      Analytics.concurrencyPeak(t(s, dir, "events"), 30)),
    // Trailing 8-event EWMA (α=1/2) of spend per user — exact integer
    // micro-units, power-of-two weights, one window.
    "q_ewma" -> ((s, dir) =>
      Analytics.ewmaTrailing(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value", nLags = 8)),
    // Pareto / cumulative-share analysis: customers ranked by exact
    // revenue, running share from the distributed prefix-sum (never a
    // single-task window), top-80% flag crossing-inclusive.
    "q_pareto" -> ((s, dir) => {
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("entity"))
        .agg(sum(floor(col("o_totalprice") * 1000000.0).cast("long"))
          .as("revenue_micro"))
        .withColumn("neg_rev", -col("revenue_micro"))
      val (run, _, total) = FeatureStore.globalRunningSumWithTotals(
        per, Seq("neg_rev", "entity"), "revenue_micro")
      // shares go through DECIMAL(38): cum * 1e6 overflows BIGINT at
      // large SFs (total revenue micro is already ~1e16)
      run.select(
        col("entity"), col("revenue_micro"),
        col("row_number").as("rank"),
        col("running_sum").as("cum_micro"),
        expr(s"CAST(CAST(running_sum AS DECIMAL(38,0)) * 1000000 div ${total}L AS BIGINT)")
          .as("cum_share_micro"),
        (expr(
          s"CAST(CAST(running_sum - revenue_micro AS DECIMAL(38,0)) * 1000000 div ${total}L AS BIGINT)")
          < 800000L).as("is_top80"))
    }),
    // Join-key skew diagnostic: top-20 heaviest lineitem part keys
    // with share + skew-vs-uniform factors in integer micro-units.
    "q_skew_profile" -> ((s, dir) =>
      Skew.skewProfile(t(s, dir, "lineitem"), "l_partkey", topK = 20)),
    // COUNT(DISTINCT) OVER a trailing RANGE frame: distinct event
    // types per user in the last 24h at every event.
    "q_rolling_distinct" -> ((s, dir) =>
      Analytics.rollingDistinct(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        trailingUs = 86400000000L)),
    "q_session_window" -> ((s, dir) => Analytics.sessionWindows(t(s, dir, "events"), 30)),
    // Market-basket lift over order-blocked part pairs.
    // Segment-pair audience overlap from KMV sketches: union AND
    // intersection cardinalities without a count-distinct join.
    "q_audience_overlap" -> ((s, dir) =>
      Cardinality.audienceOverlapKmv(
        t(s, dir, "events"), "event_type", "user_id", k = 128)),
    "q_copurchase_lift" -> ((s, dir) =>
      Analytics.copurchaseLift(t(s, dir, "lineitem"), minCo = 2)),
    // Z-order layout: Morton-interleaved (custkey, day) codes cut into
    // buckets, with the per-bucket min/max envelopes a table format
    // would store per file for multi-dimensional pruning.
    "q_zorder_layout" -> ((s, dir) =>
      Analytics.zorderLayout(t(s, dir, "orders"), bucketShift = 16)),
    // Space snapshot diff: added/removed/changed/same per key between
    // two frozen versions (label bump on every 10th key = 'changed').
    "emb_space_diff" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_spaces_diff"
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      graft.sources.Spaces.delete(s, root, "vectors")
      val v1 = graft.sources.Spaces.freeze(emb.where(col("vec_id") < 300), root, "vectors")
      val v2 = graft.sources.Spaces.freeze(
        emb.where(col("vec_id") >= 100)
          .withColumn(
            "label",
            when(col("vec_id") % 10 === 0, col("label") + 1).otherwise(col("label"))),
        root, "vectors")
      graft.sources.Spaces.diff(
        graft.sources.Spaces.load(s, root, "vectors", Some(v1)),
        graft.sources.Spaces.load(s, root, "vectors", Some(v2)),
        "vec_id", Seq("label", "embedding"))
    }),
    "q_events_pivot" -> ((s, dir) =>
      Analytics.eventPivot(
        t(s, dir, "events"), Seq("click", "view", "purchase", "signup", "error"))
        .withColumnRenamed("user_id", "entity")),
    "q_rollup" -> ((s, dir) =>
      Analytics.rollupBalances(
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"))),
    "q_cube" -> ((s, dir) =>
      Analytics.cubeBalances(
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"))),
    "q_grouping_sets" -> ((s, dir) =>
      Analytics.groupingSetsBalances(
        t(s, dir, "customer"), t(s, dir, "nation"), t(s, dir, "region"))),
    "q_unpivot" -> ((s, dir) =>
      Analytics.unpivotEventCounts(
        t(s, dir, "events"), Seq("click", "view", "purchase", "signup", "error"))),
    "q_percentiles" -> ((s, dir) => Analytics.orderPercentiles(t(s, dir, "orders"))),
    // Histogram-sketch quantiles — the driver-verifiable approximate
    // percentile (power-of-two bin width => exact IEEE interpolation).
    "q_hist_quantiles" -> ((s, dir) =>
      Analytics.histogramQuantiles(
        t(s, dir, "orders"), "o_orderpriority", "o_totalprice",
        lo = 0.0, width = 128.0, nBins = 8192, qs = Seq(0.25, 0.5, 0.75, 0.95))),
    "q_json_extract" -> ((s, dir) => Analytics.jsonExtract(t(s, dir, "events"))),
    "q7_volume_shipping" -> ((s, dir) =>
      Analytics.q7VolumeShipping(s, dir, "NATION_3", "NATION_19")),
    "q8_market_share" -> ((s, dir) =>
      Analytics.q8MarketShare(s, dir, "ASIA", "ECONOMY", "NATION_3")),
    "q9_product_profit" -> ((s, dir) =>
      Analytics.q9ProductProfit(s, dir, "widget")),
    "q13_order_distribution" -> ((s, dir) =>
      Analytics.q13CustomerDistribution(t(s, dir, "customer"), t(s, dir, "orders"))),
    "q14_promo_share" -> ((s, dir) =>
      Analytics.q14PromoRevenue(t(s, dir, "lineitem"), t(s, dir, "part"), "1996-03-01")),
    "q15_top_supplier" -> ((s, dir) =>
      Analytics.q15TopSupplier(t(s, dir, "lineitem"), t(s, dir, "supplier"), "1996-01-01")),
    "q16_supplier_breadth" -> ((s, dir) =>
      Analytics.q16SupplierPartCount(
        t(s, dir, "lineitem"), t(s, dir, "part"), "Brand#13", Seq(1, 5, 10, 15, 20, 25, 30, 35))),
    "q17_small_qty_revenue" -> ((s, dir) =>
      Analytics.q17SmallQuantityRevenue(t(s, dir, "lineitem"), t(s, dir, "part"), "Brand#13")),
    "q18_large_orders" -> ((s, dir) =>
      Analytics.q18LargeOrders(
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"), minQty = 300)),
    "q19_disjunctive" -> ((s, dir) =>
      Analytics.q19DisjunctiveRevenue(t(s, dir, "lineitem"), t(s, dir, "part"))),
    "q20_promotion_suppliers" -> ((s, dir) =>
      Analytics.q20PartPromotionSuppliers(s, dir, "blue", "1996-01-01", minQty = 30)),
    "q21_waiting_supplier" -> ((s, dir) =>
      Analytics.q21WaitingSupplier(
        t(s, dir, "orders"), t(s, dir, "lineitem"), t(s, dir, "supplier"))),
    "q22_dormant_customers" -> ((s, dir) =>
      Analytics.q22DormantCustomers(
        t(s, dir, "customer"), t(s, dir, "orders"), "1999-01-01")),
    "q2_min_cost_supplier" -> ((s, dir) =>
      Analytics.q2MinCostSupplier(
        t(s, dir, "part"), t(s, dir, "supplier"), t(s, dir, "nation"),
        t(s, dir, "region"), t(s, dir, "lineitem"), maxSize = 3, regionName = "ASIA")),
    "q11_important_parts" -> ((s, dir) =>
      Analytics.q11ImportantParts(
        t(s, dir, "supplier"), t(s, dir, "nation"), t(s, dir, "lineitem"),
        nationName = "NATION_12", fraction = 0.0002)),
    "q_anti_semi_join" -> ((s, dir) =>
      Analytics.antiSemiCounts(t(s, dir, "customer"), t(s, dir, "orders"))),
    // Ordered conversion funnel: users reaching each stage strictly
    // after their earliest previous-stage event.
    "q_funnel" -> ((s, dir) =>
      Analytics.funnel(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))),
    // Set operations: nations having suppliers INTERSECT/EXCEPT nations
    // having customers (DataFrame intersect/except == SQL INTERSECT/EXCEPT).
    "q_set_ops" -> ((s, dir) => {
      val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val both = suppNations.intersect(custNations)
        .select(col("nationkey"), lit("both").as("which"))
      val custOnly = custNations.except(suppNations)
        .select(col("nationkey"), lit("cust_only").as("which"))
      both.unionByName(custOnly)
    }),
    // Salted-join correctness at query level: result must equal the
    // plain equi-join (which IS the oracle).
    // RFM customer-value segmentation: exact quartile scores over
    // (metric, entity) total orders via the distributed prefix-sum
    // ranking — no single-task global window.
    "q_rfm_segments" -> ((s, dir) =>
      Analytics.rfmSegments(
        t(s, dir, "events"), "user_id", "event_type", "ts", "value", "purchase")),
    // Pareto frontier over parts: cheapest price for each size tier —
    // skyline via distinct-x maxima + prefix-max, never the quadratic
    // join (which IS the oracle's semantic definition).
    "q_skyline" -> ((s, dir) =>
      Analytics.skyline2d(
        t(s, dir, "part"), "p_partkey", "p_retailprice", "p_size")),
    // Week-over-week volume movers per event type: all-integer lag
    // deltas with a micro-unit pct change — the trend readout.
    "q_week_over_week" -> ((s, dir) => {
      val weekly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      weekly
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .select(
          col("event_type"), unix_micros(col("week")).as("week_us"),
          col("n"), col("prev_n"),
          expr("((n - prev_n) * 1000000) div prev_n").as("delta_pct_micro"))
    }),
    // Time-bounded funnel (windowFunnel): click→view→purchase chains
    // completed within 1 day of the first click, earliest-greedy.
    "q_funnel_window" -> ((s, dir) =>
      Analytics.windowFunnel(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("click", "view", "purchase"), windowUs = 86400000000L)),
    // Funnel stage-transition latency: exact integer min/mean/max of
    // t_n - t_{n-1} for in-window conversions, per adjacent stage.
    "q_funnel_latency" -> ((s, dir) =>
      Analytics.funnelStageLatency(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("click", "view", "purchase"), windowUs = 86400000000L)),
    // Experimentation readout: deterministic md5 A/B split of users,
    // two-proportion z on purchase conversion, micro-unit fixed point.
    "q_ab_test_zscore" -> ((s, dir) =>
      Analytics.abTestZScore(
        t(s, dir, "events"), "user_id",
        col("event_type") === "purchase" && col("value") > 90, seed = 11L)),
    "q_skew_salted_join" -> ((s, dir) =>
      Skew
        .saltedJoin(
          t(s, dir, "events").select(col("user_id").as("c_custkey"), col("value")),
          t(s, dir, "customer"), "c_custkey", salts = 8, saltBy = col("value"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))),
    // Bucketed-layout join: both sides hash-bucketed + sorted on the
    // join key at write time, so the recurring entity join runs with no
    // per-query exchange (shuffle-free plan spec-verified in
    // SourcesSpec); the oracle checks the result over the raw parquet.
    "source_bucketed_join" -> ((s, dir) => {
      Tables.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "orders_bkt", Seq("o_custkey"), 8)
      Tables.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "customer_bkt", Seq("c_custkey"), 8)
      val o = s.table("orders_bkt")
      val c = s.table("customer_bkt")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_spend"))
    }),
    // Source round-trip: register a CSV copy of a table and query it —
    // the oracle reads the original parquet.
    "source_csv_roundtrip" -> ((s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_csv_nation"
      t(s, dir, "nation").write.mode("overwrite").option("header", "true").csv(tmp)
      Tables
        .registerPrimary(s, "nation_csv", tmp, "csv",
          expectedSchema = Some(t(s, dir, "nation").schema))
        .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_name"))
    }),
    // JSON-lines source registration round-trip (the third leg of the
    // source matrix beside CSV and the ORC spec): explicit schema (no
    // inference pass over the corpus — the 100 TB requirement), same
    // region profile oracle as the CSV leg's nation profile.
    "source_jsonl_roundtrip" -> ((s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_jsonl_customer"
      val cust = t(s, dir, "customer")
      cust.write.mode("overwrite").json(tmp)
      Tables
        .registerPrimary(s, "customer_jsonl", tmp, "json",
          expectedSchema = Some(cust.schema))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("balance"))
    }),
    // JDBC warehouse round-trip — the reference's primary deployment
    // substrate is SQL warehouses (provider/postgres.go:166,
    // snowflake.go, bigquery.go:444): export supplier to an embedded
    // Derby database over spark.write.jdbc, register it back as a
    // PARALLEL partitioned JDBC scan (4 range-predicated connections
    // on s_suppkey — the JDBC fact-table contract), and profile it.
    // The oracle reads the original parquet.
    "source_jdbc_roundtrip" -> ((s, dir) => {
      val url =
        "jdbc:derby:" + System.getProperty("java.io.tmpdir") + "/graft_derby;create=true"
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      Tables.writeJdbc(sup, url, "supplier_wh")
      Tables
        .registerJdbc(
          s, "supplier_wh", url, "supplier_wh",
          partitionCol = Some("s_suppkey"),
          lowerBound = 0L, upperBound = 1000000L, numPartitions = 4)
        .groupBy(col("s_nationkey").cast("long").as("s_nationkey"))
        .agg(
          count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("balance"),
          min(col("s_name")).as("first_name"))
    }),
    // Hive-style partitioned layout round-trip: events written
    // partitionBy(event_date), read back with a single-day predicate.
    // The date filter resolves at PLANNING time against directory
    // names (PartitionFilters, spec-asserted) — the scan reads 1 of 30
    // day directories, the 100 TB first-line defense before zone maps
    // or bucketing. Day profile per event_type; decimal-exact spend.
    "source_partitioned_prune" -> ((s, dir) => {
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_part_events"
      Tables.writePartitioned(
        t(s, dir, "events").withColumn("event_date", to_date(col("ts"))),
        tmp, Seq("event_date"))
      s.read.parquet(tmp)
        .where(col("event_date") === lit("2024-01-10").cast("date"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("spend"))
    }),
    // WebDataset tar-shard training export (operators.WdsShards): the
    // dataloader-facing last mile past the reference's parquet/CSV
    // materialization exports (provider/offline.go's materialization
    // iterators stop at tabular files). Division-packed 1 MiB shards
    // over doc_id order; every manifest stat is re-derived from the
    // PARSED artifact bytes (header checksums, member names/sizes,
    // payload CRCs vs the source strings), so the formula oracle and
    // the tar file meet only at the POSIX-ustar format — the
    // hnswlib-export gate discipline. 256 KiB target = multi-shard at
    // every driver SF (~2 KiB archived cost per sample); a production
    // export sets ~1 GiB.
    "sink_wds_shards" -> ((s, dir) =>
      WdsShards.exportStats(t(s, dir, "documents"), "doc_id", "text", "lang",
        targetBytes = 256L * 1024)),
    // Lakehouse round-trip (the reference Spark runner's Iceberg/Delta
    // registration path, offline_store_spark_runner.py:193/213,
    // re-expressed on graft's own JSON-commit-log format): commit
    // nation as v1, append a shifted slice as v2, then profile BOTH the
    // pinned v1 snapshot (time travel) and the latest through the log.
    // The oracle recomputes both snapshots from the raw parquet.
    "source_lakehouse_roundtrip" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake"
      val tablePath = new org.apache.hadoop.fs.Path(s"$root/nation_lake")
      val fsys = tablePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tablePath)) fsys.delete(tablePath, true) // fresh table per run
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      val v1 = Lakehouse.commit(nation, root, "nation_lake", "overwrite")
      Lakehouse.commit(
        nation.where(col("n_regionkey") === 0)
          .select((col("n_nationkey") + 100L).as("n_nationkey"), col("n_regionkey")),
        root, "nation_lake", "append")
      def profile(tag: String, df: DataFrame): DataFrame =
        df.groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("sum_key"))
          .withColumn("snap", lit(tag))
      profile("v1", Lakehouse.read(s, root, "nation_lake", Some(v1)))
        .unionByName(profile("latest", Lakehouse.read(s, root, "nation_lake")))
    }),
    // Write-Audit-Publish: a clean batch passes the contract and
    // publishes zero-copy; a corrupted batch (negated region keys)
    // fails the audit and must leave the main table UNTOUCHED — the
    // profile equals the clean batch, proving the gate held.
    "lake_write_audit_publish" -> ((s, dir) => {
      import graft.operators.FeatureStore.ContractCheck
      val root = System.getProperty("java.io.tmpdir") + "/graft_wap"
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fsys = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(rootPath)) fsys.delete(rootPath, true) // fresh per run
      val nation = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_regionkey").cast("long").as("n_regionkey"))
      val checks = Seq(
        ContractCheck.NotNull("n_nationkey"),
        ContractCheck.InRange("n_regionkey", 0, 4),
        ContractCheck.Unique("n_nationkey"))
      val (v1, _) = Lakehouse.writeAuditPublish(
        nation, root, "nation_wap", "overwrite", checks)
      require(v1.nonEmpty, "clean batch must publish")
      val bad = nation.withColumn("n_regionkey", -col("n_regionkey") - 1L)
      val (v2, _) = Lakehouse.writeAuditPublish(
        bad, root, "nation_wap", "overwrite", checks)
      require(v2.isEmpty, "corrupted batch must NOT publish")
      Lakehouse.read(s, root, "nation_wap")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("sum_key"))
    }),
    // MERGE INTO on the lakehouse format (Delta/Iceberg upsert
    // statement; the reference registers feature tables into exactly
    // these formats — offline_store_spark_runner.py:193/213): orders
    // range-clustered by key, then ONE merge carrying updates
    // (k%100==0, price doubled), inserts (k%100==2, key shifted +1e9)
    // and deletes (k%100==1). Zone-map pruning rewrites only files the
    // delta touches; profiled per status class so updated / inserted /
    // surviving rows all land in the hash.
    "lake_merge_into" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_merge"
      val tp = new org.apache.hadoop.fs.Path(s"$root/orders_lake")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val base = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      Lakehouse.commitClustered(base, root, "orders_lake", "overwrite", "k", 8)
      val upd = base.where(col("k") % 100 === 0)
        .select(col("k"), (col("price") * 2).as("price"), lit("U").as("status"))
      val ins = base.where(col("k") % 100 === 2)
        .select((col("k") + 1000000000L).as("k"), col("price"), lit("N").as("status"))
      val del = base.where(col("k") % 100 === 1)
        .select(col("k"), col("price"), lit("D").as("status"))
      Lakehouse.merge(
        s, root, "orders_lake", upd.unionByName(ins).unionByName(del),
        "k", deleteWhen = Some(col("status") === "D"))
      Lakehouse.read(s, root, "orders_lake")
        .groupBy(col("status"))
        .agg(
          count(lit(1)).as("n"),
          decSumD(col("price")).as("total"),
          sum(col("k")).as("sum_keys"))
    }),
    // Reproducible training — the "what did we know then" guarantee:
    // materialize features from the PINNED v1 snapshot (unchanged
    // after late events land in v2) vs from the latest snapshot, and
    // count the entities whose feature value the late data moved.
    // Pinning the table version IS the training-set reproducibility
    // mechanism (no copy of the data needed).
    "lake_reproducible_training" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_repro"
      val tp = new org.apache.hadoop.fs.Path(s"$root/ev")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val ev = t(s, dir, "events").select(
        col("user_id").as("entity"), col("value"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val v1 = Lakehouse.commit(
        ev.where(col("event_id") % 4 =!= 3), root, "ev", "overwrite")
      Lakehouse.commit(ev.where(col("event_id") % 4 === 3), root, "ev", "append")
      def mat(df: DataFrame): DataFrame =
        df.groupBy(col("entity"))
          .agg(max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("value"))
      val pinned = mat(Lakehouse.read(s, root, "ev", Some(v1)))
      val latest = mat(Lakehouse.read(s, root, "ev"))
      def profile(tag: String, df: DataFrame): DataFrame =
        df.agg(
          count(lit(1)).as("n"),
          decSum6D(col("value")).as("total"))
          .withColumn("snap", lit(tag))
      val changed = pinned.as("p")
        .join(latest.as("l"), Seq("entity"))
        .where(col("p.value") =!= col("l.value"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", lit(null).cast("double"))
        .withColumn("snap", lit("changed"))
      profile("v1", pinned).unionByName(profile("latest", latest)).unionByName(changed)
    }),
    // DELETE WHERE on the lakehouse (GDPR erasure path): clustered by
    // key, predicate bounded to keys <= 30000 with a matching prune
    // hint — files above the range are re-referenced untouched.
    "lake_delete_where" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_del"
      val tp = new org.apache.hadoop.fs.Path(s"$root/orders_lake")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val base = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      Lakehouse.commitClustered(base, root, "orders_lake", "overwrite", "k", 8)
      Lakehouse.deleteWhere(
        s, root, "orders_lake",
        col("k") % 10 === 3 && col("k") <= 30000,
        prune = Some(("k", 0.0, 30000.0)))
      Lakehouse.read(s, root, "orders_lake")
        .groupBy(col("status"))
        .agg(
          count(lit(1)).as("n"),
          decSumD(col("price")).as("total"),
          sum(col("k")).as("sum_keys"))
    }),
    // Change data feed (Delta table_changes parity): appends resolve
    // from their own commit dirs (no diff computation); the delete
    // rewrite falls back to the snapshot exceptAll diff.
    "lake_table_changes" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_cdf"
      val tp = new org.apache.hadoop.fs.Path(s"$root/nation_cdf")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val base = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"), col("n_regionkey").cast("long").as("r"))
      val v1 = Lakehouse.commit(base, root, "nation_cdf", "overwrite")
      val v2 = Lakehouse.commit(
        base.where(col("r") === 0).select((col("k") + 100L).as("k"), col("r")),
        root, "nation_cdf", "append")
      val v3 = Lakehouse.deleteWhere(s, root, "nation_cdf", col("r") === 1).version
      Lakehouse.tableChanges(s, root, "nation_cdf", v1, v2)
        .withColumn("phase", lit("append"))
        .unionByName(
          Lakehouse.tableChanges(s, root, "nation_cdf", v2, v3)
            .withColumn("phase", lit("delete")))
    }),
    // Additive schema evolution: v1 without the comment column, an
    // evolved append WITH it; the merged snapshot nulls the old files'
    // missing column while the pre-evolution snapshot keeps v1's shape.
    "lake_schema_evolution" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_evo"
      val tp = new org.apache.hadoop.fs.Path(s"$root/supplier_lake")
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val base = t(s, dir, "supplier").select(
        col("s_suppkey").cast("long").as("k"), col("s_nationkey").cast("long").as("nation"))
      val v1 = Lakehouse.commit(base, root, "supplier_lake", "overwrite")
      Lakehouse.commit(
        t(s, dir, "supplier").select(
          (col("s_suppkey").cast("long") + 100000L).as("k"),
          col("s_nationkey").cast("long").as("nation"),
          col("s_acctbal").cast("double").as("balance")),
        root, "supplier_lake", "append", evolveSchema = true)
      val latest = Lakehouse.read(s, root, "supplier_lake")
        .groupBy(col("nation"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          count(col("balance")).as("n_balance"),
          decSumD(col("balance")).as("sum_balance"))
        .withColumn("snap", lit("evolved"))
      Lakehouse.read(s, root, "supplier_lake", Some(v1))
        .groupBy(col("nation"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          count(lit(null)).as("n_balance"),
          lit(null).cast("double").as("sum_balance"))
        .withColumn("snap", lit("v1"))
        .unionByName(latest)
    }),
    // Partition-spec evolution (Iceberg's flagship): early commits
    // clustered on custkey, later commits on totalprice — a pruned
    // multi-predicate read applies each commit's OWN zone maps and
    // stays exactly equal to the plain filtered read.
    "lake_partition_evolution" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_pevo"
      val tp = new org.apache.hadoop.fs.Path(root)
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh table per run
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("c"),
        col("o_totalprice").cast("double").as("p"))
      Lakehouse.commitClustered(
        o.where(col("k") % 2 === 0), root, "orders_pevo", "overwrite", "c", 4)
      Lakehouse.commitClustered(
        o.where(col("k") % 2 === 1), root, "orders_pevo", "append", "p", 4)
      Lakehouse
        .readPrunedMulti(
          s, root, "orders_pevo",
          Seq(("c", 100.0, 500.0), ("p", 0.0, 150000.0)))
        .groupBy((col("c") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
    }),
    // Zero-copy shallow clone: the clone commit references the source
    // snapshot's files byte-for-byte, then diverges independently (an
    // append lands only in the clone). Output: both sides tagged.
    "lake_clone" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_lake_clone"
      val tp = new org.apache.hadoop.fs.Path(root)
      val fsys = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(tp)) fsys.delete(tp, true) // fresh tables per run
      val base = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name"),
        col("n_regionkey").cast("long").as("region"))
      Lakehouse.commit(base, root, "nation_lake", "overwrite")
      Lakehouse.shallowClone(s, root, "nation_lake", "nation_dev")
      Lakehouse.commit(
        base.select((col("k") + 100L).as("k"), col("name"), col("region")),
        root, "nation_dev", "append")
      Lakehouse.read(s, root, "nation_lake")
        .withColumn("side", lit("src"))
        .unionByName(Lakehouse.read(s, root, "nation_dev")
          .withColumn("side", lit("clone")))
    })
  )

  private val disc = "CAST(l_extendedprice AS DECIMAL(18,4)) * " +
    "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"

  /** The same 16-bit Morton interleave as Analytics.zorderLayout,
    * unrolled to bitwise SQL (32 OR terms), bucket = code >> 16.
    */
  private lazy val zorderOracleSql: String = {
    val terms = (0 until 16).flatMap(i => Seq(
      s"(((x >> $i) & 1) << ${2 * i})",
      s"(((y >> $i) & 1) << ${2 * i + 1})"))
    s"""
      WITH m AS (
        SELECT cust, day, ${terms.mkString(" | ")} AS z FROM (
          SELECT o_custkey AS x, o_custkey AS cust,
                 date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS y,
                 date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day
          FROM orders))
      SELECT z >> 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
             min(cust) AS min_cust, max(cust) AS max_cust,
             CAST(min(day) AS BIGINT) AS min_day, CAST(max(day) AS BIGINT) AS max_day
      FROM m GROUP BY bucket"""
  }

  private def analyticsOracles: Map[String, String] = Map(
    "q1_agg" -> s"""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
             CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q3_join" -> s"""
      SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority""",
    "q5_multijoin" -> s"""
      SELECT n_name, CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name""",
    "q10_returned" -> s"""
      SELECT c_custkey, c_name, n_name,
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""",
    "q12_case_agg" -> """
      SELECT l_linestatus,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_linestatus""",
    "q6_scan_agg" -> """
      SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                           CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
             AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.02 AND l_discount <= 0.09 AND l_quantity < 24""",
    "q4_exists_range" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority""",
    "q_corr_subquery" -> """
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM orders o
      WHERE o_totalprice > 2 * (
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        FROM orders i WHERE i.o_custkey = o.o_custkey)""",
    "q_window" -> """
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
      FROM orders""",
    "q_window_suite" -> """
      SELECT o_custkey, o_orderkey,
             lag(o_orderkey, 1) OVER w AS prev_order,
             lead(o_orderkey, 1) OVER w AS next_order,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             first_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order
      FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "q_range_join" -> """
      WITH w AS (
        SELECT o_orderkey AS window_id, o_orderdate AS d0,
               o_orderdate + INTERVAL 3 DAY AS d1
        FROM orders WHERE o_orderkey % 991 = 0)
      SELECT w.window_id, CAST(count(*) AS BIGINT) AS n_points
      FROM w JOIN orders p ON p.o_orderdate BETWEEN w.d0 AND w.d1
      GROUP BY w.window_id""",
    "q_window_range" -> """
      SELECT user_id AS entity, event_id, epoch_us(ts) AS ts_us,
             CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trailing_sum
      FROM events""",
    "q_gapfill_daily" -> """
      WITH c AS (
        SELECT event_type AS grp,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               count(*) AS n
        FROM events GROUP BY 1, 2),
      span AS (
        SELECT min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d0,
               max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d1
        FROM events),
      frame AS (
        SELECT grp, unnest(range(d0, d1 + 1)) AS day
        FROM (SELECT DISTINCT event_type AS grp FROM events) CROSS JOIN span)
      SELECT grp, CAST(day AS BIGINT) AS day, CAST(coalesce(n, 0) AS BIGINT) AS n
      FROM frame LEFT JOIN c USING (grp, day)""",
    "q_event_paths" -> """
      WITH s AS (
        SELECT event_type AS t0,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT t0 || '>' || t1 || '>' || t2 AS path, count(*) AS n
      FROM s WHERE t1 IS NOT NULL AND t2 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 20""",
    "q_event_transitions" -> """
      SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type,
               event_type AS next_type
        FROM events)
      WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type""",
    "q_retention_cohorts" -> """
      WITH w AS (
        SELECT DISTINCT user_id AS entity,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week
        FROM events),
      c AS (SELECT entity, min(week) AS cohort_week FROM w GROUP BY entity)
      SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
             CAST(w.week - c.cohort_week AS BIGINT) AS week_offset,
             CAST(count(DISTINCT w.entity) AS BIGINT) AS n_users
      FROM w JOIN c ON w.entity = c.entity
      GROUP BY 1, 2""",
    "fs_scd2_intervals" -> """
      SELECT user_id AS entity, value, epoch_us(ts) AS valid_from_us,
             epoch_us(lead(ts, 1) OVER w) AS valid_to_us,
             lead(ts, 1) OVER w IS NULL AS is_current
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "q_topk_per_group" -> """
      SELECT o_custkey, o_orderkey, o_totalprice, price_rank FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
        FROM orders) WHERE price_rank <= 3""",
    "q_sessionize" -> """
      WITH f AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (
        SELECT user_id, ts_us,
               CAST(sum(new_sess) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f)
      SELECT user_id, session_id, count(*) AS n_events,
             min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
      FROM g GROUP BY user_id, session_id""",
    // Sweep line: sessions split at UTC midnights, +1/-1 deltas, per-day
    // running sum with starts ordered before ends at a shared instant.
    "q_concurrency_peak" -> """
      WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess0 AS (
        SELECT user_id, ts_us,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged),
      sess AS (
        SELECT user_id, session_id, min(ts_us) AS s, max(ts_us) AS e
        FROM sess0 GROUP BY user_id, session_id),
      split AS (
        SELECT d.day, greatest(s, d.day * 86400000000) AS s2,
               least(e, (d.day + 1) * 86400000000 - 1) AS e2
        FROM sess, LATERAL (
          SELECT unnest(generate_series(s // 86400000000, e // 86400000000)) AS day) d),
      deltas AS (
        SELECT day, s2 AS ts_us, 1 AS delta FROM split
        UNION ALL SELECT day, e2, -1 FROM split),
      run AS (
        SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY ts_us, delta DESC
          ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas)
      SELECT CAST(day * 86400000000 AS BIGINT) AS day_us, CAST(max(conc) AS BIGINT) AS peak
      FROM run GROUP BY day""",
    // Truncated EWMA: identical lag/weight unroll, one integer division.
    "q_ewma" -> {
      val lagsN = (0 until 8).map { k =>
        val w = 1L << (7 - k)
        s"coalesce(lag(vm, $k) OVER w * $w, 0)"
      }.mkString(" + ")
      val lagsD = (0 until 8).map { k =>
        val w = 1L << (7 - k)
        s"CASE WHEN lag(vm, $k) OVER w IS NOT NULL THEN $w ELSE 0 END"
      }.mkString(" + ")
      s"""
      WITH base AS (
        SELECT user_id AS entity, event_id AS tiebreak, epoch_us(ts) AS ts_us,
               CAST(floor(value * 1000000.0) AS BIGINT) AS vm
        FROM events)
      SELECT entity, ts_us, tiebreak,
             CAST(($lagsN) // ($lagsD) AS BIGINT) AS ewma_micro
      FROM base
      WINDOW w AS (PARTITION BY entity ORDER BY ts_us, tiebreak)"""
    },
    "q_pareto" -> """
      WITH per AS (
        SELECT o_custkey AS entity,
               CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
                 AS revenue_micro
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(revenue_micro) AS BIGINT) AS t FROM per),
      r AS (
        SELECT entity, revenue_micro,
               row_number() OVER (ORDER BY revenue_micro DESC, entity) AS rank,
               sum(revenue_micro) OVER (ORDER BY revenue_micro DESC, entity
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM per)
      SELECT entity, revenue_micro, CAST(rank AS BIGINT) AS rank,
             CAST(cum AS BIGINT) AS cum_micro,
             CAST(CAST(cum AS HUGEINT) * 1000000 // t AS BIGINT) AS cum_share_micro,
             CAST(cum - revenue_micro AS HUGEINT) * 1000000 // t < 800000 AS is_top80
      FROM r CROSS JOIN tot""",
    "q_skew_profile" -> """
      WITH c AS (
        SELECT CAST(l_partkey AS BIGINT) AS key, count(*) AS cnt
        FROM lineitem GROUP BY 1),
      t AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_keys FROM c)
      SELECT key, cnt,
             CAST(cnt * 1000000 // total AS BIGINT) AS share_micro,
             CAST(cnt * n_keys * 1000000 // total AS BIGINT) AS skew_micro
      FROM c CROSS JOIN t
      ORDER BY cnt DESC, key LIMIT 20""",
    // list() over the RANGE frame + list_distinct mirrors Spark's
    // collect_list + array_distinct; counts are frame-content facts,
    // so collection order never shows in the output.
    "q_rolling_distinct" -> """
      SELECT user_id AS entity, epoch_us(ts) AS ts_us, event_id AS tiebreak,
             CAST(len(list_distinct(list(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW))) AS BIGINT)
               AS n_distinct
      FROM events""",
    "q_session_window" -> """
      WITH f AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
               -- strictly greater: SessionWindow merges at the exact
               -- boundary (next.start <= current.end, end inclusive)
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (
        SELECT user_id, value, ts_us,
               CAST(sum(new_sess) OVER (
                 PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        FROM f)
      SELECT user_id, min(ts_us) AS session_start_us,
             max(ts_us) + 1800000000 AS session_end_us,
             count(*) AS n_events,
             CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM g GROUP BY user_id, sid""",
    "q_zorder_layout" -> zorderOracleSql,
    "emb_space_diff" -> """
      WITH v1 AS (SELECT vec_id, label FROM embeddings WHERE vec_id < 300),
      v2 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 10 = 0 THEN label + 1 ELSE label END AS label
        FROM embeddings WHERE vec_id >= 100)
      SELECT coalesce(v1.vec_id, v2.vec_id) AS vec_id,
             CASE WHEN v1.vec_id IS NULL THEN 'added'
                  WHEN v2.vec_id IS NULL THEN 'removed'
                  WHEN v1.label = v2.label THEN 'same'
                  ELSE 'changed' END AS status
      FROM v1 FULL JOIN v2 ON v1.vec_id = v2.vec_id""",
    "q_audience_overlap" -> """
      WITH h AS (
        SELECT DISTINCT event_type AS seg,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events),
      d AS (SELECT seg, count(*) AS exact_d FROM h GROUP BY seg),
      r AS (SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS rn FROM h),
      sk AS (SELECT seg, list(h ORDER BY h) AS sk FROM r WHERE rn <= 128 GROUP BY seg),
      s AS (SELECT sk.seg, sk.sk, d.exact_d FROM sk JOIN d USING (seg)),
      p AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b, a.sk AS ska, b.sk AS skb,
               a.exact_d AS exact_a, b.exact_d AS exact_b
        FROM s a JOIN s b ON a.seg < b.seg),
      m AS (
        SELECT *, list_sort(list_distinct(list_concat(ska, skb)))[1:128] AS merged
        FROM p),
      e AS (
        SELECT *,
          CASE WHEN len(merged) < 128 THEN CAST(len(merged) AS DOUBLE)
               ELSE (CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
                    / CAST(merged[128] AS DOUBLE) END AS est_union_d,
          CAST(len(list_intersect(list_intersect(merged, ska), skb)) AS DOUBLE)
            / CAST(len(merged) AS DOUBLE) AS jacc
        FROM m)
      SELECT seg_a, seg_b, exact_a, exact_b,
        CAST(floor(CASE WHEN len(ska) < 128 THEN CAST(len(ska) AS DOUBLE)
             ELSE (CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
                  / CAST(ska[128] AS DOUBLE) END) AS BIGINT) AS est_a,
        CAST(floor(CASE WHEN len(skb) < 128 THEN CAST(len(skb) AS DOUBLE)
             ELSE (CAST(127 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
                  / CAST(skb[128] AS DOUBLE) END) AS BIGINT) AS est_b,
        CAST(floor(est_union_d) AS BIGINT) AS est_union,
        CAST(floor(jacc * est_union_d) AS BIGINT) AS est_intersection
      FROM e""",
    "q_copurchase_lift" -> """
      WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b),
      supp AS (SELECT pk, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY pk),
      co AS (
        SELECT x.pk AS part_a, y.pk AS part_b, CAST(count(*) AS BIGINT) AS n_co
        FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT part_a, part_b, n_co, sa.s AS n_a, sb.s AS n_b,
             CAST(n_co AS DOUBLE) * n.n_orders / CAST(sa.s * sb.s AS DOUBLE) AS lift
      FROM co
      JOIN supp sa ON sa.pk = part_a
      JOIN supp sb ON sb.pk = part_b
      CROSS JOIN n""",
    "q_events_pivot" -> """
      SELECT user_id AS entity,
             count(*) FILTER (WHERE event_type = 'click') AS click,
             count(*) FILTER (WHERE event_type = 'view') AS "view",
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS signup,
             count(*) FILTER (WHERE event_type = 'error') AS "error"
      FROM events GROUP BY user_id""",
    "q_rollup" -> """
      SELECT r_name, n_name, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)""",
    "q_cube" -> """
      SELECT r_name, c_mktsegment,
             CAST(grouping_id(r_name, c_mktsegment) AS BIGINT) AS gid,
             count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY CUBE (r_name, c_mktsegment)""",
    "q_grouping_sets" -> """
      SELECT r_name, c_mktsegment,
             CAST(grouping_id(r_name, c_mktsegment) AS BIGINT) AS gid,
             count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))""",
    "q_unpivot" -> """
      WITH t(event_type) AS (
        VALUES ('click'), ('view'), ('purchase'), ('signup'), ('error')),
      u AS (SELECT DISTINCT user_id FROM events),
      c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
      SELECT u.user_id AS entity, t.event_type,
             CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
      FROM u CROSS JOIN t
      LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type""",
    "q_percentiles" -> """
      SELECT o_orderpriority,
             round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
             round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
             count(*) AS n
      FROM orders GROUP BY o_orderpriority""",
    "q_hist_quantiles" -> """
      WITH hist AS (
        SELECT o_orderpriority,
               CAST(least(greatest(floor((CAST(o_totalprice AS DOUBLE) - 0.0::DOUBLE)
                      / 128.0::DOUBLE), 0.0::DOUBLE), 8191.0::DOUBLE) AS BIGINT) AS bin,
               count(*) AS cnt
        FROM orders GROUP BY 1, 2),
      cum AS (
        SELECT o_orderpriority, bin, cnt,
               sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) - cnt AS cum_before,
               sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
        FROM hist),
      qs AS (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.75::DOUBLE, 0.95::DOUBLE]) AS q)
      SELECT o_orderpriority, q, bin, cnt,
             CAST(cum_before AS BIGINT) AS cum_before, CAST(n AS BIGINT) AS n,
             0.0::DOUBLE + 128.0::DOUBLE * (CAST(bin AS DOUBLE) +
               (q * CAST(n AS DOUBLE) - CAST(cum_before AS DOUBLE)) / CAST(cnt AS DOUBLE))
               AS est_value
      FROM cum CROSS JOIN qs
      WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
        AND CAST(cum_before AS DOUBLE) < q * CAST(n AS DOUBLE)""",
    "q_json_extract" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type""",
    "q7_volume_shipping" -> s"""
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_3', 'NATION_19')
        AND n2.n_name IN ('NATION_3', 'NATION_19')
        AND n1.n_name <> n2.n_name
      GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""",
    "q8_market_share" -> s"""
      SELECT year(o_orderdate) AS o_year,
             CAST(CAST(sum(CASE WHEN n2.n_name = 'NATION_3' THEN $disc
                                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE) /
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS mkt_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      GROUP BY year(o_orderdate)""",
    "q9_product_profit" -> s"""
      SELECT n_name AS nation, year(l_shipdate) AS o_year,
             CAST(CAST(sum($disc - CAST(p_retailprice AS DECIMAL(18,4)) *
                                   CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
               AS sum_profit
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
      GROUP BY n_name, year(l_shipdate)""",
    "q13_order_distribution" -> """
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey)
      GROUP BY c_count""",
    "q14_promo_share" -> s"""
      SELECT 100.0 *
             CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN $disc
                                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE) /
             CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS promo_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate < TIMESTAMP '1996-03-01' + INTERVAL 1 MONTH""",
    "q15_top_supplier" -> s"""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01' + INTERVAL 3 MONTH
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
    "q16_supplier_breadth" -> """
      SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#13' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      GROUP BY p_brand, p_type, p_size""",
    "q17_small_qty_revenue" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#13'
        AND l_quantity < (
          SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) * 0.5
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""",
    "q18_large_orders" -> """
      SELECT c_name, c_custkey, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
             o_totalprice, sum_qty
      FROM (
        SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 300) big
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey""",
    "q19_disjunctive" -> s"""
      SELECT CAST(CAST(sum($disc) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
         OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)""",
    "q20_promotion_suppliers" -> """
      SELECT s_suppkey, s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01' + INTERVAL 1 YEAR
        GROUP BY l_suppkey
        HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 30)""",
    "q21_waiting_supplier" -> """
      WITH sm AS (
        SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey, l_suppkey),
      om AS (
        SELECT l_orderkey, max(supp_last) AS order_last, count(*) AS n_supp
        FROM sm GROUP BY l_orderkey)
      SELECT s_name, count(*) AS numwait
      FROM sm
      JOIN om USING (l_orderkey)
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE n_supp >= 2 AND supp_last = order_last
      GROUP BY s_name""",
    "q22_dormant_customers" -> """
      SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, count(*) AS numcust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_acctbal > (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
          FROM customer WHERE c_acctbal > 0)
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01')
      GROUP BY c_nationkey""",
    "q2_min_cost_supplier" -> """
      WITH parts AS (
        SELECT p_partkey, p_name FROM part WHERE p_size <= 3),
      rs AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
      cost AS (
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
               min(l_extendedprice / l_quantity) AS supply_cost
        FROM lineitem
        JOIN parts ON l_partkey = p_partkey
        JOIN rs ON l_suppkey = s_suppkey
        GROUP BY 1, 2, 3, 4, 5, 6),
      mc AS (
        SELECT p_partkey AS mk, min(supply_cost) AS min_cost FROM cost GROUP BY 1)
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
      FROM cost JOIN mc ON p_partkey = mk AND supply_cost = min_cost""",
    "q11_important_parts" -> """
      WITH supp AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_12'),
      pp AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) AS pv
        FROM lineitem JOIN supp ON l_suppkey = s_suppkey
        GROUP BY l_partkey)
      SELECT l_partkey, CAST(pv AS DOUBLE) AS part_value
      FROM pp
      WHERE CAST(pv AS DOUBLE) > (SELECT CAST(sum(pv) AS DOUBLE) FROM pp) * 0.0002""",
    "q_funnel" -> """
      WITH s0 AS (
        SELECT user_id AS u, min(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      s1 AS (
        SELECT e.user_id AS u, min(e.ts) AS t
        FROM events e JOIN s0 ON e.user_id = s0.u
        WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id),
      s2 AS (
        SELECT e.user_id AS u, min(e.ts) AS t
        FROM events e JOIN s1 ON e.user_id = s1.u
        WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id)
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s0
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'click', count(*) FROM s1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'purchase', count(*) FROM s2""",
    "q_anti_semi_join" -> """
      SELECT c_mktsegment,
             count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_no_orders,
             count(*) FILTER (WHERE EXISTS (
               SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders
      FROM customer GROUP BY c_mktsegment""",
    "q_set_ops" -> """
      SELECT nationkey, 'both' AS which FROM (
        SELECT s_nationkey AS nationkey FROM supplier
        INTERSECT
        SELECT c_nationkey FROM customer)
      UNION ALL
      SELECT nationkey, 'cust_only' AS which FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier)""",
    "q_rfm_segments" -> {
      // shared ntile-by-formula: big-groups-first split on an exact
      // integer rank (mirrors Analytics.rfmSegments.ntileOf literally)
      def sc(dim: String) = s"""
        SELECT entity,
               CASE WHEN rn <= (n % 4) * (n // 4 + 1)
                    THEN (rn - 1) // (n // 4 + 1)
                    ELSE (n % 4) + (rn - (n % 4) * (n // 4 + 1) - 1) // (n // 4)
               END + 1 AS score
        FROM (SELECT entity, row_number() OVER (ORDER BY $dim, entity) AS rn FROM per)
        CROSS JOIN nn"""
      s"""
      WITH per AS (
        SELECT user_id AS entity, max(epoch_us(ts)) AS last_ts_us,
               count(*) AS frequency,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      nn AS (SELECT count(*) AS n FROM per),
      rs AS (${sc("last_ts_us")}),
      fs AS (${sc("frequency")}),
      ms AS (${sc("monetary")})
      SELECT per.entity, frequency, monetary,
             CAST(rs.score AS BIGINT) AS r_score,
             CAST(fs.score AS BIGINT) AS f_score,
             CAST(ms.score AS BIGINT) AS m_score
      FROM per
      JOIN rs ON rs.entity = per.entity
      JOIN fs ON fs.entity = per.entity
      JOIN ms ON ms.entity = per.entity"""
    },
    "q_skyline" -> """
      WITH t AS (
        SELECT p_partkey AS id, CAST(p_retailprice AS DOUBLE) AS x,
               CAST(p_size AS DOUBLE) AS y
        FROM part)
      SELECT id, x, y FROM t p
      WHERE NOT EXISTS (
        SELECT 1 FROM t q
        WHERE q.x <= p.x AND q.y >= p.y AND (q.x < p.x OR q.y > p.y))""",
    "q_week_over_week" -> """
      WITH weekly AS (
        SELECT event_type, epoch_us(date_trunc('week', ts)) AS week_us, count(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT event_type, week_us, n,
             lag(n, 1) OVER (PARTITION BY event_type ORDER BY week_us) AS prev_n,
             ((n - lag(n, 1) OVER (PARTITION BY event_type ORDER BY week_us)) * 1000000)
               // lag(n, 1) OVER (PARTITION BY event_type ORDER BY week_us)
               AS delta_pct_micro
      FROM weekly""",
    "q_funnel_window" -> """
      WITH base AS (
        SELECT user_id AS entity, event_type AS etype, epoch_us(ts) AS ts_us FROM events),
      s1 AS (SELECT entity, min(ts_us) AS t1 FROM base WHERE etype = 'click' GROUP BY entity),
      s2 AS (
        SELECT s1.entity, t1, min(CASE WHEN b.ts_us > t1 THEN b.ts_us END) AS t2
        FROM s1 LEFT JOIN base b ON b.entity = s1.entity AND b.etype = 'view'
        GROUP BY s1.entity, t1),
      s3 AS (
        SELECT s2.entity, t1, t2, min(CASE WHEN b.ts_us > t2 THEN b.ts_us END) AS t3
        FROM s2 LEFT JOIN base b ON b.entity = s2.entity AND b.etype = 'purchase'
        GROUP BY s2.entity, t1, t2),
      d AS (
        SELECT entity,
               CASE WHEN t3 IS NOT NULL AND t3 - t1 <= 86400000000 THEN 3
                    WHEN t2 IS NOT NULL AND t2 - t1 <= 86400000000 THEN 2
                    ELSE 1 END AS depth
        FROM s3)
      SELECT CAST(1 AS BIGINT) AS stage_idx, count(*) AS n_users FROM d WHERE depth >= 1
      UNION ALL
      SELECT CAST(2 AS BIGINT), count(*) FROM d WHERE depth >= 2
      UNION ALL
      SELECT CAST(3 AS BIGINT), count(*) FROM d WHERE depth >= 3""",
    "q_funnel_latency" -> """
      WITH base AS (
        SELECT user_id AS entity, event_type AS etype, epoch_us(ts) AS ts_us FROM events),
      s1 AS (SELECT entity, min(ts_us) AS t1 FROM base WHERE etype = 'click' GROUP BY entity),
      s2 AS (
        SELECT s1.entity, t1, min(CASE WHEN b.ts_us > t1 THEN b.ts_us END) AS t2
        FROM s1 LEFT JOIN base b ON b.entity = s1.entity AND b.etype = 'view'
        GROUP BY s1.entity, t1),
      s3 AS (
        SELECT s2.entity, t1, t2, min(CASE WHEN b.ts_us > t2 THEN b.ts_us END) AS t3
        FROM s2 LEFT JOIN base b ON b.entity = s2.entity AND b.etype = 'purchase'
        GROUP BY s2.entity, t1, t2)
      SELECT CAST(1 AS BIGINT) AS stage_from, CAST(2 AS BIGINT) AS stage_to,
             count(*) AS n,
             CAST(sum(t2 - t1) // count(*) AS BIGINT) AS mean_us,
             min(t2 - t1) AS min_us, max(t2 - t1) AS max_us
      FROM s3 WHERE t2 IS NOT NULL AND t2 - t1 <= 86400000000
      HAVING count(*) > 0
      UNION ALL
      SELECT 2, 3, count(*),
             CAST(sum(t3 - t2) // count(*) AS BIGINT),
             min(t3 - t2), max(t3 - t2)
      FROM s3 WHERE t3 IS NOT NULL AND t3 - t1 <= 86400000000
      HAVING count(*) > 0""",
    "q_ab_test_zscore" -> """
      WITH conv AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' AND value > 90 THEN 1 ELSE 0 END)
                 AS conv
        FROM events GROUP BY user_id),
      per AS (
        SELECT ('0x' || substr(md5('11:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
                 AS variant,
               conv
        FROM conv),
      agg AS (SELECT variant, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c
              FROM per GROUP BY variant),
      a AS (SELECT n AS n_a, c AS conv_a FROM agg WHERE variant = 0),
      b AS (SELECT n AS n_b, c AS conv_b FROM agg WHERE variant = 1)
      SELECT n_a, conv_a, n_b, conv_b,
        CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                       * (1.0 / n_a + 1.0 / n_b)) > 0 THEN
          CAST(floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
            / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 / n_a + 1.0 / n_b))
            * 1000000.0) AS BIGINT)
        END AS z_micro
      FROM a CROSS JOIN b""",
    "q_skew_salted_join" -> """
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment""",
    "source_bucketed_join" -> """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment""",
    "source_csv_roundtrip" -> """
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n_nations,
             min(n_name) AS first_name
      FROM nation GROUP BY n_regionkey""",
    "source_jsonl_roundtrip" -> """
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      FROM customer GROUP BY c_mktsegment""",
    "source_jdbc_roundtrip" -> """
      SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_suppliers,
             CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance,
             min(s_name) AS first_name
      FROM supplier GROUP BY s_nationkey""",
    "source_partitioned_prune" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS spend
      FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-10'
      GROUP BY event_type""",
    "sink_wds_shards" -> """
      WITH sized AS (
        SELECT doc_id, strlen(text) AS tb, strlen(lang) AS cb,
               1024 + ((strlen(text) + 511) // 512) * 512
                    + ((strlen(lang) + 511) // 512) * 512 AS tar_bytes
        FROM documents),
      cum AS (
        SELECT doc_id, tb, cb, tar_bytes,
               sum(tar_bytes) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
        FROM sized)
      SELECT CAST((rs - tar_bytes) // 262144 AS BIGINT) AS shard_id,
             count(*) AS n_samples,
             CAST(sum(tb + cb) AS BIGINT) AS payload_bytes,
             CAST(sum(tar_bytes) + 1024 AS BIGINT) AS file_bytes,
             CAST(min(doc_id) AS BIGINT) AS min_doc_id,
             CAST(max(doc_id) AS BIGINT) AS max_doc_id,
             CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids,
             TRUE AS payload_ok
      FROM cum GROUP BY 1""",
    "source_lakehouse_roundtrip" -> """
      WITH latest AS (
        SELECT n_nationkey, n_regionkey FROM nation
        UNION ALL
        SELECT n_nationkey + 100, n_regionkey FROM nation WHERE n_regionkey = 0)
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
             CAST(sum(n_nationkey) AS BIGINT) AS sum_key, 'v1' AS snap
      FROM nation GROUP BY n_regionkey
      UNION ALL
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
             CAST(sum(n_nationkey) AS BIGINT) AS sum_key, 'latest' AS snap
      FROM latest GROUP BY n_regionkey""",
    "lake_write_audit_publish" -> """
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
             CAST(sum(n_nationkey) AS BIGINT) AS sum_key
      FROM nation GROUP BY n_regionkey""",
    "lake_merge_into" -> """
      WITH base AS (
        SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
        FROM orders),
      merged AS (
        SELECT k, price, status FROM base WHERE k % 100 NOT IN (0, 1)
        UNION ALL
        SELECT k, price * 2 AS price, 'U' AS status FROM base WHERE k % 100 = 0
        UNION ALL
        SELECT k + 1000000000 AS k, price, 'N' AS status FROM base WHERE k % 100 = 2)
      SELECT status, count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total,
             CAST(sum(k) AS BIGINT) AS sum_keys
      FROM merged GROUP BY status""",
    "lake_reproducible_training" -> """
      WITH base AS (
        SELECT user_id AS entity, value, epoch_us(ts) AS ts_us, event_id FROM events),
      pinned AS (
        SELECT entity, value FROM (
          SELECT entity, value, row_number() OVER (
            PARTITION BY entity ORDER BY ts_us DESC, event_id DESC) AS rn
          FROM base WHERE event_id % 4 <> 3) WHERE rn = 1),
      latest AS (
        SELECT entity, value FROM (
          SELECT entity, value, row_number() OVER (
            PARTITION BY entity ORDER BY ts_us DESC, event_id DESC) AS rn
          FROM base) WHERE rn = 1)
      SELECT count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
             'v1' AS snap FROM pinned
      UNION ALL
      SELECT count(*), CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 'latest'
      FROM latest
      UNION ALL
      SELECT count(*), CAST(NULL AS DOUBLE), 'changed'
      FROM pinned p JOIN latest l USING (entity) WHERE p.value <> l.value""",
    "lake_delete_where" -> """
      WITH kept AS (
        SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
        FROM orders
        WHERE NOT (o_orderkey % 10 = 3 AND o_orderkey <= 30000))
      SELECT status, count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS total,
             CAST(sum(k) AS BIGINT) AS sum_keys
      FROM kept GROUP BY status""",
    "lake_table_changes" -> """
      SELECT CAST(n_nationkey + 100 AS BIGINT) AS k, CAST(n_regionkey AS BIGINT) AS r,
             'insert' AS change_type, 'append' AS phase
      FROM nation WHERE n_regionkey = 0
      UNION ALL
      SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(n_regionkey AS BIGINT) AS r,
             'delete' AS change_type, 'delete' AS phase
      FROM nation WHERE n_regionkey = 1""",
    "lake_schema_evolution" -> """
      WITH evolved AS (
        SELECT s_suppkey AS k, s_nationkey AS nation, CAST(NULL AS DOUBLE) AS balance
        FROM supplier
        UNION ALL
        SELECT s_suppkey + 100000, s_nationkey, CAST(s_acctbal AS DOUBLE) FROM supplier)
      SELECT CAST(s_nationkey AS BIGINT) AS nation, count(*) AS n,
             CAST(sum(s_suppkey) AS BIGINT) AS sum_k,
             CAST(0 AS BIGINT) AS n_balance, CAST(NULL AS DOUBLE) AS sum_balance,
             'v1' AS snap
      FROM supplier GROUP BY s_nationkey
      UNION ALL
      SELECT CAST(nation AS BIGINT) AS nation, count(*) AS n,
             CAST(sum(k) AS BIGINT) AS sum_k,
             count(balance) AS n_balance,
             CAST(sum(CAST(balance AS DECIMAL(18,4))) AS DOUBLE) AS sum_balance,
             'evolved' AS snap
      FROM evolved GROUP BY nation""",
    "lake_partition_evolution" -> """
      SELECT CAST(o_custkey % 10 AS BIGINT) AS bucket, count(*) AS n,
             CAST(sum(o_orderkey) AS BIGINT) AS sum_k
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 500
        AND o_totalprice BETWEEN 0 AND 150000
      GROUP BY 1""",
    "lake_clone" -> """
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
             CAST(n_regionkey AS BIGINT) AS region, 'src' AS side
      FROM nation
      UNION ALL
      SELECT CAST(n_nationkey AS BIGINT), n_name, CAST(n_regionkey AS BIGINT), 'clone'
      FROM nation
      UNION ALL
      SELECT CAST(n_nationkey AS BIGINT) + 100, n_name, CAST(n_regionkey AS BIGINT), 'clone'
      FROM nation"""
  )

  // ---------------------------------------------------------------- //
  // Multimodal + streaming analogs                                   //
  // ---------------------------------------------------------------- //

  private def miscQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full mixed-modality decode through the REAL JDK codec
    // (javax.imageio PNG/BMP/animated-GIF + javax.sound WAV) over
    // genuine container bytes: channel means for images, frame counts
    // for video, sample stats for audio — the oracle recomputes every
    // stat from the generator's integer formulas, so this gates a true
    // encode→container→decode round trip. frame_means feeds
    // mm_scene_cut and is dropped here (scalar meta row).
    "mm_binary_meta" -> ((s, dir) =>
      Multimodal.decodeStats(MediaGen.mediaFor(t(s, dir, "documents"))).toDF()
        .drop("frame_means")),
    // Per-channel mean AND std from real decoded pixels — the
    // normalization-constants step of vision preprocessing; variance
    // computed from exact integer sums ((n·Σc² − (Σc)²)/n²) so the
    // 6dp-rounded std is engine-exact.
    "mm_image_stats" -> ((s, dir) =>
      Multimodal.imageChannelStats(MediaGen.imagesFor(t(s, dir, "documents"))).toDF()),
    // The LOSSY codec arm driven end-to-end at corpus scale: every doc
    // encoded as a REAL JPEG (fixed explicit quality), decoded back
    // through the SPI, reduced to per-payload-class verdicts. The
    // oracle derives the lossless parts (dims, class counts) from the
    // generator formulas; the lossy parts ride as gated booleans —
    // decode determinism per class (n_stat_variants = 1) and bounded
    // channel-mass deviation (relTol 0.25, ~2x the exhaustively
    // measured max of 0.1181; MediaCodecSpec pins the measurement).
    "mm_jpeg_stats" -> ((s, dir) =>
      Multimodal.jpegCorpusGate(t(s, dir, "documents"), relTol = 0.25)),
    // LAION-style CLIP-gate pair curation: image vec at doc_id, caption
    // vec at doc_id+1; similarity + caption-length + language gates,
    // per-gate verdicts for curation QA.
    "mm_pair_curation" -> ((s, dir) =>
      Multimodal.clipPairCuration(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        textVecOffset = 1L, cosThreshold = 0.0,
        minChars = 80L, maxChars = 500L, langs = Seq("en", "de"))),
    // Exact-bytes media dedup before any decode: corpus doubled with
    // shifted ids so every payload has a cross-source duplicate.
    "mm_binary_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Multimodal.binaryDedup(
        Multimodal.mediaFromDocs(docs).unionByName(
          Multimodal.mediaFromDocs(
            docs.withColumn("doc_id", col("doc_id") + 100000L))))
    }),
    // WebDataset-style shard packing plan: 4 KiB byte-budget shards
    // per source in (source, doc_id) order — all-integer cumsum.
    "mm_shard_pack" -> ((s, dir) =>
      Multimodal.shardPack(
        t(s, dir, "documents"), "doc_id", "source", "n_chars", shardBytes = 4096L)),
    // Video frame extraction end-to-end: mixed-modality ingest ->
    // REAL batched decode (frame counts from the GIF container; images
    // one frame, audio none) -> stride-7 frame sampling (lazily
    // flat-mapped).
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(MediaGen.mediaFor(t(s, dir, "documents"))),
        stride = 7)),
    // Shot-boundary detection over REAL decoded video frames: the
    // per-frame signal is the decoded mean intensity (animated-GIF
    // pixels via javax.imageio), cut where |delta| >= 64. Pure scan:
    // a clip's frame means arrive as one array on its row. Runs on
    // the corpus's video slice (doc_id % 4 = 2 — the same modality
    // split as mediaFor).
    "mm_scene_cut" -> ((s, dir) =>
      Multimodal.sceneCuts(
        Multimodal.decodeStats(MediaGen.videosFor(
          t(s, dir, "documents").where(col("doc_id") % 4 === 2))),
        threshold = 64.0)),
    // Aspect-preserving resize planning over REAL decoded dimensions
    // (PNG/BMP headers + pixels via javax.imageio): fit-into-24 target
    // shapes — the deterministic half of vision preprocessing.
    "mm_resize_plan" -> ((s, dir) =>
      Multimodal.resizePlan(
        Multimodal.decodeMeta(MediaGen.imagesFor(t(s, dir, "documents"))),
        maxDim = 24)),
    // Audio framing plan over REAL decoded WAV headers (sample count +
    // rate via javax.sound.sampled): 25ms windows at 10ms hop over the
    // 8kHz clips — the windowing-schedule half of audio preprocessing.
    "mm_audio_windows" -> ((s, dir) =>
      Multimodal.audioFramePlan(
        Multimodal.decodeStats(MediaGen.audioFor(t(s, dir, "documents"))).toDF(),
        winSamples = 200, hopSamples = 80)),
    "stream_latest_value" -> ((s, dir) =>
      StreamingFeatures
        .latestValueBatch(t(s, dir, "events"))
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us"))),
    "stream_windowed_agg" -> ((s, dir) =>
      StreamingFeatures.windowedCountsBatch(t(s, dir, "events"))),
    // Streaming top-k serving, batch analog (topKServeStream over
    // MemoryStream == this; parity spec-checked in StreamingSpec).
    "stream_topk_serve" -> ((s, dir) =>
      StreamingFeatures.topKServeBatch(
        t(s, dir, "events").select(
          col("user_id").as("query_id"),
          col("event_id").as("doc_id"),
          col("value").cast("double").as("score")),
        k = 5)),
    // Streaming corpus dedup, batch analog (stream parity spec-checked
    // in StreamingSpec: dedupStream over MemoryStream == this).
    "stream_dedup" -> ((s, dir) =>
      StreamingFeatures.dedupBatch(t(s, dir, "documents"), "doc_id", "text")),
    // Streaming NEAR-dup gate, batch analog (stream parity spec-checked
    // in StreamingSpec): is_dup per doc iff any MinHash-LSH band bucket
    // was first claimed by an earlier arrival. No pair join — the
    // keep/drop verdict needs only first-arrival per bucket.
    "stream_dedup_near" -> ((s, dir) =>
      StreamingFeatures.nearDedupBatch(t(s, dir, "documents"), "doc_id", "text")),
    // Stream-stream interval-join attribution, batch analog: click ->
    // purchase pairs within a 60-minute window per user.
    "stream_attribution" -> ((s, dir) =>
      StreamingFeatures.attributionBatch(
        t(s, dir, "events"), touchType = "click", convType = "purchase", windowMinutes = 60)),
    // Watermark sizing replay: arrival simulated as the md5 permutation
    // of the ingest id (the corpus is stored in event-time order, so
    // raw id order would show zero disorder); 7-day allowed delay.
    "stream_late_events" -> ((s, dir) =>
      // Keep the arrival key as the md5 HEX STRING, not unhex bytes:
      // the 16-byte binary orders identically at half the size, but
      // Spark's sort generates radix/prefix comparisons for
      // UTF8String and not for BinaryType — measured 20-25% SLOWER
      // with the binary key at every SF (sf100 44.2 s → 54.4 s).
      StreamingFeatures.lateEventsBatch(
        t(s, dir, "events").withColumn("arrival", md5(col("event_id").cast("string"))),
        "event_id", "ts", "arrival", delayMinutes = 7L * 24 * 60)),
    // Linear multi-touch attribution over a 7-day trailing window —
    // per-channel credit with an explicit conservation remainder.
    "q_attribution_multi" -> ((s, dir) =>
      Analytics.multiTouchCredits(
        t(s, dir, "events"), "user_id", "event_type", "ts", "value",
        convType = "purchase", touchTypes = Seq("click", "view"),
        windowMinutes = 7L * 24 * 60)),
    // Streaming MultiSet (client-streaming write RPC), batch analog:
    // three successive set-request batches folded into the space via
    // the same last-writer-wins upsert the sink applies per
    // micro-batch (the foreachBatch sink itself is parity spec-checked
    // over a MemoryStream in StreamingSpec).
    "stream_upsert" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      val b1 = emb.where(col("vec_id") < 10)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
          (col("label") + 100).as("label"))
      val b2 = emb.where(col("vec_id").between(5, 14))
        .select(col("vec_id"), col("embedding"), (col("label") + 200).as("label"))
      val b3 = emb.where(col("vec_id") < 3)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          (col("label") + 300).as("label"))
      Seq(b1, b2, b3)
        .foldLeft(emb)((space, delta) => Similarity.upsert(space, delta, "vec_id"))
        .select(
          col("vec_id"), col("label"),
          size(col("embedding")).cast("long").as("dims"),
          element_at(col("embedding"), 1).as("e_first"),
          element_at(col("embedding"), -1).as("e_last"))
    }),
    // Stream-static enrichment (batch analog; stream semantics in
    // StreamingSpec): events left-join the broadcast customer dim,
    // profiled per segment — dim misses surface under the NULL group.
    "stream_enrich" -> ((s, dir) =>
      StreamingFeatures.enrichBatch(
        t(s, dir, "events"),
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "user_id", "c_custkey", "c_mktsegment"))
  )

  private def miscOracles: Map[String, String] = Map(
    // Integer cumsum window per source; same concatenate-then-cut
    // shard/offset math (codec-free: only payload sizes matter).
    "mm_shard_pack" -> """
      SELECT doc_id, source,
             CAST((cum - n_chars) // 4096 AS BIGINT) AS shard_id,
             CAST((cum - n_chars) % 4096 AS BIGINT) AS offset_bytes,
             n_chars AS n_bytes
      FROM (
        SELECT doc_id, source, n_chars,
               sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents)""",
    // REAL-CODEC oracle: Spark decodes genuine PNG/BMP/GIF/WAV bytes;
    // the oracle recomputes every stat from the MediaGen integer
    // formulas (m = id%256; image pixel r=(m+3x+7y)%256 g=(2m+5x+y)%256
    // b=(m+x*y)%256 over w=8+id%24, h=8+(id/5)%24; GIF frame f solid
    // gray (m+7f²+13f)%256 on 16×12; WAV sample i = (m·131+i·17)%4001
    // − 2000 at 8 kHz) — brute-forced by unnesting pixel/sample ranges.
    "mm_binary_meta" -> """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 256 AS m, doc_id % 4 AS k,
               8 + doc_id % 24 AS w, 8 + (doc_id // 5) % 24 AS h
        FROM documents),
      ix AS (SELECT id, m, h, unnest(range(0, w)) AS x FROM d WHERE k <= 1),
      ixy AS (SELECT id, m, x, unnest(range(0, h)) AS y FROM ix),
      img AS (
        SELECT id, count(*) AS npx,
               CAST(sum((m + 3*x + 7*y) % 256) AS BIGINT) AS sr,
               CAST(sum((2*m + 5*x + y) % 256) AS BIGINT) AS sg,
               CAST(sum((m + x*y) % 256) AS BIGINT) AS sb
        FROM ixy GROUP BY id),
      gfr AS (SELECT id, m, unnest(range(0, 2 + id % 59)) AS f FROM d WHERE k = 2),
      gif AS (
        SELECT id, count(*) AS nf,
               CAST(sum(((m + 7*f*f + 13*f) % 256) * 192) AS BIGINT) AS ps
        FROM gfr GROUP BY id),
      wi AS (SELECT id, m, unnest(range(0, 400 + id % 400)) AS i FROM d WHERE k = 3),
      wav AS (
        SELECT id, count(*) AS ns,
               CAST(sum(((m*131 + i*17) % 4001 - 2000)
                        * ((m*131 + i*17) % 4001 - 2000)) AS BIGINT) AS ssq
        FROM wi GROUP BY id)
      SELECT d.id AS media_id,
             CASE d.k WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/bmp'
                      WHEN 2 THEN 'video/gif' ELSE 'audio/wav' END AS mime,
             CAST(CASE WHEN d.k <= 1 THEN d.w WHEN d.k = 2 THEN 16 ELSE 0 END AS BIGINT) AS width,
             CAST(CASE WHEN d.k <= 1 THEN d.h WHEN d.k = 2 THEN 12 ELSE 0 END AS BIGINT) AS height,
             CAST(CASE WHEN d.k <= 1 THEN 1 WHEN d.k = 2 THEN gif.nf ELSE 0 END AS BIGINT) AS n_frames,
             CAST(CASE WHEN d.k <= 1 THEN img.sr + img.sg + img.sb
                       WHEN d.k = 2 THEN gif.ps ELSE wav.ssq END AS BIGINT) AS px_sum,
             CAST(CASE WHEN d.k <= 1 THEN round(img.sr / img.npx, 6) ELSE 0 END AS DOUBLE) AS mean_r,
             CAST(CASE WHEN d.k <= 1 THEN round(img.sg / img.npx, 6) ELSE 0 END AS DOUBLE) AS mean_g,
             CAST(CASE WHEN d.k <= 1 THEN round(img.sb / img.npx, 6) ELSE 0 END AS DOUBLE) AS mean_b,
             CAST(CASE WHEN d.k = 3 THEN 8000 ELSE 0 END AS BIGINT) AS sample_rate,
             CAST(CASE WHEN d.k = 3 THEN wav.ns ELSE 0 END AS BIGINT) AS n_samples,
             CAST(CASE WHEN d.k = 3 THEN wav.ns // 8 ELSE 0 END AS BIGINT) AS duration_ms,
             CAST(CASE WHEN d.k = 3 THEN round(sqrt(wav.ssq / wav.ns), 6) ELSE 0 END AS DOUBLE) AS rms
      FROM d LEFT JOIN img ON img.id = d.id
             LEFT JOIN gif ON gif.id = d.id
             LEFT JOIN wav ON wav.id = d.id""",
    // Per-channel mean/std vs the same brute-forced pixel formulas;
    // variance from exact integer sums, one IEEE division, 6dp round.
    "mm_image_stats" -> """
      WITH d AS (
        SELECT doc_id AS id, doc_id % 256 AS m, doc_id % 2 AS k,
               8 + doc_id % 24 AS w, 8 + (doc_id // 5) % 24 AS h
        FROM documents),
      ix AS (SELECT id, m, h, unnest(range(0, w)) AS x FROM d),
      ixy AS (SELECT id, m, x, unnest(range(0, h)) AS y FROM ix),
      agg AS (
        SELECT id, count(*) AS n,
               CAST(sum((m + 3*x + 7*y) % 256) AS BIGINT) AS sr,
               CAST(sum(((m + 3*x + 7*y) % 256) * ((m + 3*x + 7*y) % 256)) AS BIGINT) AS qr,
               CAST(sum((2*m + 5*x + y) % 256) AS BIGINT) AS sg,
               CAST(sum(((2*m + 5*x + y) % 256) * ((2*m + 5*x + y) % 256)) AS BIGINT) AS qg,
               CAST(sum((m + x*y) % 256) AS BIGINT) AS sb,
               CAST(sum(((m + x*y) % 256) * ((m + x*y) % 256)) AS BIGINT) AS qb
        FROM ixy GROUP BY id)
      SELECT d.id AS media_id,
             'image/' || CASE WHEN d.k = 0 THEN 'png' ELSE 'bmp' END AS mime,
             CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
             CAST(round(sr / n, 6) AS DOUBLE) AS mean_r,
             CAST(round(sg / n, 6) AS DOUBLE) AS mean_g,
             CAST(round(sb / n, 6) AS DOUBLE) AS mean_b,
             CAST(round(sqrt((n * qr - sr * sr) / (n * n)), 6) AS DOUBLE) AS std_r,
             CAST(round(sqrt((n * qg - sg * sg) / (n * n)), 6) AS DOUBLE) AS std_g,
             CAST(round(sqrt((n * qb - sb * sb) / (n * n)), 6) AS DOUBLE) AS std_b
      FROM d JOIN agg ON agg.id = d.id""",
    // JPEG gate: the oracle recomputes the LOSSLESS facts — class
    // membership (doc_id mod 3840; 24, 120 and 256 all divide 3840, so
    // dims and the pixel formulas are class-pure), class counts, and
    // header-exact dims — and asserts the lossy-side verdicts the
    // engine computed from the real decode (one stat tuple per class,
    // bounded deviation) as constants.
    "mm_jpeg_stats" -> """
      WITH d AS (SELECT doc_id % 3840 AS m_class FROM documents)
      SELECT m_class,
             count(*) AS n_docs,
             CAST(8 + m_class % 24 AS BIGINT) AS width,
             CAST(8 + (m_class // 5) % 24 AS BIGINT) AS height,
             CAST(1 AS BIGINT) AS n_stat_variants,
             TRUE AS dims_ok,
             TRUE AS dev_ok
      FROM d
      GROUP BY m_class""",
    "mm_pair_curation" -> """
      WITH cos AS (
        SELECT a AS doc_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim FROM (
          SELECT a, b, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb FROM (
            SELECT d.doc_id AS a, d.doc_id + 1 AS b,
                   unnest(i.embedding)::DOUBLE AS x, unnest(t.embedding)::DOUBLE AS y
            FROM documents d
            JOIN embeddings i ON i.vec_id = d.doc_id
            JOIN embeddings t ON t.vec_id = d.doc_id + 1)
          GROUP BY a, b))
      SELECT d.doc_id, cos_sim,
             CAST(coalesce(CAST(cos_sim >= 0.0 AS INT), 0) AS INT) AS keep_sim,
             CAST(d.n_chars BETWEEN 80 AND 500 AS INT) AS keep_len,
             CAST(d.lang IN ('en', 'de') AS INT) AS keep_lang,
             CAST(coalesce(CAST(cos_sim >= 0.0 AS INT), 0) = 1
                  AND d.n_chars BETWEEN 80 AND 500
                  AND d.lang IN ('en', 'de') AS INT) AS keep
      FROM documents d LEFT JOIN cos ON cos.doc_id = d.doc_id""",
    "mm_binary_dedup" -> """
      WITH media AS (
        SELECT doc_id AS media_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents)
      SELECT md5(text) AS digest, CAST(min(media_id) AS BIGINT) AS keep_id,
             count(*) AS n_copies
      FROM media GROUP BY md5(text)""",
    // n_samples/rate now come from the REAL WAV header decode; the
    // oracle recomputes them from the generator's clip-length formula.
    "mm_audio_windows" -> """
      WITH a AS (SELECT doc_id AS media_id, 400 + doc_id % 400 AS ns FROM documents)
      SELECT media_id, CAST(ns AS BIGINT) AS n_samples,
             CAST(ns // 8 AS BIGINT) AS duration_ms,
             CAST((ns - 200) // 80 + 1 AS BIGINT) AS n_frames
      FROM a""",
    // Dimensions now come from the REAL image decode; the oracle
    // recomputes them from the generator's dim formulas.
    "mm_resize_plan" -> """
      WITH m AS (
        SELECT doc_id AS media_id,
               'image/' || CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS mime,
               8 + doc_id % 24 AS width, 8 + (doc_id // 5) % 24 AS height
        FROM documents),
      l AS (SELECT *, greatest(width, height) AS longest FROM m)
      SELECT media_id, mime,
             CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
             longest > 24 AS needs_resize,
             CAST(CASE WHEN longest <= 24 THEN width
                       ELSE greatest(floor(width * 24 / longest), 1) END AS BIGINT) AS out_w,
             CAST(CASE WHEN longest <= 24 THEN height
                       ELSE greatest(floor(height * 24 / longest), 1) END AS BIGINT) AS out_h
      FROM l""",
    // Frame counts now come from the REAL GIF container decode (images
    // one frame, audio zero); formula: n = 2 + id%59 for id%4 = 2.
    "mm_frame_sample" -> """
      WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 4 <= 1 THEN 1
                    WHEN doc_id % 4 = 2 THEN 2 + doc_id % 59
                    ELSE 0 END AS n_frames
        FROM documents)
      SELECT media_id, unnest(range(0, n_frames, 7)) AS frame_idx FROM m""",
    // The per-frame signal is now the REAL decoded mean frame intensity
    // (solid GIF frames, so the mean IS the generator's gray level
    // (m + 7f² + 13f) % 256 exactly); delta of consecutive levels.
    "mm_scene_cut" -> """
      WITH m AS (
        SELECT doc_id AS media_id, doc_id % 256 AS mm, 2 + doc_id % 59 AS nf
        FROM documents WHERE doc_id % 4 = 2),
      f AS (SELECT media_id, mm, unnest(range(1, nf)) AS i FROM m),
      s AS (
        SELECT media_id, i AS frame_idx,
               ((mm + 7*i*i + 13*i) % 256)
                 - ((mm + 7*(i-1)*(i-1) + 13*(i-1)) % 256) AS delta
        FROM f)
      SELECT media_id, frame_idx, CAST(delta AS DOUBLE) AS delta
      FROM s WHERE abs(delta) >= 64""",
    "stream_latest_value" -> """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1""",
    "stream_windowed_agg" -> """
      SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY date_trunc('hour', ts), event_type""",
    "stream_topk_serve" -> """
      SELECT query_id, doc_id, rank, score FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank,
               score
        FROM (
          SELECT user_id AS query_id, event_id AS doc_id,
                 max(CAST(value AS DOUBLE)) AS score
          FROM events GROUP BY user_id, event_id))
      WHERE rank <= 5""",
    "stream_dedup" -> """
      SELECT md5(text) AS fp, min(doc_id) AS doc_id
      FROM documents GROUP BY md5(text)""",
    "stream_dedup_near" -> s"""
      WITH $minhashChainCtes,
      first_seen AS (
        SELECT band, bh, min(doc_id) AS first_id
        FROM banded GROUP BY band, bh)
      SELECT b.doc_id,
             CAST(max(CASE WHEN b.doc_id > f.first_id THEN 1 ELSE 0 END) AS INT) AS is_dup
      FROM banded b JOIN first_seen f ON b.band = f.band AND b.bh = f.bh
      GROUP BY b.doc_id""",
    "stream_attribution" -> """
      SELECT t.user_id, c.event_id AS conv_id, epoch_us(c.ts) AS conv_ts_us,
             t.event_id AS touch_id, epoch_us(t.ts) AS touch_ts_us
      FROM events t JOIN events c
        ON t.user_id = c.user_id
       AND t.ts >= c.ts - INTERVAL 60 MINUTE
       AND t.ts <= c.ts
      WHERE t.event_type = 'click' AND c.event_type = 'purchase'""",
    "stream_late_events" -> """
      WITH t AS (
        SELECT event_id, epoch_us(ts) AS ts_us, md5(CAST(event_id AS VARCHAR)) AS ak
        FROM events),
      w AS (
        SELECT event_id, ts_us,
               max(ts_us) OVER (ORDER BY ak
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
        FROM t)
      SELECT event_id, ts_us, hi - 604800000000 AS wm_us,
             CAST(coalesce(ts_us < hi - 604800000000, false) AS INT) AS is_late
      FROM w""",
    "q_attribution_multi" -> """
      WITH e AS (
        SELECT user_id AS entity, event_type AS etype, epoch_us(ts) AS ts_us, value
        FROM events),
      c AS (
        SELECT entity, etype, ts_us,
               CAST(floor(value * 1000000) AS BIGINT) AS value_micro,
               CAST(coalesce(sum(CASE WHEN etype = 'click' THEN 1 ELSE 0 END) OVER w, 0)
                    AS BIGINT) AS n_click,
               CAST(coalesce(sum(CASE WHEN etype = 'view' THEN 1 ELSE 0 END) OVER w, 0)
                    AS BIGINT) AS n_view
        FROM e WINDOW w AS (
          PARTITION BY entity ORDER BY ts_us
          RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING))
      SELECT entity, ts_us, value_micro, n_click, n_view,
             CASE WHEN n_click + n_view > 0
                  THEN CAST(floor(value_micro * n_click / (n_click + n_view)) AS BIGINT)
                  ELSE 0 END AS credit_click_micro,
             CASE WHEN n_click + n_view > 0
                  THEN CAST(floor(value_micro * n_view / (n_click + n_view)) AS BIGINT)
                  ELSE 0 END AS credit_view_micro,
             value_micro
               - (CASE WHEN n_click + n_view > 0
                       THEN CAST(floor(value_micro * n_click / (n_click + n_view)) AS BIGINT)
                       ELSE 0 END)
               - (CASE WHEN n_click + n_view > 0
                       THEN CAST(floor(value_micro * n_view / (n_click + n_view)) AS BIGINT)
                       ELSE 0 END) AS remainder_micro
      FROM c WHERE etype = 'purchase'""",
    // Last-writer-wins over the batch sequence: highest-priority writer
    // of each key survives — the unrolled equivalent of the three
    // chained upserts.
    "stream_upsert" -> """
      WITH writes AS (
        SELECT vec_id, embedding, label, 0 AS pri FROM embeddings
        UNION ALL
        SELECT vec_id, list_reverse(embedding), label + 100, 1
        FROM embeddings WHERE vec_id < 10
        UNION ALL
        SELECT vec_id, embedding, label + 200, 2
        FROM embeddings WHERE vec_id BETWEEN 5 AND 14
        UNION ALL
        SELECT vec_id + 1000000, embedding, label + 300, 3
        FROM embeddings WHERE vec_id < 3)
      SELECT vec_id, label, len(embedding) AS dims,
             embedding[1] AS e_first, embedding[-1] AS e_last FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY pri DESC) AS rn
        FROM writes)
      WHERE rn = 1""",
    "stream_enrich" -> """
      SELECT c_mktsegment,
             count(*) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events LEFT JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment"""
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    fsQueries ++ embQueries ++ dedupQueries ++ textQueries ++ analyticsQueries ++ miscQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. EVERY query carries an oracle: iterative /
    * hash-based ops are made SQL-checkable via portable md5 sketches
    * (minhash, simhash, mm codec), full-probe brute-force-equality
    * invariants (IVF paths), or a fixed unrolled schedule (k-means).
    */
  def oracleSql: Map[String, String] =
    fsOracles ++ embOracles ++ dedupOracles ++ textOracles ++ analyticsOracles ++
      miscOracles ++
      // Data-dependent oracles (per-SF literals) — present only when the
      // dump context (Verify) has declared its sf dir.
      oracleDataDir.map(dir => "emb_opq_knn" -> opqKnnOracle(dir)).toMap ++
      oracleDataDir.map(dir => "emb_pca_whiten" -> pcaWhitenOracle(dir)).toMap
}
