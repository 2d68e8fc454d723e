package graft
package surface

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators._
import graft.sources.{Lakehouse, Tables}

import Common._

/** Feature-store core: each query's Spark build beside its DuckDB oracle. */
object FeatureStoreQueries {

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

  val queries: Seq[(String, Query)] = Seq(
    "fs_materialize_latest" -> Query((s, dir) =>
      materializedLatest(s, dir)
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
      """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1"""),
    "fs_materialize_range" -> Query((s, dir) =>
      FeatureStore
        .materializeRange(
          materializedLatest(s, dir)
            .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
          20, 70),
      """
      SELECT entity, value, ts_us, row_number FROM (
        SELECT entity, value, ts_us, row_number() OVER (ORDER BY entity) AS row_number FROM (
          SELECT user_id AS entity, value, epoch_us(ts) AS ts_us,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1)
      WHERE row_number > 20 AND row_number <= 70"""),
    // Paged export (IterateSegment, provider/offline.go:592): every
    // 40-row page of the materialization, tagged with its page index —
    // iterating all pages IS the full materialization, oracle-checked.
    // Full paged export in a FIXED 32 shards (page size scales with
    // the data): page count — and the union-plan size this query
    // builds for the oracle — is constant at any SF. A fixed page
    // SIZE here measured alpha=1.2 at 10x (375 unioned subtrees).
    "fs_materialize_paged" -> Query((s, dir) => {
      val (psize, pages) = FeatureStore.pagedMaterializationFixedPages(
        materializedLatest(s, dir)
          .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
        nPages = 32)
      pages
        .map { case (start, _, page) => page.withColumn("page", lit(start / psize)) }
        .reduce(_ unionByName _)
    }, """
      WITH mat AS (
        SELECT entity, value, ts_us, row_number() OVER (ORDER BY entity) AS row_number FROM (
          SELECT user_id AS entity, value, epoch_us(ts) AS ts_us,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1),
      ps AS (SELECT greatest(1, CAST(ceil(count(*) / 32.0) AS BIGINT)) AS p FROM mat)
      SELECT entity, value, ts_us, row_number,
             CAST((row_number - 1) // p AS BIGINT) AS page
      FROM mat CROSS JOIN ps"""),
    "fs_training_set_pit" -> Query((s, dir) => pitTrainingSet(s, dir),
      """
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
      FROM f WHERE kind = 1"""),
    // Cross-store enrichment: the PIT training set joined with the
    // entity's embedding (feature store ⨝ embedding store — the
    // two-system handoff a reference user does by hand). Coverage is
    // explicit (has_embedding), vector summarized as a micro-unit L2
    // norm via the native dot kernel.
    "fs_training_set_embedded" -> Query((s, dir) => {
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
    }, """
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
      FROM tset t LEFT JOIN norms n ON n.entity = t.entity"""),
    // Paged training-set export — the served GetTrainingSet iterator
    // (provider/offline.go:551): same one-shuffle shared numbering as
    // fs_materialize_paged, ordered by the total (entity, label_ts)
    // key since entities repeat across label rows.
    "fs_training_set_paged" -> Query((s, dir) => {
      val (psize, pages) = FeatureStore.pagedMaterializationFixedPages(
        pitTrainingSet(s, dir), nPages = 32,
        orderCols = Seq("entity", "label_ts_us"))
      pages
        .map { case (start, _, page) => page.withColumn("page", lit(start / psize)) }
        .reduce(_ unionByName _)
    }, """
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
      FROM numbered CROSS JOIN ps"""),
    "fs_training_set_lag" -> Query((s, dir) => {
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
    }, """
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
      FROM f WHERE kind = 1"""),
    "fs_batch_features" -> Query((s, dir) =>
      FeatureStore.batchFeatures(
        t(s, dir, "events"), "user_id", "event_type", "value", "ts", "event_id",
        Seq("click", "view", "purchase", "signup", "error"))
        .withColumnRenamed("user_id", "entity"),
      """
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
      FROM r WHERE rn = 1 GROUP BY user_id"""),
    "fs_transform_sql" -> Query((s, dir) => {
      Tables.registerPrimary(s, "orders", s"$dir/orders.parquet")
      Tables.registerPrimary(s, "customer", s"$dir/customer.parquet")
      s.sql("""
        SELECT c_mktsegment,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment""")
    }, """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment"""),
    "fs_transform_chain" -> Query((s, dir) => {
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
    }, """
      SELECT user_id AS entity, count(*) AS n_big,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_big,
             max(value) AS max_big
      FROM events WHERE event_type = 'purchase' AND value > 50
      GROUP BY user_id"""),
    "fs_split_train_test" -> Query((s, dir) =>
      FeatureStore
        .trainTestSplit(materializedLatest(s, dir), "entity", 0.25)
        .select(col("entity"), col("split")),
      """
      SELECT entity,
             CASE WHEN substr(md5(CAST(entity AS VARCHAR)), 1, 4) < '4000'
                  THEN 'test' ELSE 'train' END AS split
      FROM (
        SELECT user_id AS entity FROM (
          SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1)"""),
    // TrainTestSplitDef parity: seeded deterministic "shuffle" split
    // (TestSize=0.25, RandomState=42).
    "fs_split_shuffled" -> Query((s, dir) =>
      FeatureStore
        .trainTestSplitShuffled(materializedLatest(s, dir), "entity", 0.25, seed = 42L)
        .select(col("entity"), col("split")),
      """
      SELECT entity,
             CASE WHEN substr(md5('42:' || CAST(entity AS VARCHAR)), 1, 4) < '4000'
                  THEN 'test' ELSE 'train' END AS split
      FROM (
        SELECT user_id AS entity FROM (
          SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1)"""),
    // UpdateTrainingSet parity: build the training set from the first
    // half of the stream, then refresh with the second half touching
    // only delta entities — must equal the full PIT recompute (the
    // oracle).
    "fs_training_set_update" -> Query((s, dir) => {
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
    }, """
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
      FROM f WHERE kind = 1"""),
    "fs_feature_stats" -> Query((s, dir) =>
      FeatureStore.featureStats(t(s, dir, "events"), "event_type", "value", "user_id"),
      """
      SELECT event_type AS feature, count(*) AS n,
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             min(value) AS min_value, max(value) AS max_value,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS avg_value,
             count(DISTINCT user_id) AS n_entities
      FROM events GROUP BY event_type"""),
    // Distribution-drift monitor: PSI of each feature's value
    // distribution, first half of the stream (reference) vs second.
    "fs_feature_drift" -> Query((s, dir) =>
      FeatureStore.featureDrift(
        t(s, dir, "events"), "event_type", "value", "ts", "2024-01-15 00:00:00"),
      """
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
      FROM p GROUP BY feature"""),
    // Tolerance as-of join (merge_asof backward + tolerance): each
    // purchase gets the user's most recent click VALUE, but only if
    // that click is at most 2 hours old — stale matches null out.
    "fs_asof_tolerance" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      FeatureStore.asofJoin(
        ev.where(col("event_type") === "purchase"), "user_id", "ts", "event_id",
        ev.where(col("event_type") === "click"), "user_id", "value", "ts", "event_id",
        toleranceUs = Some(2L * 3600L * 1000000L))
    }, """
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
      FROM f WHERE kind = 1"""),
    // Nearest-direction as-of join (merge_asof direction='nearest'):
    // each purchase pairs with the user's time-closest click, either
    // direction, ties backward.
    "q_asof_nearest" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      FeatureStore.asofNearest(
        ev.where(col("event_type") === "purchase"), "user_id", "ts", "event_id",
        ev.where(col("event_type") === "click"), "user_id", "value", "ts", "event_id")
    },
      // Same tagged union, same sort — one trailing and one leading
      // IGNORE NULLS frame, then the closest-side pick (ties backward).
      """
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
      FROM p"""),
    // Robust median/MAD outlier gate (Iglewicz–Hoaglin modified
    // z-score, |Mz| > 3.5) — the heavy-tail companion of the z-gate.
    "fs_outlier_mad" -> Query((s, dir) =>
      FeatureStore.outliersMad(
        t(s, dir, "events"), "event_type", "value", "event_id", cutoff = 3.5),
      // Medians via the same exact interpolated quantile as
      // q_percentiles; Mz is the identical IEEE op sequence.
      """
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
      WHERE m.mad > 0 AND abs((e.value - m.med) * 0.6745 / m.mad) > 3.5"""),
    // Time-series volume anomalies: robust (median/MAD) z over DAILY
    // event counts per type — the pipeline-incident detector ("clicks
    // dropped by half on Tuesday"), composing the MAD gate over a
    // date-trunc rollup.
    "q_daily_anomaly" -> Query((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
        .select(col("event_type"), unix_micros(col("day")).as("day_us"), col("n"))
      FeatureStore.outliersMad(daily, "event_type", "n", "day_us", cutoff = 1.5)
    }, """
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
      WHERE m.mad > 0 AND abs((d.n - m.med) * 0.6745 / m.mad) > 1.5"""),
    // Pipeline-health monitor: per-feature last arrival, age vs a
    // reference instant, 6h-window volume, staleness verdict.
    "fs_freshness" -> Query((s, dir) =>
      FeatureStore.featureFreshness(
        t(s, dir, "events"), "event_type", "ts", "2024-01-15 00:00:00",
        staleAfterUs = 6L * 3600L * 1000000L,
        recentWindowUs = 6L * 3600L * 1000000L),
      """
      SELECT event_type AS feature,
             max(epoch_us(ts)) AS last_ts_us,
             CAST(sum(CASE WHEN epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-15 00:00:00') - 21600000000
                            AND epoch_us(ts) <= epoch_us(TIMESTAMP '2024-01-15 00:00:00')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_recent,
             epoch_us(TIMESTAMP '2024-01-15 00:00:00') - max(epoch_us(ts)) AS age_us,
             epoch_us(TIMESTAMP '2024-01-15 00:00:00') - max(epoch_us(ts)) > 21600000000 AS stale
      FROM events GROUP BY event_type"""),
    // Materialized-aggregate maintenance: stored per-user (sum, n)
    // partials + the post-cut delta re-aggregate to exactly the full
    // recompute (mergeable decimal partials — incremental ETL's core
    // invariant, which is precisely what the oracle computes).
    "fs_agg_incremental" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      FeatureStore
        .mergeSumAggregate(
          FeatureStore.sumAggregate(ev.where(col("ts") <= cut), "user_id", "value"),
          ev.where(col("ts") > cut), "user_id", "value")
        .select(col("entity"), col("total_dec").cast("double").as("total"), col("n"))
    }, """
      SELECT user_id AS entity,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
             count(*) AS n
      FROM events GROUP BY user_id"""),
    // PIT leakage audit: a deliberately naive latest-value join (leaks
    // future clicks into purchase labels) next to the time-correct PIT
    // join — the audit must show n_leaks > 0 for the former and = 0
    // for the latter, quantifying why PIT correctness matters.
    "fs_leakage_audit" -> Query((s, dir) => {
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
    }, """
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
      FROM u GROUP BY method"""),
    // Incremental join-view maintenance: the stored orders⋈customer
    // view plus three delta joins must reproduce the full join exactly
    // (the oracle IS the full recompute — a strong equivalence gate).
    "fs_join_incremental" -> Query((s, dir) => {
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
    }, """
      SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_acctbal
      FROM orders JOIN customer ON o_custkey = c_custkey"""),
    // Leave-one-out target encoding of event_type by value — the
    // high-cardinality categorical encoder (no self-label leakage).
    "fs_target_encode" -> Query((s, dir) =>
      FeatureStore.targetEncodeLoo(t(s, dir, "events"), "event_id", "event_type", "value"),
      """
      WITH s AS (
        SELECT event_type AS category, count(*) AS n,
               sum(CAST(value AS DECIMAL(18,4))) AS sy
        FROM events GROUP BY event_type)
      SELECT event_id, category, value AS target,
             CASE WHEN n > 1
                  THEN CAST(sy - CAST(value AS DECIMAL(18,4)) AS DOUBLE) / (n - 1)
             END AS loo_encoding
      FROM events JOIN s ON events.event_type = s.category"""),
    // Row-level feature-quality gate: per-feature z-score outliers
    // (|z| > 3) from exact-decimal moments — ingest validation before
    // values reach materialization.
    "fs_outlier_values" -> Query((s, dir) =>
      FeatureStore.featureOutliers(
        t(s, dir, "events"), "event_id", "event_type", "value", zThreshold = 3.0),
      """
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
      WHERE std > 0 AND abs((value - mean) / std) > 3.0"""),
    // Standard + min-max scaling from one exact-decimal moment pass.
    "fs_feature_scale" -> Query((s, dir) =>
      FeatureStore.scaleFeatures(t(s, dir, "events"), "event_id", "event_type", "value"),
      """
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
      FROM events JOIN m2 ON events.event_type = m2.feature"""),
    // Equal-width + equal-frequency (decile) discretization.
    "fs_feature_bins" -> Query((s, dir) =>
      FeatureStore.binFeatures(
        t(s, dir, "events"), "event_id", "event_type", "value", nBins = 10),
      """
      WITH m AS (
        SELECT event_type AS feature, min(value) AS mn, max(value) AS mx
        FROM events GROUP BY event_type)
      SELECT event_id, feature, value,
             CASE WHEN value IS NULL THEN NULL
                  WHEN mx > mn THEN least(CAST(floor((value - mn) / (mx - mn) * 10) AS BIGINT), 9)
                  ELSE 0 END AS width_bin,
             CAST(ntile(10) OVER (
               PARTITION BY event_type ORDER BY value NULLS FIRST, event_id) AS BIGINT) AS freq_bin
      FROM events JOIN m ON events.event_type = m.feature"""),
    // Robust prep: clip each feature at its exact p05/p95 fences.
    "fs_winsorize" -> Query((s, dir) =>
      FeatureStore.winsorize(
        t(s, dir, "events"), "event_id", "event_type", "value", lo = 0.05, hi = 0.95),
      """
      WITH q AS (
        SELECT event_type AS feature,
               quantile_cont(value, 0.05) AS p_lo,
               quantile_cont(value, 0.95) AS p_hi
        FROM events GROUP BY event_type)
      SELECT event_id, feature, value,
             CASE WHEN value IS NULL THEN NULL
                  ELSE least(greatest(value, p_lo), p_hi) END AS clipped,
             CAST(coalesce(value < p_lo OR value > p_hi, false) AS INT) AS was_clipped
      FROM events JOIN q ON events.event_type = q.feature"""),
    // Chronological 80/20 split — train on the past, test on the future.
    "fs_split_time" -> Query((s, dir) =>
      FeatureStore
        .timeSplit(
          t(s, dir, "events").select(col("event_id"), col("ts")),
          Seq("ts", "event_id"), trainFraction = 0.8)
        .select(col("event_id"), col("split")),
      """
      WITH n AS (SELECT count(*) AS total FROM events),
      r AS (SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn FROM events)
      SELECT event_id,
             CASE WHEN rn <= CAST(floor(0.8 * total) AS BIGINT) THEN 'train' ELSE 'test' END AS split
      FROM r CROSS JOIN n"""),
    // The hashing trick: vocabulary-free signed-hash featurization of
    // categorical columns into a fixed 64-dim sparse space (exact
    // integer weights — the whole featurization hash-matches).
    "fs_feature_hashing" -> Query((s, dir) =>
      FeatureStore.featureHash(
        t(s, dir, "customer"), "c_custkey",
        Seq("seg" -> col("c_mktsegment"), "nat" -> col("c_nationkey")),
        dims = 64),
      """
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
      FROM f GROUP BY entity, h % 64"""),
    // Dense assembly of the hashed features (the VectorAssembler
    // step): fixed 64-wide integer vectors, emitted as a csv string +
    // summary stats (scalar columns keep the driver row-sort exact).
    "fs_feature_matrix" -> Query((s, dir) => {
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
    }, """
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
      FROM dense"""),
    // UpdateMaterialization parity: materialize the first half of the
    // stream, incrementally merge the second half — must equal the
    // full recompute (which is exactly what the oracle computes).
    "fs_materialize_incremental" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val existing = FeatureStore.materializeLatest(
        ev.where(col("ts") <= cut), "user_id", "value", "ts", "event_id")
      FeatureStore
        .materializeIncremental(
          existing, ev.where(col("ts") > cut), "user_id", "value", "ts", "event_id")
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us"))
    }, """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1"""),
    // Online-serving parity: the feature vector a store would serve at
    // time T == materialization over events with ts <= T.
    "fs_features_asof" -> Query((s, dir) =>
      FeatureStore
        .materializeLatest(
          t(s, dir, "events").where(col("ts") <= lit("2024-01-15 00:00:00").cast("timestamp")),
          "user_id", "value", "ts", "event_id")
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
      """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1"""),
    // Declarative expectations gate over a raw source: one report row
    // per check; mixes passing and failing checks on purpose.
    "fs_data_contract" -> Query((s, dir) =>
      FeatureStore.dataContract(
        t(s, dir, "events"),
        Seq(
          FeatureStore.ContractCheck.NotNull("value"),
          FeatureStore.ContractCheck.InRange("value", 0.0, 100.0),
          FeatureStore.ContractCheck.InSet(
            "event_type", Seq("click", "view", "purchase", "signup")),
          FeatureStore.ContractCheck.Unique("event_id"),
          FeatureStore.ContractCheck.Unique("user_id"))),
      """
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
        SELECT 'unique', 'user_id', v4, n_rows, v4 = 0 FROM agg)"""),
    // CDC merge: snapshot + Debezium-style changelog (op I/U/D, every
    // 7th event; op cycles by event_id so inserts/updates/deletes mix).
    "fs_cdc_apply" -> Query((s, dir) => {
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
    }, """
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
      WHERE rn = 1 AND op <> 'D'"""),
    // Feature TTL at serving: the corpus-max ts is "now"; anything
    // materialized > 3 days before it reads as a miss (NULL), not a
    // stale hit. The 1-row serving-ts aggregate is broadcast.
    "fs_ttl_serving" -> Query((s, dir) => {
      val serveTs = broadcast(t(s, dir, "events").agg(max(col("ts")).as("_serve_ts")))
      FeatureStore.serveWithTtl(
        materializedLatest(s, dir).crossJoin(serveTs),
        col("_serve_ts"), expr("INTERVAL 3 DAYS"))
    }, """
      WITH mat AS (
        SELECT user_id AS entity, value, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1),
      st AS (SELECT max(ts) AS serve_ts FROM events)
      SELECT entity,
             CASE WHEN ts >= serve_ts - INTERVAL 3 DAY THEN value END AS value,
             ts >= serve_ts - INTERVAL 3 DAY AS fresh,
             epoch_us(serve_ts) - epoch_us(ts) AS age_us
      FROM mat CROSS JOIN st"""),
    // On-demand features (featureform client-computed features):
    // purchase events are the serving requests; two materialized
    // features join on and the derived columns evaluate row-locally.
    // ratio is fixed-point micro-units (floor(x*1e6)) — engine-portable.
    "fs_ondemand_transform" -> Query((s, dir) => {
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
    }, """
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
      FROM req LEFT JOIN fc USING (entity) LEFT JOIN fv USING (entity)"""),
    // Entity mapping before materialization (featureform
    // EntityMappings): alias ids (user_id%10==7) resolve to a
    // canonical anchor via a broadcast mapping TABLE; unmapped ids
    // pass through. Materialization then keys on canonical entities.
    "fs_entity_map" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val mapping = ev.select(col("user_id")).distinct()
        .where(col("user_id") % 10 === 7)
        .select(col("user_id").as("alias_id"), (col("user_id") - 7L).as("canonical_id"))
      FeatureStore.materializeLatest(
        FeatureStore.mapEntities(ev, "user_id", mapping, "alias_id", "canonical_id"),
        "user_id", "value", "ts", "event_id")
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us"))
    }, """
      SELECT entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY entity ORDER BY ts DESC, event_id DESC) AS rn
        FROM (
          SELECT CASE WHEN user_id % 10 = 7 THEN user_id - 7 ELSE user_id END AS entity,
                 value, ts, event_id
          FROM events))
      WHERE rn = 1"""),
    // Decile lift: users ranked by click spend (exact micro sums),
    // cut into 10 exact ntile groups, positive-rate / mean-score /
    // lift-vs-base-rate per decile — the score-monitoring table.
    "fs_decile_lift" -> Query((s, dir) => {
      val per = t(s, dir, "events")
        .groupBy(col("user_id").as("entity"))
        .agg(
          sum(when(col("event_type") === "click",
            floor(col("value") * 1000000.0).cast("long")).otherwise(0L))
            .as("score_micro"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("label"))
      FeatureStore.liftTable(per, k = 10)
    }, """
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
      GROUP BY decile"""),
    // Feature-selection screening: MI between per-user click count
    // (capped bin) and the purchased label, per-cell pico-nat terms.
    "fs_feature_importance_mi" -> Query((s, dir) => {
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("label"))
      FeatureStore.mutualInformation(per, least(col("clicks"), lit(5L)), col("label"))
    }, """
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
      FROM cells JOIN bins USING (bin) JOIN labels USING (label) CROSS JOIN tot"""),
    // The production materialization loop end-to-end: day-1 events
    // materialize into an entity-clustered lakehouse table; day-2's
    // delta computes its per-entity winners AGAINST the current
    // snapshot (materializeIncremental) and MERGEs only the touched
    // entities — zone maps keep untouched files byte-identical. The
    // final table must equal a from-scratch materialization of ALL
    // events (the oracle).
    "fs_materialize_merge" -> Query((s, dir) => {
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
    }, """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1"""),
    // Redundancy screen: pairwise Pearson r between per-user count
    // features, exact integer sums → fixed-point micro r.
    "fs_feature_corr" -> Query((s, dir) => {
      val per = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
      FeatureStore.featureCorrelations(per, Seq("clicks", "views", "purchases"))
    }, {
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
    }),
    // Sliding event-time feature aggregations: trailing 1h / 24h click
    // count+spend as of each purchase (point-in-time clean frames,
    // ONE shuffle for all horizons).
    "fs_rolling_features" -> Query((s, dir) =>
      FeatureStore.rollingFeatures(
        t(s, dir, "events"), "user_id", "ts", "event_type", "value",
        labelType = "purchase", featureType = "click",
        windowsUs = Seq("1h" -> 3600000000L, "24h" -> 86400000000L)),
      """
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
      FROM win WHERE etype = 'purchase'"""),
    // Offline→online bulk-load manifest: 32 md5 hash shards with
    // count / exact sum / span / order-independent checksum per shard.
    "fs_online_export" -> Query((s, dir) =>
      FeatureStore.onlineExport(
        materializedLatest(s, dir)
          .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
        shards = 32),
      """
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
      FROM keyed GROUP BY shard"""),
    // Exact categorical vocabulary (StringIndexer analog): p_type
    // indexed by (frequency desc, value asc) with a min-count floor;
    // rare types encode as OOV -1. Vocab-sized window + broadcast
    // apply — the corpus pass never shuffles.
    "fs_vocab_encode" -> Query((s, dir) =>
      FeatureStore.vocabEncode(
        t(s, dir, "part"), "p_partkey", "p_type", minCount = 12L),
      """
      WITH c AS (
        SELECT p_type AS category, count(*) AS cnt FROM part GROUP BY p_type),
      v AS (
        SELECT category,
               CAST(row_number() OVER (ORDER BY cnt DESC, category) - 1 AS BIGINT) AS idx
        FROM c WHERE cnt >= 12)
      SELECT p_partkey AS entity, p_type AS category,
             coalesce(idx, -1) AS idx
      FROM part LEFT JOIN v ON part.p_type = v.category"""),
    // Forward label horizon: for each click, did the user purchase
    // within 72h strictly after it, and how long did it take — ONE
    // merged-stream window per entity, never the anchor x outcome
    // inequality join.
    "fs_label_horizon" -> Query((s, dir) =>
      FeatureStore.labelHorizon(
        t(s, dir, "events"), "user_id", "ts", "event_id",
        anchorIs = col("event_type") === "click",
        outcomeIs = col("event_type") === "purchase",
        horizonUs = 72L * 3600L * 1000000L),
      """
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
      FROM nxt"""),
    // Selective partition backfill: two days of the daily aggregate
    // went stale (late data); the per-day manifest diff finds exactly
    // them, recomputes ONLY those partitions, and carries clean days
    // forward — result equal to a full recompute (the oracle), with
    // the backfilled flag auditing the detection.
    "fs_backfill_days" -> Query((s, dir) => {
      val ev = t(s, dir, "events")
      val dirty = Seq("2024-01-05", "2024-01-20").map(d => lit(d).cast("date"))
      val stale = ev.where(
        !(col("event_id") % 3 === 0 && to_date(col("ts")).isin(dirty: _*)))
      FeatureStore.backfillDays(
        ev, "ts", "event_type", "value", "event_id",
        FeatureStore.dailyAggregate(stale, "ts", "event_type", "value"),
        FeatureStore.dailyManifest(stale, "ts", "event_id", "event_type", "value"))
    }, """
      SELECT CAST(ts AS DATE) AS day, event_type AS feature, count(*) AS n,
             CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS spend_micro,
             CAST(CASE WHEN CAST(ts AS DATE) IN (DATE '2024-01-05', DATE '2024-01-20')
                       THEN 1 ELSE 0 END AS INT) AS backfilled
      FROM events GROUP BY 1, 2"""),
    // Deterministic negative sampling for recsys/contrastive training:
    // per customer, 12 md5-keyed draws mapped through the dense
    // 0..|part|-1 index (every negative is a REAL part even under key
    // gaps), positives (ordered parts) anti-joined away, earliest 5
    // surviving slots kept — O(users x proposals), never users x items.
    "fs_negative_sample" -> Query((s, dir) => {
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
    }, """
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
      SELECT "user", item, slot FROM ranked WHERE rk <= 5""")
  )
}
