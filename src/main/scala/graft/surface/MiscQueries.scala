package graft
package surface

import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming.StreamingFeatures

import Common._

/** Multimodal + streaming analogs: each query's Spark build beside its DuckDB oracle. */
object MiscQueries {

  val queries: Seq[(String, Query)] = Seq(
    // Full mixed-modality decode through the REAL JDK codec
    // (javax.imageio PNG/BMP/animated-GIF + javax.sound WAV) over
    // genuine container bytes: channel means for images, frame counts
    // for video, sample stats for audio — the oracle recomputes every
    // stat from the generator's integer formulas, so this gates a true
    // encode→container→decode round trip. frame_means feeds
    // mm_scene_cut and is dropped here (scalar meta row).
    "mm_binary_meta" -> Query((s, dir) =>
      Multimodal.decodeStats(MediaGen.mediaFor(t(s, dir, "documents"))).toDF()
        .drop("frame_means"),
      // REAL-CODEC oracle: Spark decodes genuine PNG/BMP/GIF/WAV bytes;
      // the oracle recomputes every stat from the MediaGen integer
      // formulas (m = id%256; image pixel r=(m+3x+7y)%256 g=(2m+5x+y)%256
      // b=(m+x*y)%256 over w=8+id%24, h=8+(id/5)%24; GIF frame f solid
      // gray (m+7f²+13f)%256 on 16×12; WAV sample i = (m·131+i·17)%4001
      // − 2000 at 8 kHz) — brute-forced by unnesting pixel/sample ranges.
      """
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
             LEFT JOIN wav ON wav.id = d.id"""),
    // Per-channel mean AND std from real decoded pixels — the
    // normalization-constants step of vision preprocessing; variance
    // computed from exact integer sums ((n·Σc² − (Σc)²)/n²) so the
    // 6dp-rounded std is engine-exact.
    "mm_image_stats" -> Query((s, dir) =>
      Multimodal.imageChannelStats(MediaGen.imagesFor(t(s, dir, "documents"))).toDF(),
      // Per-channel mean/std vs the same brute-forced pixel formulas;
      // variance from exact integer sums, one IEEE division, 6dp round.
      """
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
      FROM d JOIN agg ON agg.id = d.id"""),
    // The LOSSY codec arm driven end-to-end at corpus scale: every doc
    // encoded as a REAL JPEG (fixed explicit quality), decoded back
    // through the SPI, reduced to per-payload-class verdicts. The
    // oracle derives the lossless parts (dims, class counts) from the
    // generator formulas; the lossy parts ride as gated booleans —
    // decode determinism per class (n_stat_variants = 1) and bounded
    // channel-mass deviation (relTol 0.25, ~2x the exhaustively
    // measured max of 0.1181; MediaCodecSpec pins the measurement).
    "mm_jpeg_stats" -> Query((s, dir) =>
      Multimodal.jpegCorpusGate(t(s, dir, "documents"), relTol = 0.25),
      // JPEG gate: the oracle recomputes the LOSSLESS facts — class
      // membership (doc_id mod 3840; 24, 120 and 256 all divide 3840, so
      // dims and the pixel formulas are class-pure), class counts, and
      // header-exact dims — and asserts the lossy-side verdicts the
      // engine computed from the real decode (one stat tuple per class,
      // bounded deviation) as constants.
      """
      WITH d AS (SELECT doc_id % 3840 AS m_class FROM documents)
      SELECT m_class,
             count(*) AS n_docs,
             CAST(8 + m_class % 24 AS BIGINT) AS width,
             CAST(8 + (m_class // 5) % 24 AS BIGINT) AS height,
             CAST(1 AS BIGINT) AS n_stat_variants,
             TRUE AS dims_ok,
             TRUE AS dev_ok
      FROM d
      GROUP BY m_class"""),
    // LAION-style CLIP-gate pair curation: image vec at doc_id, caption
    // vec at doc_id+1; similarity + caption-length + language gates,
    // per-gate verdicts for curation QA.
    "mm_pair_curation" -> Query((s, dir) =>
      Multimodal.clipPairCuration(
        t(s, dir, "documents"), t(s, dir, "embeddings"),
        textVecOffset = 1L, cosThreshold = 0.0,
        minChars = 80L, maxChars = 500L, langs = Seq("en", "de")),
      """
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
      FROM documents d LEFT JOIN cos ON cos.doc_id = d.doc_id"""),
    // Exact-bytes media dedup before any decode: corpus doubled with
    // shifted ids so every payload has a cross-source duplicate.
    "mm_binary_dedup" -> Query((s, dir) => {
      val docs = t(s, dir, "documents")
      Multimodal.binaryDedup(
        Multimodal.mediaFromDocs(docs).unionByName(
          Multimodal.mediaFromDocs(
            docs.withColumn("doc_id", col("doc_id") + 100000L))))
    }, """
      WITH media AS (
        SELECT doc_id AS media_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents)
      SELECT md5(text) AS digest, CAST(min(media_id) AS BIGINT) AS keep_id,
             count(*) AS n_copies
      FROM media GROUP BY md5(text)"""),
    // WebDataset-style shard packing plan: 4 KiB byte-budget shards
    // per source in (source, doc_id) order — all-integer cumsum.
    "mm_shard_pack" -> Query((s, dir) =>
      Multimodal.shardPack(
        t(s, dir, "documents"), "doc_id", "source", "n_chars", shardBytes = 4096L),
      // Integer cumsum window per source; same concatenate-then-cut
      // shard/offset math (codec-free: only payload sizes matter).
      """
      SELECT doc_id, source,
             CAST((cum - n_chars) // 4096 AS BIGINT) AS shard_id,
             CAST((cum - n_chars) % 4096 AS BIGINT) AS offset_bytes,
             n_chars AS n_bytes
      FROM (
        SELECT doc_id, source, n_chars,
               sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents)"""),
    // Video frame extraction end-to-end: mixed-modality ingest ->
    // REAL batched decode (frame counts from the GIF container; images
    // one frame, audio none) -> stride-7 frame sampling (lazily
    // flat-mapped).
    "mm_frame_sample" -> Query((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(MediaGen.mediaFor(t(s, dir, "documents"))),
        stride = 7),
      // Frame counts now come from the REAL GIF container decode (images
      // one frame, audio zero); formula: n = 2 + id%59 for id%4 = 2.
      """
      WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 4 <= 1 THEN 1
                    WHEN doc_id % 4 = 2 THEN 2 + doc_id % 59
                    ELSE 0 END AS n_frames
        FROM documents)
      SELECT media_id, unnest(range(0, n_frames, 7)) AS frame_idx FROM m"""),
    // Shot-boundary detection over REAL decoded video frames: the
    // per-frame signal is the decoded mean intensity (animated-GIF
    // pixels via javax.imageio), cut where |delta| >= 64. Pure scan:
    // a clip's frame means arrive as one array on its row. Runs on
    // the corpus's video slice (doc_id % 4 = 2 — the same modality
    // split as mediaFor).
    "mm_scene_cut" -> Query((s, dir) =>
      Multimodal.sceneCuts(
        Multimodal.decodeStats(MediaGen.videosFor(
          t(s, dir, "documents").where(col("doc_id") % 4 === 2))),
        threshold = 64.0),
      // The per-frame signal is now the REAL decoded mean frame intensity
      // (solid GIF frames, so the mean IS the generator's gray level
      // (m + 7f² + 13f) % 256 exactly); delta of consecutive levels.
      """
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
      FROM s WHERE abs(delta) >= 64"""),
    // Aspect-preserving resize planning over REAL decoded dimensions
    // (PNG/BMP headers + pixels via javax.imageio): fit-into-24 target
    // shapes — the deterministic half of vision preprocessing.
    "mm_resize_plan" -> Query((s, dir) =>
      Multimodal.resizePlan(
        Multimodal.decodeMeta(MediaGen.imagesFor(t(s, dir, "documents"))),
        maxDim = 24),
      // Dimensions now come from the REAL image decode; the oracle
      // recomputes them from the generator's dim formulas.
      """
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
      FROM l"""),
    // Audio framing plan over REAL decoded WAV headers (sample count +
    // rate via javax.sound.sampled): 25ms windows at 10ms hop over the
    // 8kHz clips — the windowing-schedule half of audio preprocessing.
    "mm_audio_windows" -> Query((s, dir) =>
      Multimodal.audioFramePlan(
        Multimodal.decodeStats(MediaGen.audioFor(t(s, dir, "documents"))).toDF(),
        winSamples = 200, hopSamples = 80),
      // n_samples/rate now come from the REAL WAV header decode; the
      // oracle recomputes them from the generator's clip-length formula.
      """
      WITH a AS (SELECT doc_id AS media_id, 400 + doc_id % 400 AS ns FROM documents)
      SELECT media_id, CAST(ns AS BIGINT) AS n_samples,
             CAST(ns // 8 AS BIGINT) AS duration_ms,
             CAST((ns - 200) // 80 + 1 AS BIGINT) AS n_frames
      FROM a"""),
    "stream_latest_value" -> Query((s, dir) =>
      StreamingFeatures
        .latestValueBatch(t(s, dir, "events"))
        .select(col("entity"), col("value"), unix_micros(col("ts")).as("ts_us")),
      """
      SELECT user_id AS entity, value, epoch_us(ts) AS ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1"""),
    "stream_windowed_agg" -> Query((s, dir) =>
      StreamingFeatures.windowedCountsBatch(t(s, dir, "events")),
      """
      SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY date_trunc('hour', ts), event_type"""),
    // Streaming top-k serving, batch analog (topKServeStream over
    // MemoryStream == this; parity spec-checked in StreamingSpec).
    "stream_topk_serve" -> Query((s, dir) =>
      StreamingFeatures.topKServeBatch(
        t(s, dir, "events").select(
          col("user_id").as("query_id"),
          col("event_id").as("doc_id"),
          col("value").cast("double").as("score")),
        k = 5),
      """
      SELECT query_id, doc_id, rank, score FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank,
               score
        FROM (
          SELECT user_id AS query_id, event_id AS doc_id,
                 max(CAST(value AS DOUBLE)) AS score
          FROM events GROUP BY user_id, event_id))
      WHERE rank <= 5"""),
    // Streaming corpus dedup, batch analog (stream parity spec-checked
    // in StreamingSpec: dedupStream over MemoryStream == this).
    "stream_dedup" -> Query((s, dir) =>
      StreamingFeatures.dedupBatch(t(s, dir, "documents"), "doc_id", "text"),
      """
      SELECT md5(text) AS fp, min(doc_id) AS doc_id
      FROM documents GROUP BY md5(text)"""),
    // Streaming NEAR-dup gate, batch analog (stream parity spec-checked
    // in StreamingSpec): is_dup per doc iff any MinHash-LSH band bucket
    // was first claimed by an earlier arrival. No pair join — the
    // keep/drop verdict needs only first-arrival per bucket.
    "stream_dedup_near" -> Query((s, dir) =>
      StreamingFeatures.nearDedupBatch(t(s, dir, "documents"), "doc_id", "text"),
      s"""
      WITH $minhashChainCtes,
      first_seen AS (
        SELECT band, bh, min(doc_id) AS first_id
        FROM banded GROUP BY band, bh)
      SELECT b.doc_id,
             CAST(max(CASE WHEN b.doc_id > f.first_id THEN 1 ELSE 0 END) AS INT) AS is_dup
      FROM banded b JOIN first_seen f ON b.band = f.band AND b.bh = f.bh
      GROUP BY b.doc_id"""),
    // Stream-stream interval-join attribution, batch analog: click ->
    // purchase pairs within a 60-minute window per user.
    "stream_attribution" -> Query((s, dir) =>
      StreamingFeatures.attributionBatch(
        t(s, dir, "events"), touchType = "click", convType = "purchase", windowMinutes = 60),
      """
      SELECT t.user_id, c.event_id AS conv_id, epoch_us(c.ts) AS conv_ts_us,
             t.event_id AS touch_id, epoch_us(t.ts) AS touch_ts_us
      FROM events t JOIN events c
        ON t.user_id = c.user_id
       AND t.ts >= c.ts - INTERVAL 60 MINUTE
       AND t.ts <= c.ts
      WHERE t.event_type = 'click' AND c.event_type = 'purchase'"""),
    // Watermark sizing replay: arrival simulated as the md5 permutation
    // of the ingest id (the corpus is stored in event-time order, so
    // raw id order would show zero disorder); 7-day allowed delay.
    "stream_late_events" -> Query((s, dir) =>
      // Keep the arrival key as the md5 HEX STRING, not unhex bytes:
      // the 16-byte binary orders identically at half the size, but
      // Spark's sort generates radix/prefix comparisons for
      // UTF8String and not for BinaryType — measured 20-25% SLOWER
      // with the binary key at every SF (sf100 44.2 s → 54.4 s).
      StreamingFeatures.lateEventsBatch(
        t(s, dir, "events").withColumn("arrival", md5(col("event_id").cast("string"))),
        "event_id", "ts", "arrival", delayMinutes = 7L * 24 * 60),
      """
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
      FROM w"""),
    // Linear multi-touch attribution over a 7-day trailing window —
    // per-channel credit with an explicit conservation remainder.
    "q_attribution_multi" -> Query((s, dir) =>
      Analytics.multiTouchCredits(
        t(s, dir, "events"), "user_id", "event_type", "ts", "value",
        convType = "purchase", touchTypes = Seq("click", "view"),
        windowMinutes = 7L * 24 * 60),
      """
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
      FROM c WHERE etype = 'purchase'"""),
    // Streaming MultiSet (client-streaming write RPC), batch analog:
    // three successive set-request batches folded into the space via
    // the same last-writer-wins upsert the sink applies per
    // micro-batch (the foreachBatch sink itself is parity spec-checked
    // over a MemoryStream in StreamingSpec).
    "stream_upsert" -> Query((s, dir) => {
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
    },
      // Last-writer-wins over the batch sequence: highest-priority writer
      // of each key survives — the unrolled equivalent of the three
      // chained upserts.
      """
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
      WHERE rn = 1"""),
    // Stream-static enrichment (batch analog; stream semantics in
    // StreamingSpec): events left-join the broadcast customer dim,
    // profiled per segment — dim misses surface under the NULL group.
    "stream_enrich" -> Query((s, dir) =>
      StreamingFeatures.enrichBatch(
        t(s, dir, "events"),
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "user_id", "c_custkey", "c_mktsegment"),
      """
      SELECT c_mktsegment,
             count(*) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events LEFT JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment""")
  )
}
