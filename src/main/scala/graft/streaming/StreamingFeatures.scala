package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming feature maintenance — the Structured Streaming analog of
  * the reference's event-stream → online-store path (streamer/,
  * provider online stores): a feature's latest value per entity kept as
  * typed keyed state, plus watermarked windowed aggregates.
  *
  * Batch/stream parity: `latestValueBatch` computes the same result as
  * draining `latestValueStream`, so the Verify oracle for the batch
  * analog is also the semantic spec of the stream.
  */
object StreamingFeatures {

  final case class FeatureEvent(entity: Long, value: Double, ts: Timestamp, event_id: Long)
  final case class LatestValue(entity: Long, value: Double, ts: Timestamp)

  /** Streaming latest-value per entity via typed keyed state. Emits the
    * updated latest row for each entity touched in a micro-batch.
    * State is O(1) per entity (just the current winner).
    */
  def latestValueStream(events: Dataset[FeatureEvent]): Dataset[LatestValue] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.entity)
      .mapGroupsWithState[LatestValue, LatestValue](GroupStateTimeout.NoTimeout) {
        (entity, rows, state: GroupState[LatestValue]) =>
          val incoming = rows.maxBy(e => (e.ts.getTime, e.event_id))
          val best = state.getOption match {
            case Some(cur) if cur.ts.after(incoming.ts) => cur
            case _ => LatestValue(entity, incoming.value, incoming.ts)
          }
          state.update(best)
          best
      }
  }

  /** [[latestValueStream]] re-expressed on Spark 4's transformWithState
    * — the successor state API (SPARK-49564 "arbitrary stateful
    * processing v2"): named state variables with per-variable TTL
    * config, timers, and schema evolution, RocksDB-backed. Semantics
    * kept bit-identical to the mapGroupsWithState form (spec-pinned
    * parity), so callers can migrate APIs without a behavior diff;
    * production gains the TTL knob (pass a real TTLConfig to bound
    * state by time, same trade as [[dedupStreamBounded]]).
    */
  final class LatestValueProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, FeatureEvent, LatestValue] {
    @transient private var latest:
        org.apache.spark.sql.streaming.ValueState[LatestValue] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      latest = getHandle.getValueState[LatestValue](
        "latest",
        org.apache.spark.sql.Encoders.product[LatestValue],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        entity: Long,
        rows: Iterator[FeatureEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[LatestValue] = {
      val incoming = rows.maxBy(e => (e.ts.getTime, e.event_id))
      val best =
        if (latest.exists() && latest.get().ts.after(incoming.ts)) latest.get()
        else LatestValue(entity, incoming.value, incoming.ts)
      latest.update(best)
      Iterator.single(best)
    }
  }

  def latestValueStreamTws(events: Dataset[FeatureEvent]): Dataset[LatestValue] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.entity)
      .transformWithState(
        new LatestValueProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Batch analog with identical semantics (same as
    * FeatureStore.materializeLatest but typed).
    */
  def latestValueBatch(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id").as("entity"))
      .agg(max_by(struct(col("value"), col("ts")), struct(col("ts"), col("event_id"))).as("l"))
      .select(col("entity"), col("l.value").as("value"), col("l.ts").as("ts"))

  /** A label or feature observation on the shared entity timeline. */
  final case class TaggedEvent(
      entity: Long, ts: Timestamp, event_id: Long, is_label: Boolean, value: Double)
  final case class EnrichedLabel(
      entity: Long, label_ts: Timestamp, label: Double, feature: Option[Double])

  /** Streaming point-in-time training set: each label row is emitted
    * enriched with the latest feature value whose ts <= label.ts —
    * the streaming counterpart of FeatureStore.trainingSet for a
    * single feature. Within a micro-batch, events are applied in
    * event-time order (ts, then feature-before-label, then event_id),
    * so a feature and label with equal ts resolve inclusively, exactly
    * like the batch as-of join. State per entity is O(1): the current
    * (value, ts) winner; monotonically-late feature arrivals that are
    * older than the state are ignored (they can no longer win any
    * future as-of).
    */
  def streamingTrainingSet(events: Dataset[TaggedEvent]): Dataset[EnrichedLabel] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.entity)
      .flatMapGroupsWithState[LatestValue, EnrichedLabel](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { (entity, rows, state) =>
        val ordered = rows.toSeq.sortBy(e => (e.ts.getTime, e.is_label, e.event_id))
        val out = scala.collection.mutable.ListBuffer.empty[EnrichedLabel]
        var cur = state.getOption
        ordered.foreach { e =>
          if (e.is_label) {
            out += EnrichedLabel(entity, e.ts, e.value, cur.map(_.value))
          } else if (cur.forall(c => !c.ts.after(e.ts))) {
            cur = Some(LatestValue(entity, e.value, e.ts))
          }
        }
        cur.foreach(state.update)
        out.iterator
      }
  }

  final case class SessionEvent(user_id: Long, ts: Timestamp, event_id: Long)
  final case class SessionAcc(start: Long, last: Long, n: Long)
  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

  /** Streaming sessionization with custom keyed state: a user's session
    * closes `gapMinutes` after their last event, enforced by an
    * event-time timeout against the watermark. Sessions are emitted
    * exactly once, on close (mid-batch gap crossings emit immediately;
    * the open tail emits when the watermark passes last + gap).
    * State per user is O(1) — (start, last, count).
    */
  def sessionizeStream(
      events: Dataset[SessionEvent], gapMinutes: Int): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes.toLong * 60000L
    def toSession(uid: Long, a: SessionAcc): Session =
      Session(uid, new Timestamp(a.start), new Timestamp(a.last), a.n)
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, Session](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) { (uid, rows, state) =>
        if (state.hasTimedOut) {
          val done = state.get
          state.remove()
          Iterator.single(toSession(uid, done))
        } else {
          val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var acc = state.getOption
          val completed = scala.collection.mutable.ListBuffer.empty[Session]
          evs.foreach { e =>
            val t = e.ts.getTime
            acc match {
              case Some(a) if t - a.last > gapMs =>
                completed += toSession(uid, a)
                acc = Some(SessionAcc(t, t, 1))
              case Some(a) =>
                acc = Some(SessionAcc(a.start, math.max(a.last, t), a.n + 1))
              case None =>
                acc = Some(SessionAcc(t, t, 1))
            }
          }
          acc.foreach { a =>
            state.update(a)
            state.setTimeoutTimestamp(a.last + gapMs)
          }
          completed.iterator
        }
      }
  }

  final case class DocArrival(doc_id: Long, fp: String, ts: Timestamp)

  /** Streaming corpus dedup: the first document to arrive with a given
    * content fingerprint survives; every later duplicate is dropped.
    * State per fingerprint is O(1) (the winning doc id). Within a
    * micro-batch, "first" is (ts, doc_id)-minimal, so a batch drained
    * in one go reproduces the batch keep-min-id dedup exactly — that
    * equivalence (spec-checked) is the stream's semantic oracle, the
    * same parity contract as latestValueStream/latestValueBatch.
    *
    * At scale: state is one long per DISTINCT fingerprint — bound it in
    * production with a TTL watermark (duplicates arriving later than
    * the retention horizon are rare and caught by the periodic batch
    * dedup); unbounded here to keep the semantics exact.
    */
  def dedupStream(docs: Dataset[DocArrival]): Dataset[DocArrival] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Long, DocArrival](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (_, rows, state) =>
        if (state.exists) Iterator.empty
        else {
          val first = rows.minBy(e => (e.ts.getTime, e.doc_id))
          state.update(first.doc_id)
          Iterator.single(first)
        }
      }
  }

  /** Batch analog of [[dedupStream]] over a document table: one
    * surviving (fp, doc_id) row per distinct fingerprint.
    */
  def dedupBatch(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))

  /** Bounded-state streaming dedup — the production form of
    * [[dedupStream]]'s "bound it with a TTL" note, built on Spark's
    * NATIVE dropDuplicatesWithinWatermark (built-in beats custom
    * state code): duplicates arriving within the watermark delay of
    * the first copy are dropped; state for a fingerprint is EVICTED
    * once the watermark passes it, so a duplicate arriving later than
    * the delay is re-admitted — the explicit, documented trade for
    * state bounded by (arrival rate x delay) instead of the corpus's
    * total distinct count. Pair with a periodic batch dedup
    * (`dedup_exact`) to catch the long tail, which is exactly how a
    * 100 TB ingest runs it.
    */
  def dedupStreamBounded(docs: DataFrame, delay: String): DataFrame =
    docs
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("fp")

  final case class BandArrival(doc_id: Long, band: Int, band_hash: String)
  final case class BandHit(doc_id: Long, band: Int, hit: Boolean)

  /** Streaming NEAR-dup gate — [[dedupStream]]'s exact-fingerprint
    * state upgraded to MinHash-LSH band buckets (the streaming half of
    * `dedup_minhash_lsh`, the shape a 100 TB ingest firehose actually
    * runs: dedup-at-arrival, not dedup-after-landing). Input is the
    * (doc_id, band, band_hash) rows of
    * [[graft.operators.Dedup.bandedSketch]] (a pure projection, legal
    * on a streaming DataFrame); state per bucket is the first-arrival
    * doc id; a band row HITS when its bucket was first claimed by a
    * strictly earlier arrival. A document is a near-dup candidate iff
    * ANY of its bands hits — that doc-level verdict is a plain
    * downstream aggregation of the emitted per-band flags.
    *
    * Policy: every arriving document's bands enter state, dup or not,
    * so verdicts are chain-free — "dup" means the bucket was seen
    * before, full stop — and the stream reproduces the batch analog
    * ([[nearDedupBatch]]) exactly when arrival order is id order
    * (spec-checked). State is O(1) per distinct bucket; bound it with
    * a TTL in production, same note as [[dedupStream]].
    */
  def nearDedupStream(bands: Dataset[BandArrival]): Dataset[BandHit] = {
    val spark = bands.sparkSession
    import spark.implicits._
    bands
      .groupByKey(b => (b.band, b.band_hash))
      .flatMapGroupsWithState[Long, BandHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (_, rows, state) =>
        val sorted = rows.toSeq.sortBy(_.doc_id)
        val firstSeen = if (state.exists) state.get else sorted.head.doc_id
        if (!state.exists) state.update(firstSeen)
        sorted.iterator.map(b =>
          BandHit(b.doc_id, b.band, b.doc_id > firstSeen))
      }
  }

  /** Batch analog of [[nearDedupStream]] at the document level:
    * (doc_id, is_dup) where is_dup=1 iff any of the doc's band buckets
    * was first claimed by a smaller doc_id. One window shuffle on the
    * bucket key (first-arrival per bucket), one aggregation shuffle on
    * doc_id — both linear; no pair join at all, which is what makes
    * the arrival-gate formulation cheaper than candidate enumeration
    * when only the keep/drop verdict is needed. Docs too short to
    * shingle have no bands and no verdict (absent), matching the
    * stream.
    */
  def nearDedupBatch(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val banded = graft.operators.Dedup.bandedSketch(docs, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    banded
      .withColumn("first_id", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("doc_id") > col("first_id"), 1).otherwise(0))
          .cast("int").as("is_dup"))
  }

  /** Stream-stream event-time interval join (attribution): each
    * conversion pairs with the same user's prior touch events within
    * `windowMinutes`. Both sides carry watermarks and the join
    * condition bounds event-time distance, so Spark can expire join
    * state — the canonical bounded-state stream-stream join. Inner
    * join: conversions with no touches emit nothing.
    */
  def attributionStream(
      touches: DataFrame, // columns: user_id, event_id, ts
      conversions: DataFrame, // columns: user_id, event_id, ts
      windowMinutes: Int,
      watermark: String = "10 minutes"
  ): DataFrame = {
    val t = touches
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("touch_id"), col("ts").as("touch_ts"))
    val c = conversions
      .withWatermark("ts", watermark)
      .select(col("user_id").as("c_user_id"), col("event_id").as("conv_id"), col("ts").as("conv_ts"))
    t.join(
      c,
      col("user_id") === col("c_user_id") &&
        col("touch_ts") >= col("conv_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("touch_ts") <= col("conv_ts"))
      .select(col("user_id"), col("conv_id"), col("conv_ts"), col("touch_id"), col("touch_ts"))
  }

  /** Batch analog of [[attributionStream]] over the events table:
    * (conversion, touch) pairs where the touch is the same user's
    * `touchType` event within the preceding window. The plan is an
    * equi-join on user_id with the time bounds as a join residual —
    * no row blowup beyond true pairs, shuffle keyed on the user.
    */
  def attributionBatch(
      events: DataFrame,
      touchType: String,
      convType: String,
      windowMinutes: Int
  ): DataFrame = {
    val t = events.where(col("event_type") === touchType)
      .select(col("user_id"), col("event_id").as("touch_id"), col("ts").as("touch_ts"))
    val c = events.where(col("event_type") === convType)
      .select(col("user_id").as("c_user_id"), col("event_id").as("conv_id"), col("ts").as("conv_ts"))
    t.join(
      c,
      col("user_id") === col("c_user_id") &&
        col("touch_ts") >= col("conv_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("touch_ts") <= col("conv_ts"))
      .select(
        col("user_id"),
        col("conv_id"),
        unix_micros(col("conv_ts")).as("conv_ts_us"),
        col("touch_id"),
        unix_micros(col("touch_ts")).as("touch_ts_us"))
  }

  /** Watermark late-event accounting — the batch replay of Structured
    * Streaming's `withWatermark` drop rule: replay the log in arrival
    * order, track the watermark (max event time seen so far, minus the
    * allowed delay), and flag every event whose event time is already
    * behind it — exactly the rows a streaming windowed aggregate would
    * silently drop. The sizing question ("what delay keeps our loss
    * under X%?") is THE question before turning a watermark on in
    * production, and it can only be answered by this batch replay.
    *
    * The running max over arrival order is the distributed prefix-max,
    * bucketed EXPLICITLY: a deterministic, monotone-in-arrival-order
    * bucket id is computed per row (a pure function of the key, no
    * sampling), so the per-bucket maxima come from a map-side-combined
    * aggregate over the raw scan — no full-row exchange, no pinned
    * materialization. The window pass (broadcast the running prefixes,
    * per-bucket running max) is then the ONLY full exchange in the
    * plan. The previous form range-partitioned first and derived
    * bucket ids from realized partition ids, which forced a pin (the
    * sampled assignment is nondeterministic) and a second full read;
    * at the fourth scaling decade that pin's write+re-read WAS the
    * query (SCALING.md sf300: 0.45 → 0.90 µs/row).
    *
    * Bucket ids are drawn at a FIXED fine granularity (`FineBuckets` =
    * 4096, the prior width cap) independent of the row count; the row
    * count only sizes the number of RANGE PARTITIONS the window pass
    * uses, and it is read off the same per-bucket aggregate that
    * computes the maxima. Decoupling bucket identity from sizing is
    * what gets the hex path to ZERO driver actions before the
    * bucket-stats pass — no count() scan, no min/max scan:
    *  - string keys must be fixed-width lowercase hex of at least 8
    *    chars (e.g. an md5): equi-depth by construction, bucket = top
    *    32 bits of the first 8 hex chars scaled to 4096. The contract
    *    is VALIDATED per row (length + a hex-alphabet translate check
    *    — cheap codegen'd string ops, no regex in a 10^9-row scan):
    *    violating keys get a NULL bucket, which the stats pass turns
    *    into the contract error below. (Spark's conv() alone cannot
    *    catch this — it parses garbage to "0", which would silently
    *    fold short or non-hex keys into bucket 0 and collapse the
    *    window pass to one task.)
    *  - numeric/timestamp keys: uniform buckets over [min, max]. One
    *    column-pruned pre-aggregate computes count+min+max TOGETHER
    *    (the count rides the scan the bucketer needs anyway).
    * Either way the per-bucket aggregate also collects min/max keys
    * and the driver VERIFIES contiguity (bucket b's max key ≤ bucket
    * b+1's min key) before trusting the prefixes — a bucketer that
    * breaks the monotone contract fails loudly, never silently.
    *
    * Range-partition width is BUDGET-DERIVED, not session-derived:
    * rows / `graft.stream.lateTargetPartitionRows` (default 4 M —
    * ~100 MB of (id, ts, key) rows per task) keeps the per-task sort
    * run constant by construction; the width only ever grows past the
    * session setting, so driver-SF plans are untouched.
    */
  def lateEventsBatch(
      events: DataFrame,
      idCol: String,
      tsCol: String,
      arrivalCol: String, // a TOTAL arrival order (e.g. ingest sequence)
      delayMinutes: Long
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{StringType, LongType}
    val delayUs = delayMinutes * 60L * 1000000L
    val pts = events.select(
      col(idCol).as("event_id"),
      unix_micros(col(tsCol)).as("ts_us"),
      col(arrivalCol).as("_ak"))
    val session = events.sparkSession.sessionState.conf.numShufflePartitions
    val targetRows = events.sparkSession.conf
      .getOption("graft.stream.lateTargetPartitionRows")
      .map(_.toLong).getOrElse(4000000L)
    // fixed fine-bucket granularity: bucket identity never depends on
    // the row count, so the hex path needs NO pre-scan at all
    val FineBuckets = 4096
    val bucketExpr: org.apache.spark.sql.Column = pts.schema("_ak").dataType match {
      case StringType =>
        // fixed-width lowercase-hex contract, validated per row with
        // codegen'd string ops (length + alphabet translate — conv()
        // alone parses garbage to "0" and would silently bucket it):
        // violations yield a NULL bucket that the stats pass rejects
        // with the contract message
        val prefix8 = substring(col("_ak"), 1, 8)
        val validHex =
          (length(col("_ak")) >= 8) && (translate(prefix8, "0123456789abcdef", "") === "")
        // first 8 hex chars are a uniform 32-bit value; v*4096 < 2^44,
        // shiftright 32 = DIV 2^32 — equi-depth by construction
        when(
          validHex,
          shiftright(conv(prefix8, 16, 10).cast(LongType) * FineBuckets, 32).cast("int"))
      case _ =>
        // ONE column-pruned pre-aggregate: the count the sizing needs
        // rides the min/max scan the bucketer needs
        val mm = pts.agg(
          count(lit(1)),
          min(col("_ak").cast(LongType)), max(col("_ak").cast(LongType))).head()
        if (mm.getLong(0) == 0L)
          return pts.select(
            col("event_id"), col("ts_us"),
            lit(null).cast(LongType).as("wm_us"), lit(0).as("is_late"))
        // all-null keys leave the min/max agg NULL: raise the key
        // contract, not a bare NPE from getLong
        require(!mm.isNullAt(1) && !mm.isNullAt(2),
          "lateEventsBatch: arrival keys must be non-null (min/max of the numeric " +
            "arrival key aggregated to NULL — every key in the frame is NULL)")
        val lo = BigInt(mm.getLong(1))
        val span = BigInt(mm.getLong(2)) - lo + 1
        val per = ((span + FineBuckets - 1) / FineBuckets).max(1) // span/4096 fits a long
        if (span <= BigInt(Long.MaxValue))
          // lo rendered via a string cast, not a bare literal: a bare
          // -9223372036854775808L parses as unary minus over an
          // out-of-range positive literal and fails
          expr(s"CAST((CAST(_ak AS BIGINT) - CAST('$lo' AS BIGINT)) DIV ${per}L AS INT)")
        else // span overflows long subtraction: exact decimal(20,0) math
          expr(s"CAST((CAST(_ak AS DECIMAL(20,0)) - CAST('$lo' AS DECIMAL(20,0)))" +
            s" DIV CAST('$per' AS DECIMAL(20,0)) AS INT)")
    }
    val bucketed = pts.withColumn("_b", bucketExpr)
    // pass 1: map-side-combined per-bucket (count, max ts, min/max key)
    // — the ONLY exchange is <= 4096 pre-aggregated rows, and for the
    // hex path this is the ONLY driver action before the window pass
    // (the per-bucket counts replace the former count() scan)
    val bstatsRows = bucketed.groupBy(col("_b"))
      .agg(
        count(lit(1)).as("n"), max(col("ts_us")).as("m"),
        min(col("_ak")).as("lo"), max(col("_ak")).as("hi"))
      .collect()
    if (bstatsRows.isEmpty)
      return pts.select(
        col("event_id"), col("ts_us"),
        lit(null).cast(LongType).as("wm_us"), lit(0).as("is_late"))
    val bstats = bstatsRows
      .map { r =>
        // a NULL bucket means a null arrival key or a string key that
        // failed the fixed-width lowercase-hex validation — a contract
        // violation; fail with the reason, not an NPE
        require(!r.isNullAt(0), "lateEventsBatch: null bucket id — arrival keys must " +
          "be non-null, and string keys must be fixed-width lowercase hex of at " +
          "least 8 chars")
        (r.getInt(0), r.getLong(2), r.get(3), r.get(4))
      }
      .sortBy(_._1)
    val total = bstatsRows.map(_.getLong(1)).sum
    val width = math.max(
      session, math.min(math.ceil(total.toDouble / targetRows), FineBuckets.toDouble).toInt)
    val akType = pts.schema("_ak").dataType
    // contiguity guard: monotone bucketer => bucket ranges don't overlap
    bstats.sliding(2).foreach {
      case Array((pb, _, _, phi), (b, _, blo, _)) =>
        val ok = phi.asInstanceOf[Comparable[Any]].compareTo(blo) <= 0
        val hint =
          if (akType == StringType) "string arrival keys must be fixed-width lowercase hex"
          else s"the $akType uniform bucketer violated monotonicity (engine bug)"
        require(ok, s"lateEventsBatch bucketer broke arrival order: bucket $pb max key " +
          s"$phi > bucket $b min key $blo — $hint")
      case _ => ()
    }
    var acc = Long.MinValue
    val prefixes = bstats.map { case (b, m, _, _) =>
      val p = acc; acc = math.max(acc, m); (b, p)
    }
    val spark = events.sparkSession
    import spark.implicits._
    val prefDf = broadcast(prefixes.toSeq.toDF("_b", "_prefix"))
    val w = Window.partitionBy(col("_b")).orderBy(col("_ak"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // pass 2: the single full exchange; RangePartitioning(_b) satisfies
    // the window's clustering, so only a local sort follows. LEFT join:
    // every bucket has a prefix row by construction, and inner would
    // inject an isnotnull(_b) null-filter that recomputes the bucket
    // hash a second time in the scan stage.
    bucketed
      .repartitionByRange(width, col("_b"))
      .join(prefDf, Seq("_b"), "left")
      .withColumn(
        "_hi",
        greatest(coalesce(max(col("ts_us")).over(w), lit(Long.MinValue)), col("_prefix")))
      // sentinel -> NULL before any arithmetic: Long.MinValue - delay
      // would wrap and poison the comparison for the first arrival
      .withColumn("wm_us", when(col("_hi") =!= Long.MinValue, col("_hi") - delayUs))
      .select(
        col("event_id"),
        col("ts_us"),
        col("wm_us"),
        coalesce((col("ts_us") < col("wm_us")).cast("int"), lit(0)).as("is_late"))
  }

  /** Watermarked tumbling-window counts per event type (streaming). */
  def windowedCountsStream(events: DataFrame, watermark: String, windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"),
        col("n"),
        col("sum_value"))

  /** Batch analog of the tumbling window (hour buckets). */
  def windowedCountsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"),
        col("n"),
        col("sum_value"))

  final case class RollingEvent(entity: Long, value: Double, ts: Timestamp, etype: String)
  final case class RollingOut(
      entity: Long, ts_us: Long, label: Double,
      n_1h: Long, sum_1h: Double, n_24h: Long, sum_24h: Double)
  final case class RollingState(feats: List[(Long, java.math.BigDecimal)])

  /** Streaming twin of FeatureStore.rollingFeatures (the Tecton-style
    * streaming window aggregate): per entity, keep the trailing-24h
    * feature events as keyed state and emit 1h/24h count+sum features
    * the moment a label event arrives — same point-in-time frames
    * (label_ts − W, label_ts − 1µs], so a feature AT the label instant
    * never leaks in (within a micro-batch, events sort by ts with
    * labels first among equal timestamps). Values accumulate as
    * 6dp-rounded BigDecimal — the exact arithmetic of the batch op's
    * DECIMAL(18,6) sums, so stream and batch agree bit-for-bit. State
    * per entity is O(events in the largest window): pruned against the
    * newest timestamp seen on every batch.
    */
  def rollingFeaturesStream(
      events: Dataset[RollingEvent],
      labelType: String,
      featureType: String
  ): Dataset[RollingOut] = {
    import events.sparkSession.implicits._
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    def dec(v: Double) =
      java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP)
    events
      .groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (entity: Long, batch: Iterator[RollingEvent], state: GroupState[RollingState]) =>
          var feats = state.getOption.map(_.feats).getOrElse(Nil)
          val out = List.newBuilder[RollingOut]
          // labels before features at the same instant = the batch
          // frame's exclusive upper bound
          val ordered = batch.toSeq.sortBy(e =>
            (e.ts.getTime * 1000, if (e.etype == featureType) 1 else 0))
          ordered.foreach { e =>
            val tsUs = e.ts.getTime * 1000
            if (e.etype == labelType) {
              def window(w: Long): (Long, Double) = {
                val in = feats.filter { case (t, _) => t > tsUs - w && t <= tsUs - 1 }
                (in.size.toLong,
                  in.foldLeft(java.math.BigDecimal.ZERO) { case (a, (_, v)) => a.add(v) }
                    .doubleValue)
              }
              val (n1, s1) = window(hourUs)
              val (n24, s24) = window(dayUs)
              out += RollingOut(entity, tsUs, e.value, n1, s1, n24, s24)
            } else if (e.etype == featureType) {
              feats = (tsUs, dec(e.value)) :: feats
            }
          }
          // prune state against the newest event seen
          val hi = ordered.lastOption.map(_.ts.getTime * 1000)
          hi.foreach(h => feats = feats.filter(_._1 > h - dayUs))
          state.update(RollingState(feats))
          out.result().iterator
      }
  }

  /** Stream-static enrichment: each event joins its dimension row at
    * PROCESSING time (the dimension is re-resolved per micro-batch, so
    * a dim update is visible to the next batch — exactly Structured
    * Streaming's stream-static join contract). Left join: events
    * without a dim row flow through with NULLs instead of being
    * dropped. The dimension is broadcast — no stream-side shuffle, the
    * hot path stays one stage per micro-batch.
    */
  def enrichStream(
      stream: DataFrame,
      dim: DataFrame,
      keyCol: String,
      dimKeyCol: String
  ): DataFrame =
    stream.join(broadcast(dim), stream(keyCol) === dim(dimKeyCol), "left")

  /** Batch analog of [[enrichStream]], profiled per dimension group so
    * the join (incl. dim misses, surfaced under the NULL group) is
    * oracle-checkable.
    */
  def enrichBatch(
      events: DataFrame,
      dim: DataFrame,
      keyCol: String,
      dimKeyCol: String,
      groupCol: String
  ): DataFrame =
    enrichStream(events, dim, keyCol, dimKeyCol)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col(keyCol)).as("n_entities"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))

  /** Streaming MultiSet: the reference's client-STREAMING write RPC
    * (reference: embeddinghub/embeddingstore/embedding_store.proto:15
    * `rpc MultiSet(stream MultiSetRequest)`; server.cc applies each
    * request as an upsert) as a Structured Streaming sink. Each
    * micro-batch of set-requests is collapsed to one row per key
    * (last writer within the batch by `seqCol`, the stream's arrival
    * order), merged into the space with the same anti-join upsert the
    * batch path uses, and frozen as a new immutable Spaces version —
    * readers pin a consistent snapshot while the stream advances, and
    * the "state" is the durable space itself, not executor memory, so
    * the sink restarts cleanly and scales with the space, not the
    * stream history. One version per non-empty micro-batch is the
    * natural snapshot cadence; compact by re-freezing if a slow reader
    * needs fewer versions.
    */
  /** A funnel-stage event: `stage` is the 0-based index into the
    * caller's ordered stage list (resolve event_type -> index before
    * calling; non-funnel events are simply absent).
    */
  final case class FunnelEvent(user: Long, stage: Int, ts: Timestamp)

  /** Per-user funnel progress: highest stage reached (0-based) and the
    * event time that reached it.
    */
  final case class FunnelProgress(user: Long, reached: Int, ts: Timestamp)

  /** Streaming conversion funnel — the stream-side analog of
    * Analytics.funnel: per user, advance to stage k only on a stage-k
    * event strictly AFTER the time stage k-1 was reached. State is
    * O(1) per user (current stage + its timestamp); each micro-batch
    * emits the updated progress row for every touched user.
    *
    * Within a micro-batch events are applied in (ts, stage) order;
    * under in-order delivery (ts nondecreasing across batches — the
    * contract the parity spec exercises) the greedy advance equals the
    * batch funnel's per-stage min-aggregate fixpoint: once stage k is
    * reached at time t_k, the first later stage-(k+1) event IS that
    * stage's earliest qualifying event.
    */
  def funnelStream(
      events: Dataset[FunnelEvent],
      nStages: Int
  ): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user)
      .mapGroupsWithState[FunnelProgress, FunnelProgress](GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[FunnelProgress]) =>
          var cur = state.getOption.getOrElse(FunnelProgress(user, -1, new Timestamp(0L)))
          rows.toSeq.sortBy(e => (e.ts.getTime, e.stage)).foreach { e =>
            val advances = e.stage == cur.reached + 1 && e.stage < nStages &&
              (cur.reached == -1 || e.ts.getTime > cur.ts.getTime)
            if (advances) cur = FunnelProgress(user, e.stage, e.ts)
          }
          state.update(cur)
          cur
      }
  }

  final case class TypedStep(user_id: Long, event_type: String, ts: Timestamp, event_id: Long)
  final case class Transition(user_id: Long, prev_type: String, next_type: String)

  /** Streaming event-transition feed — the streaming counterpart of
    * Analytics.eventTransitions: for each user, emit a (prev, next)
    * step whenever an event arrives that is event-time LATER than the
    * user's last-seen event. State per user is O(1) (the latest step);
    * within a micro-batch, events apply in event-time order, so
    * in-order delivery reproduces the batch matrix exactly; an event
    * older than the current state cannot form a forward step and is
    * dropped (the same monotonic-late rule as streamingTrainingSet —
    * out-of-order history rewrites need the batch operator).
    * Aggregate downstream (`groupBy(prev, next).count`) for the live
    * Sankey counts.
    */
  def transitionsStream(events: Dataset[TypedStep]): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      // state tuple: (last ts millis, last event_id, last event_type)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) { (user, rows, state) =>
        val ordered = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        val out = scala.collection.mutable.ListBuffer.empty[Transition]
        var last = state.getOption
        ordered.foreach { e =>
          last match {
            case Some((pTs, pId, pType))
                if e.ts.getTime > pTs || (e.ts.getTime == pTs && e.event_id > pId) =>
              out += Transition(user, pType, e.event_type)
              last = Some((e.ts.getTime, e.event_id, e.event_type))
            case None =>
              last = Some((e.ts.getTime, e.event_id, e.event_type))
            case _ => () // older than state: no forward step
          }
        }
        last.foreach(state.update)
        out.iterator
      }
  }

  /** Streaming ANN serving: query vectors arrive as a stream and are
    * answered against a STATIC corpus (the frozen index snapshot) —
    * the online-serving half of the batch kNN path. The corpus is
    * broadcast once into the stream-static join (no shuffle of the
    * stream); scoring is the native cosine kernel; the bounded-heap
    * top-k aggregate keys state by query_id (O(k) per query seen, and
    * a re-submitted query refines in place — Update mode). Per-batch
    * output equals the batch [[graft.operators.Similarity.knnBruteForce]]
    * over the same queries: spec-certified in StreamingSpec.
    *
    * `queries`: streaming (query_id, q_vec). `corpus`: static
    * (neighbor_id, n_vec).
    */
  def knnServeStream(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val joined = queries
      .join(broadcast(corpus), col("query_id") =!= col("neighbor_id"))
      .withColumn(
        "sim",
        graft.functions.VectorFunctions.cosine(col("q_vec"), col("n_vec")))
    graft.operators.Similarity.topKPerGroup(joined, "query_id", "sim", "neighbor_id", k)
  }

  final case class ScoredCandidate(query_id: Long, doc_id: Long, score: Double)
  final case class RankedDoc(query_id: Long, doc_id: Long, rank: Long, score: Double)

  /** Streaming top-k serving: maintain the current best-k candidates
    * per query as (query, doc, score) rows stream in — the live
    * retrieval leaderboard behind "serve the top results so far"
    * (e.g. candidates scored by an upstream model arriving
    * continuously). State per query is the bounded (score desc,
    * doc_id asc)-sorted list of at most k entries — O(k), never the
    * candidate history; a re-scored doc keeps its best score. Each
    * micro-batch emits the refreshed FULL top-k for the queries it
    * touched (Update-mode serving table: downstream keeps the latest
    * rows per query).
    *
    * Batch parity: draining any arrival order equals
    * [[topKServeBatch]] over the union of candidates —
    * spec-certified in StreamingSpec.
    */
  def topKServeStream(cands: Dataset[ScoredCandidate], k: Int): Dataset[RankedDoc] = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .groupByKey(_.query_id)
      // state: (doc_id, best score) entries, sorted best-first, size <= k
      .flatMapGroupsWithState[List[(Long, Double)], RankedDoc](
        OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { (qid, rows, state) =>
        val best = scala.collection.mutable.HashMap.empty[Long, Double]
        state.getOption.getOrElse(Nil).foreach { case (d, sc) => best(d) = sc }
        rows.foreach { c =>
          if (best.get(c.doc_id).forall(c.score > _)) best(c.doc_id) = c.score
        }
        val top = best.toSeq.sortBy { case (d, sc) => (-sc, d) }.take(k).toList
        state.update(top)
        top.iterator.zipWithIndex.map { case ((d, sc), i) =>
          RankedDoc(qid, d, i + 1L, sc)
        }
      }
  }

  /** Batch analog: best score per (query, doc), then the per-query
    * top-k rank window (partitioned on query_id — never global).
    */
  def topKServeBatch(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("score")).as("score"))
      .select(
        col("query_id"), col("doc_id"),
        row_number().over(w).cast("long").as("rank"), col("score"))
      .where(col("rank") <= k)
  }

  /** Streaming materialized aggregate — the streaming counterpart of
    * FeatureStore.mergeSumAggregate: each micro-batch's per-key
    * (decimal-sum, count) partials merge into the durable aggregate
    * table, frozen as a new immutable Spaces version per batch. Sink
    * state is the versioned table, not executor memory, so the
    * aggregate survives restarts and any reader can pin a version.
    * Mergeable partials make the result independent of how rows were
    * batched — the invariant the batch analog's oracle certifies.
    */
  def aggSink(
      rows: DataFrame,
      keyCol: String,
      valueCol: String,
      root: String,
      space: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val df = batch.toDF()
        if (!df.isEmpty) {
          val spark = df.sparkSession
          val delta = graft.operators.FeatureStore.sumAggregate(df, keyCol, valueCol)
          val merged =
            if (graft.sources.Spaces.versions(spark, root, space).nonEmpty) {
              val cur = graft.sources.Spaces.load(spark, root, space, None)
                .select(
                  col("entity"),
                  col("total_dec").cast("decimal(28,4)").as("total_dec"),
                  col("n"))
              cur.unionByName(
                delta.select(
                  col("entity"),
                  col("total_dec").cast("decimal(28,4)").as("total_dec"),
                  col("n")))
                .groupBy(col("entity"))
                .agg(
                  sum(col("total_dec")).cast("decimal(28,4)").as("total_dec"),
                  sum(col("n")).as("n"))
            } else {
              delta.select(
                col("entity"),
                col("total_dec").cast("decimal(28,4)").as("total_dec"),
                col("n"))
            }
          graft.sources.Spaces.freeze(merged, root, space)
          ()
        }
      }
      .start()

  def upsertSink(
      requests: DataFrame,
      keyCol: String,
      seqCol: String,
      root: String,
      space: String
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val dataCols = requests.columns.filterNot(c => c == keyCol || c == seqCol).toSeq
    requests.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val df = batch.toDF()
        if (!df.isEmpty) {
          val spark = df.sparkSession
          val latest = df
            .groupBy(col(keyCol))
            .agg(max_by(struct(dataCols.map(col): _*), col(seqCol)).as("r"))
            .select(col(keyCol) +: dataCols.map(c => col("r." + c).as(c)): _*)
          val cur =
            if (graft.sources.Spaces.versions(spark, root, space).nonEmpty)
              graft.sources.Spaces.load(spark, root, space, None)
            else latest.limit(0)
          graft.sources.Spaces.freeze(
            graft.operators.Similarity.upsert(cur, latest, keyCol), root, space)
          ()
        }
      }
      .start()
  }
}
