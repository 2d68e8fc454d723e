package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Analytics, Cardinality, Dedup, FeatureStore, Quantization, Similarity, TextAnalysis}
import graft.sources.Lakehouse

/** Seeded randomized invariants: each operator is checked against a
  * NAIVE reference implementation (or a structural invariant) on many
  * random inputs — the shapes hand-written examples miss (empty
  * groups, ties, single-row partitions, deltas that touch everything
  * or nothing). Seeds are fixed, so failures reproduce exactly.
  */
class InvariantsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  test("every native kernel family runs on a session with no graft function registered") {
    // newSession() shares the context but starts from the built-in
    // function registry: no graft_* name resolves there
    val fresh = GraftTestSession.spark.newSession()
    val vecs = fresh.createDataFrame(Seq(
      (1L, 1L, Seq(1.0, 0.0)), (2L, 1L, Seq(0.0, 1.0)), (3L, 2L, Seq(1.0, 1.0))))
      .toDF("id", "grp", "vec")
    val v = vecs.orderBy("id").select(
      VectorFunctions.cosine(col("vec"), col("vec")).as("c"),
      VectorFunctions.l2Sq(col("vec"), array(lit(0.0), lit(0.0))).as("d"),
      VectorFunctions.dotNative(col("vec"), col("vec")).as("p"),
      VectorFunctions.adc(array(col("vec")), array(lit(1))).as("a"))
      .collect()
    assert(v.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
    assert(v.map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq ==
      Seq((1.0, 1.0, 0.0), (1.0, 1.0, 1.0), (2.0, 2.0, 1.0)))
    val top = Similarity.topKPerGroup(
      vecs.withColumn("s", col("vec")(0)), "grp", "s", "id", 1).collect()
    assert(top.map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 2L -> 3L))
    val events = fresh.createDataFrame(Seq(("x", 1), ("x", 2), ("y", 2))).toDF("seg", "user")
    assert(Cardinality.audienceOverlapKmv(events, "seg", "user", 4).collect().nonEmpty)
    val docs = fresh.createDataFrame(Seq(
      (1L, "a b c d e f", "s1", "b"), (2L, "a b c d e f", "s2", "b"), (3L, "z y x w", "s1", "b")))
      .toDF("doc_id", "text", "source", "blk")
    assert(Dedup.bandedSketch(docs, "doc_id", "text").collect().nonEmpty)
    assert(docs.select(Dedup.simhashNative(col("text"))).collect().forall(!_.isNullAt(0)))
    assert(Dedup.corpusOverlap(docs, "source", "text").collect().nonEmpty)
    assert(Dedup.containmentPairs(docs, "doc_id", "text", "blk", 0.5).collect().nonEmpty)
    val pairs = fresh.createDataFrame(Seq((0L, 0L), (1L, 2L))).toDF("a", "b")
    assert(pairs.where(TextFunctions.pairSampleMatch(col("a"), col("b"))).collect().length <= 2)
    assert(vecs.select(Quantization.randomProjectionNative(col("vec"), 2, 3))
      .collect().forall(_.getSeq[Double](0).length == 3))
    val rotated = Quantization.rotate(vecs, "id", "vec", Seq(Seq(0.0, 1.0), Seq(1.0, 0.0)))
      .orderBy("vec_id").collect().map(_.getSeq[Double](1))
    assert(rotated.toSeq == Seq(Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(1.0, 1.0)))
    Seq(graft.plans.GraftFunctions.CosineName, graft.plans.GraftFunctions.TopKName)
      .foreach(name => assert(!fresh.catalog.functionExists(name), name))
  }

  test("no JVM-wide memo in the main sources: nothing timed outlives drain()") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val memo = """ConcurrentHashMap|computeIfAbsent|TrieMap|@volatile\s+var""".r
    val walk = Files.walk(root)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if memo.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      } finally walk.close()
    assert(hits.isEmpty, s"JVM-wide memo state in main sources:\n${hits.mkString("\n")}")
  }

  test("seqPack invariant: random corpora always pack into a gapless stream cover") {
    val rnd = new Random(42)
    for (trial <- 1 to 5) {
      val nDocs = 1 + rnd.nextInt(40)
      val docs = (1L to nDocs).map { i =>
        // 1..12 single-char words; split(" ") counts exactly these
        (i * 3 + trial, Seq.fill(1 + rnd.nextInt(12))("w").mkString(" "))
      }
      val cap = 1 + rnd.nextInt(9)
      val out = TextAnalysis
        .seqPack(docs.toDF("doc_id", "text").repartition(1 + rnd.nextInt(5)),
          "doc_id", "text", cap.toLong)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("stream_offset"), r.getAs[Long]("pack_first"),
          r.getAs[Long]("pack_last")))
        .sortBy(_._3)
      // reference: cumulative offsets in doc_id order
      val expected = docs.sortBy(_._1).map(d => d._2.split(" ").length.toLong)
      var off = 0L
      out.zip(docs.sortBy(_._1)).zip(expected).foreach {
        case (((id, n, so, pf, pl), (refId, _)), refN) =>
          assert(id == refId && n == refN && so == off, s"trial $trial doc $id")
          assert(pf == so / cap && pl == (so + n - 1) / cap)
          off += n
      }
    }
  }

  test("lakehouse merge invariant: random deltas equal the naive anti-join union") {
    TempDirs.withTempDir("graft_inv_merge") { root =>
      val rnd = new Random(7)
      for (trial <- 1 to 4) {
        val t = s"t$trial"
        val base = (1L to (20 + rnd.nextInt(60)))
          .map(k => (k, rnd.nextInt(1000).toLong)).toMap
        Lakehouse.commitClustered(
          base.toSeq.toDF("k", "v"), root, t, "overwrite", "k", 1 + rnd.nextInt(6))
        // delta: random updates / inserts / deletes over a random key range
        val delta = (1 to 10 + rnd.nextInt(20)).map { _ =>
          val k = 1L + rnd.nextInt(120) // some miss the table entirely
          (k, rnd.nextInt(1000).toLong, rnd.nextInt(4) == 0) // 25% deletes
        }.groupBy(_._1).map(_._2.head).toSeq // unique source keys
        Lakehouse.merge(
          spark, root, t, delta.toDF("k", "v", "del"), "k",
          deleteWhen = Some(col("del")))
        val got = Lakehouse.read(spark, root, t)
          .select($"k", $"v").as[(Long, Long)].collect().toMap
        // naive reference
        val deltaMap = delta.map(d => d._1 -> d).toMap
        val want = (base -- deltaMap.keys) ++
          deltaMap.collect { case (k, (_, v, del)) if !del => k -> v }
        assert(got == want, s"trial $trial")
      }
    }
  }

  test("rfm ntile formula matches Spark's own ntile on random sizes") {
    val rnd = new Random(11)
    for (trial <- 1 to 5) {
      val n = 4 + rnd.nextInt(60)
      // one purchase per user; metrics strictly increase with entity so
      // every quartile column must equal ntile(4) over entity order
      val events = (1L to n).map(u =>
        (u, "purchase", u.toDouble,
          new java.sql.Timestamp(1700000000000L + u * 60000))).toSeq
        .toDF("user_id", "event_type", "value", "ts")
      val got = Analytics
        .rfmSegments(events, "user_id", "event_type", "ts", "value", "purchase")
        .collect().map(r => r.getAs[Long]("entity") -> r.getAs[Long]("m_score")).toMap
      val want = events
        .select(col("user_id"),
          ntile(4).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("user_id")))
            .cast("long").as("q"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial n=$n")
    }
  }

  test("cdcApply invariant: random changelogs equal sequential replay") {
    val rnd = new Random(23)
    for (trial <- 1 to 4) {
      val entities = 1L to (3 + rnd.nextInt(8))
      val snap = entities.flatMap { e =>
        if (rnd.nextBoolean()) Some((e, rnd.nextInt(100).toDouble, rnd.nextInt(50).toLong))
        else None
      }.toSeq
      val changes = (1 to 15 + rnd.nextInt(20)).map { i =>
        val op = rnd.nextInt(3) match {
          case 0 => "I"; case 1 => "U"; case _ => "D"
        }
        (op, entities(rnd.nextInt(entities.size)),
          rnd.nextInt(100).toDouble, (50 + rnd.nextInt(100)).toLong, i.toLong)
      }
      val got = FeatureStore
        .cdcApply(
          snap.toDF("entity", "value", "ts_us"),
          changes.toDF("op", "entity", "value", "ts_us", "seq"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // reference: per entity, the (ts, seq)-max change wins over the
      // snapshot; a winning D deletes
      val want = entities.flatMap { e =>
        val chg = changes.filter(_._2 == e).sortBy(c => (c._4, c._5)).lastOption
        val snapRow = snap.find(_._1 == e)
        chg match {
          case Some((op, _, v, _, _)) => if (op == "D") None else Some(e -> v)
          case None => snapRow.map(s => e -> s._2)
        }
      }.toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("rollingFeatures invariant: random event streams equal the quadratic reference") {
    val rnd = new Random(57)
    for (trial <- 1 to 4) {
      val evs = (1 to 40 + rnd.nextInt(60)).map { i =>
        val entity = 1L + rnd.nextInt(5)
        val tsUs = 1700000000000000L + rnd.nextInt(200000) * 1000000L
        val etype = if (rnd.nextInt(3) == 0) "purchase" else "click"
        // values as exact small decimals so DECIMAL(18,6) sums are
        // representable doubles
        (entity, rnd.nextInt(1000) / 4.0, new java.sql.Timestamp(tsUs / 1000), i.toLong, etype)
      }
      val out = FeatureStore
        .rollingFeatures(
          evs.toDF("user_id", "value", "ts", "event_id", "event_type")
            .repartition(1 + rnd.nextInt(5)),
          "user_id", "ts", "event_type", "value", "purchase", "click",
          Seq("1h" -> 3600000000L))
        .collect()
        .map(r => (r.getAs[Long]("entity"), r.getAs[Long]("ts_us")) ->
          ((r.getAs[Long]("n_1h"), r.getAs[Double]("sum_1h"))))
        .toMap
      // quadratic reference over the raw rows
      evs.filter(_._5 == "purchase").foreach { case (e, _, ts, _, _) =>
        val t = ts.getTime * 1000
        val in = evs.filter(x => x._1 == e && x._5 == "click")
          .map(x => (x._3.getTime * 1000, x._2))
          .filter { case (ct, _) => ct > t - 3600000000L && ct <= t - 1 }
        val want = (in.size.toLong, in.map(_._2).sum)
        assert(out((e, t)) == want, s"trial $trial entity $e ts $t")
      }
    }
  }

  test("temperatureSample invariant: budget respected and layout-independent") {
    import graft.operators.Sampling
    val rnd = new Random(71)
    for (trial <- 1 to 3) {
      val docs = (1L to 200L + rnd.nextInt(300))
        .map(i => (i, s"src${rnd.nextInt(6)}")).toSeq
      val budget = 50L + rnd.nextInt(100)
      def run(parts: Int) = Sampling
        .temperatureSample(
          docs.toDF("doc_id", "source").repartition(parts),
          "source", "doc_id", budget, seed = trial.toLong)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"))).toSet
      val a = run(1)
      val b = run(7)
      assert(a == b, s"trial $trial: selection depends on layout")
      assert(a.size <= budget, s"trial $trial: budget exceeded")
      // per-group: never more than the group has
      val bySrc = docs.groupBy(_._2).view.mapValues(_.size).toMap
      val selBySrc = a.map(_._1).groupBy(id => docs(id.toInt - 1)._2)
      selBySrc.foreach { case (s, ids) =>
        assert(ids.size <= bySrc(s), s"trial $trial source $s over-selected")
      }
    }
  }

  test("globalRowNumbers invariant: any layout, any order cols -> dense 1..n ranks") {
    val rnd = new Random(31)
    for (trial <- 1 to 4) {
      val n = 1 + rnd.nextInt(200)
      val rows = (1 to n).map(i => (rnd.nextInt(20).toLong, i.toLong))
      val out = FeatureStore
        .globalRowNumbers(
          rows.toDF("g", "id").repartition(1 + rnd.nextInt(7)), Seq("g", "id"))
        .collect()
        .map(r => (r.getAs[Long]("row_number"), r.getAs[Long]("g"), r.getAs[Long]("id")))
        .sortBy(_._1)
      assert(out.map(_._1).toSeq == (1L to n), s"trial $trial dense ranks")
      assert(out.map(t => (t._2, t._3)).toSeq == rows.sortBy(identity), s"trial $trial order")
    }
  }

  test("timeSplit invariant: matches the naive sort-and-cut on random logs") {
    val rnd = new Random(271)
    for (trial <- 1 to 5) {
      val n = 2 + rnd.nextInt(60)
      // ts values with deliberate collisions (mod 7) so the id tiebreak matters
      val rows = (1L to n).map(i => (i, (rnd.nextInt(7) * 3600L).toString))
      val df = rows.toDF("event_id", "secs")
        .select(col("event_id"),
          (col("secs").cast("long").cast("timestamp")).as("ts"))
        .repartition(1 + rnd.nextInt(5))
      val frac = 0.1 + rnd.nextDouble() * 0.8
      val out = FeatureStore.timeSplit(df, Seq("ts", "event_id"), frac)
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[String]("split")).toMap
      val cut = math.floor(frac * n).toLong
      val naive = rows.sortBy { case (id, s) => (s.toLong, id) }
        .zipWithIndex
        .map { case ((id, _), idx) => id -> (if (idx < cut) "train" else "test") }
        .toMap
      assert(out == naive, s"trial $trial n=$n frac=$frac")
    }
  }

  test("binFeatures invariant: freq bins match naive NTILE; width bins within range") {
    val rnd = new Random(272)
    for (trial <- 1 to 5) {
      val n = 1 + rnd.nextInt(50)
      val k = 1 + rnd.nextInt(6)
      // heavy ties: values drawn from a tiny support
      val rows = (1L to n).map(i => (i, "g", rnd.nextInt(5).toDouble))
      val out = FeatureStore
        .binFeatures(rows.toDF("event_id", "event_type", "value")
          .repartition(1 + rnd.nextInt(4)), "event_id", "event_type", "value", k)
        .collect()
        .map(r => r.getAs[Long]("event_id") -> ((r.getAs[Long]("width_bin"), r.getAs[Long]("freq_bin"))))
        .toMap
      // naive NTILE: first (n mod k) buckets get ceil(n/k) rows
      val sorted = rows.sortBy { case (id, _, v) => (v, id) }
      val q = n / k; val r0 = n % k
      val naive = sorted.zipWithIndex.map { case ((id, _, _), idx) =>
        val b = if (idx < r0 * (q + 1)) idx / (q + 1) + 1 else r0 + (idx - r0 * (q + 1)) / q + 1
        id -> b.toLong
      }.toMap
      out.foreach { case (id, (wb, fb)) =>
        assert(fb == naive(id), s"trial $trial id=$id k=$k")
        assert(wb >= 0 && wb < k, s"trial $trial width bin range")
      }
    }
  }

  test("multiTouchCredits invariant: conservation and naive window counts on random logs") {
    val rnd = new Random(273)
    for (trial <- 1 to 4) {
      val n = 5 + rnd.nextInt(50)
      val types = Seq("click", "view", "purchase")
      val rows = (1L to n).map { i =>
        (1L + rnd.nextInt(3), types(rnd.nextInt(3)), rnd.nextInt(1000).toLong, // seconds
          math.round(rnd.nextDouble() * 10000) / 100.0)
      }.zipWithIndex.map { case ((u, t, s, v), i) => (u, t, s, v, i.toLong) }
      val df = rows.toDF("user_id", "event_type", "secs", "value", "id")
        .select(col("user_id"), col("event_type"),
          col("secs").cast("timestamp").as("ts"), col("value"))
        .repartition(1 + rnd.nextInt(4))
      val winMin = 1L + rnd.nextInt(10)
      val out = Analytics.multiTouchCredits(
        df, "user_id", "event_type", "ts", "value", "purchase",
        Seq("click", "view"), winMin).collect()
      out.foreach { r =>
        val vm = r.getAs[Long]("value_micro")
        val sum = r.getAs[Long]("credit_click_micro") +
          r.getAs[Long]("credit_view_micro") + r.getAs[Long]("remainder_micro")
        assert(sum == vm, s"trial $trial conservation")
      }
      // naive per-conversion counts (strict (ts-W, ts) frame, value-based)
      val wUs = winMin * 60L * 1000000L
      val naive = rows.filter(_._2 == "purchase").map { case (u, _, s, _, id) =>
        val tsUs = s * 1000000L
        def cnt(t: String) = rows.count { case (u2, t2, s2, _, _) =>
          u2 == u && t2 == t && s2 * 1000000L >= tsUs - wUs && s2 * 1000000L <= tsUs - 1
        }.toLong
        (u, tsUs, cnt("click"), cnt("view"))
      }.groupBy(x => (x._1, x._2)).map { case (k, v) => k -> (v.head._3, v.head._4) }
      out.foreach { r =>
        val key = (r.getAs[Long]("entity"), r.getAs[Long]("ts_us"))
        assert((r.getAs[Long]("n_click"), r.getAs[Long]("n_view")) == naive(key),
          s"trial $trial counts at $key")
      }
    }
  }

  test("lateEventsBatch invariant: matches the naive running-max replay on random arrivals") {
    val rnd = new Random(274)
    for (trial <- 1 to 5) {
      val n = 2 + rnd.nextInt(60)
      val rows = (1L to n).map(i => (i, rnd.nextInt(100000).toLong, rnd.nextLong()))
      val df = rows.toDF("event_id", "secs", "arrival")
        .select(col("event_id"), col("secs").cast("timestamp").as("ts"), col("arrival"))
        .repartition(1 + rnd.nextInt(5))
      val delay = 1L + rnd.nextInt(60)
      val out = graft.streaming.StreamingFeatures
        .lateEventsBatch(df, "event_id", "ts", "arrival", delay)
        .collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("is_late")).toMap
      var hi = Long.MinValue
      val naive = rows.sortBy(_._3).map { case (id, s, _) =>
        val tsUs = s * 1000000L
        val late = if (hi == Long.MinValue) 0 else if (tsUs < hi - delay * 60000000L) 1 else 0
        hi = math.max(hi, tsUs)
        id -> late
      }.toMap
      assert(out == naive, s"trial $trial n=$n delay=$delay")
    }
  }

  test("KmvSketch invariant: k smallest DISTINCT hashes under any partitioning; exact when small") {
    val rnd = new Random(275)
    for (trial <- 1 to 5) {
      val n = 1 + rnd.nextInt(80)
      val k = 1 + rnd.nextInt(12)
      // heavy duplication: items from a small support
      val rows = (1L to n).map(_ => ("g", rnd.nextInt(30).toLong))
      val out = rows.toDF("g", "item")
        .repartition(1 + rnd.nextInt(6))
        .groupBy(col("g"))
        .agg(org.apache.spark.sql.functions.call_function(
          "graft_kmv",
          graft.functions.TextFunctions.md5Long60(col("item").cast("string")),
          lit(k)).as("sk"))
        .collect().head.getSeq[Long](1)
      val naiveAll = rows.map(_._2).distinct
        .map(v => md5Long60Local(v.toString)).sorted
      assert(out == naiveAll.take(k), s"trial $trial n=$n k=$k")
      if (naiveAll.size < k) assert(out.size == naiveAll.size) // exact below k
    }
  }

  private def md5Long60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(d.take(15), 16)
  }

  test("globalRunningSum invariant: any layout -> the sequential cumulative sum") {
    val rnd = new Random(419)
    for (trial <- 1 to 5) {
      val n = 1 + rnd.nextInt(60)
      val rows = (1L to n).map(i => (i, rnd.nextInt(1000).toLong - 200L))
      val (out, total, sum) = FeatureStore.globalRunningSumWithTotals(
        rows.toDF("k", "v").repartition(1 + rnd.nextInt(6)), Seq("k"), "v")
      val got = out.collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("row_number"), r.getAs[Long]("running_sum")))
        .sortBy(_._1)
      var acc = 0L
      rows.zip(got).zipWithIndex.foreach { case (((k, v), (gk, grn, grs)), i) =>
        acc += v
        assert(gk == k && grn == i + 1 && grs == acc, s"trial $trial row $k")
      }
      assert(total == n && sum == rows.map(_._2).sum)
    }
  }

  test("concurrencyPeak invariant: equals the naive per-start-instant overlap count") {
    val rnd = new Random(91)
    for (trial <- 1 to 4) {
      val nUsers = 2 + rnd.nextInt(6)
      val base = 1704067200000000L // 2024-01-01 UTC in micros
      val ev = (1 to 40 + rnd.nextInt(60)).map { i =>
        val uid = 1L + rnd.nextInt(nUsers)
        // spread over ~3 days so sessions split at midnights sometimes
        val tsUs = base + math.abs(rnd.nextLong()) % (3L * 86400000000L)
        (i.toLong, uid, new java.sql.Timestamp(tsUs / 1000))
      }
      val df = ev.toDF("event_id", "user_id", "ts")
        .repartition(1 + rnd.nextInt(5))
      val out = Analytics.concurrencyPeak(df, 30).collect()
        .map(r => r.getAs[Long]("day_us") -> r.getAs[Long]("peak")).toMap
      // naive: rebuild sessions sequentially, split by day, then for
      // each day the peak is the max over SESSION-START instants of
      // how many intervals cover that instant (closed intervals)
      val gap = 30L * 60 * 1000000
      val sessions = ev.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        val ts = rows.map(r => r._3.getTime * 1000).sorted
        val bounds = scala.collection.mutable.ListBuffer[(Long, Long)]()
        var s = ts.head; var e = ts.head
        ts.tail.foreach { t =>
          if (t - e > gap) { bounds += ((s, e)); s = t }
          e = t
        }
        bounds += ((s, e))
        bounds.toSeq
      }
      val dayUs = 86400000000L
      val split = sessions.flatMap { case (s, e) =>
        (s / dayUs to e / dayUs).map { d =>
          (d * dayUs, math.max(s, d * dayUs), math.min(e, (d + 1) * dayUs - 1))
        }
      }
      val naive = split.groupBy(_._1).map { case (day, ivs) =>
        day -> ivs.map { case (_, st, _) =>
          ivs.count { case (_, s2, e2) => s2 <= st && st <= e2 }
        }.max.toLong
      }
      assert(out == naive, s"trial $trial")
    }
  }

  test("ewmaTrailing invariant: equals the naive per-row weighted loop on random streams") {
    val rnd = new Random(133)
    for (trial <- 1 to 4) {
      val ev = (1 to 30 + rnd.nextInt(50)).map { i =>
        (i.toLong, 1L + rnd.nextInt(4),
          new java.sql.Timestamp(1704067200000L + rnd.nextInt(100000) * 1000L),
          rnd.nextInt(50000) / 100.0)
      }
      val nLags = 1 + rnd.nextInt(8)
      val out = Analytics.ewmaTrailing(
        ev.toDF("event_id", "user_id", "ts", "value")
          .repartition(1 + rnd.nextInt(5)),
        "user_id", "ts", "event_id", "value", nLags)
        .collect().map(r => r.getAs[Long]("tiebreak") -> r.getAs[Long]("ewma_micro")).toMap
      val naive = ev.groupBy(_._2).values.flatMap { rows =>
        val ordered = rows.sortBy(r => (r._3.getTime, r._1))
        ordered.zipWithIndex.map { case (r, idx) =>
          val lags = (0 until nLags).flatMap { k =>
            if (idx - k >= 0)
              Some((1L << (nLags - 1 - k)) *
                math.floor(ordered(idx - k)._4 * 1e6).toLong -> (1L << (nLags - 1 - k)))
            else None
          }
          r._1 -> lags.map(_._1).sum / lags.map(_._2).sum
        }
      }.toMap
      assert(out == naive, s"trial $trial nLags=$nLags")
    }
  }

  test("ngramSpanDedup invariant: flagged spans = naive substring-occurrence scan") {
    val rnd = new Random(57)
    for (trial <- 1 to 4) {
      val k = 3 + rnd.nextInt(3)
      // small vocab forces cross-doc and self repeats
      val docs = (1L to (4 + rnd.nextInt(5))).map { id =>
        (id, Seq.fill(k + rnd.nextInt(25))("t" + rnd.nextInt(6)).mkString(" "))
      }
      val out = graft.operators.Dedup
        .ngramSpanDedup(docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
          r.getAs[Long]("span_end"), r.getAs[Long]("n_grams")))
        .toSet
      // naive: count every k-gram occurrence corpus-wide, mark
      // positions with count >= 2, merge overlapping (gap <= k-1)
      val grams = docs.flatMap { case (id, text) =>
        val tk = text.split(" ")
        (0 to tk.length - k).map(i => (id, i, tk.slice(i, i + k).mkString(" ")))
      }
      val counts = grams.groupBy(_._3).map { case (g, occ) => g -> occ.size }
      val naive = grams.filter(g => counts(g._3) >= 2)
        .groupBy(_._1).flatMap { case (id, occ) =>
          val ps = occ.map(_._2).sorted
          val runs = scala.collection.mutable.ListBuffer[List[Int]]()
          ps.foreach { p =>
            if (runs.nonEmpty && p - runs.last.last <= k - 1)
              runs(runs.length - 1) = runs.last :+ p
            else runs += List(p)
          }
          runs.map(r =>
            (id, r.head.toLong, (r.last + k - 1).toLong, r.size.toLong))
        }.toSet
      assert(out == naive, s"trial $trial k=$k")
    }
  }

  test("kcorePeel invariant: matches the naive synchronized peel on random graphs") {
    val rnd = new Random(203)
    for (trial <- 1 to 4) {
      val nNodes = 6 + rnd.nextInt(12)
      val edges = (1 to 15 + rnd.nextInt(40)).map { _ =>
        (1L + rnd.nextInt(nNodes), 1L + rnd.nextInt(nNodes))
      }.distinct
      val k = 2 + rnd.nextInt(3)
      val rounds = 1 + rnd.nextInt(3)
      val out = graft.operators.Graph
        .kcorePeel(edges.toDF("src", "dst"), k, rounds)
        .collect()
        .map(r => r.getAs[Long]("node_id") -> r.getAs[Long]("core_degree")).toMap
      // naive synchronized peel
      val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct
      def degrees(es: Seq[(Long, Long)]): Map[Long, Long] =
        es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .map { case (id, xs) => id -> xs.size.toLong }
      var sub = und
      var deg = degrees(sub).filter(_._2 >= k)
      for (_ <- 2 to rounds) {
        val alive = deg.keySet
        sub = sub.filter(e => alive(e._1) && alive(e._2))
        deg = degrees(sub).filter(_._2 >= k)
      }
      assert(out == deg, s"trial $trial k=$k rounds=$rounds")
    }
  }

  test("linkPrediction invariant: matches naive neighborhood intersection on random graphs") {
    val rnd = new Random(311)
    for (trial <- 1 to 4) {
      val nNodes = 5 + rnd.nextInt(10)
      val edges = (1 to 10 + rnd.nextInt(30)).map { _ =>
        (1L + rnd.nextInt(nNodes), 1L + rnd.nextInt(nNodes))
      }
      val out = graft.operators.Graph
        .linkPrediction(edges.toDF("src", "dst"), minCommon = 1)
        .collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
          ((r.getAs[Long]("common"), r.getAs[Long]("jaccard_micro")))).toMap
      val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct.toSet
      val nbrs = und.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
      val ids = nbrs.keys.toSeq.sorted
      val naive = (for {
        a <- ids; b <- ids if a < b && !und((a, b))
        cn = (nbrs(a) & nbrs(b)).size if cn >= 1
      } yield (a, b) ->
        ((cn.toLong, cn.toLong * 1000000L / (nbrs(a).size + nbrs(b).size - cn)))).toMap
      assert(out == naive, s"trial $trial")
    }
  }

  test("vocabEncode invariant: matches naive count/sort/index on random multisets") {
    val rnd = new Random(421)
    for (trial <- 1 to 5) {
      val cats = ('a' to ('a' + 3 + rnd.nextInt(8)).toChar).map(_.toString)
      val rows = (1L to (10 + rnd.nextInt(60)))
        .map(i => (i, cats(rnd.nextInt(cats.size))))
      val floor = 1L + rnd.nextInt(4)
      val out = FeatureStore
        .vocabEncode(
          rows.toDF("id", "cat").repartition(1 + rnd.nextInt(4)), "id", "cat", floor)
        .collect()
        .map(r => r.getAs[Long]("entity") -> r.getAs[Long]("idx")).toMap
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val vocab = counts.toSeq.filter(_._2 >= floor)
        .sortBy { case (v, c) => (-c, v) }
        .zipWithIndex.map { case ((v, _), i) => v -> i.toLong }.toMap
      val naive = rows.map { case (id, c) => id -> vocab.getOrElse(c, -1L) }.toMap
      assert(out == naive, s"trial $trial floor=$floor")
    }
  }

  test("negativeSample invariant: full naive replay of propose/filter/dedup/truncate") {
    val rnd = new Random(97)
    def h15(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    for (trial <- 1 to 4) {
      val nUsers = 2 + rnd.nextInt(6)
      val nItems = 4 + rnd.nextInt(12)
      val users = (1L to nUsers).map(Tuple1(_))
      // GAPPED, non-zero-based key space: draws go through the dense
      // index, so the naive replay maps idx -> sorted key (and every
      // emitted negative is a real catalog item by construction)
      val itemKeys = rnd.shuffle((0L to 60L).toList).take(nItems)
      val sortedKeys = itemKeys.sorted.toIndexedSeq
      val items = itemKeys.map(Tuple1(_))
      val inter = (1 to 5 + rnd.nextInt(25))
        .map(_ => (1L + rnd.nextInt(nUsers), sortedKeys(rnd.nextInt(nItems)))).distinct
      val (proposals, k, seed) = (4 + rnd.nextInt(12), 1 + rnd.nextInt(4), s"s$trial")
      val out = FeatureStore
        .negativeSample(
          users.toDF("u"), "u", inter.toDF("u", "i"), "u", "i",
          items.toDF("item_id"), "item_id", proposals, k, seed)
        .collect()
        .map(r => (r.getAs[Long]("user"), r.getAs[Long]("item"), r.getAs[Long]("slot")))
        .toSet
      val pos = inter.toSet
      val naive = (1L to nUsers).flatMap { u =>
        (0L until proposals.toLong)
          .map(slot => (sortedKeys((h15(s"$seed:$u:$slot") % nItems).toInt), slot))
          .filterNot { case (item, _) => pos((u, item)) }
          .groupBy(_._1).map { case (item, xs) => (item, xs.map(_._2).min) }
          .toSeq.sortBy { case (item, slot) => (slot, item) }
          .take(k)
          .map { case (item, slot) => (u, item, slot) }
      }.toSet
      assert(out == naive, s"trial $trial p=$proposals k=$k")
      assert(out.forall { case (_, item, _) => sortedKeys.contains(item) },
        s"trial $trial emitted a phantom item")
    }
  }

  test("labelHorizon invariant: matches the naive quadratic scan, with ts collisions") {
    val rnd = new Random(733)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(60)
      // coarse second grid forces anchor/outcome timestamp collisions
      val ev = (1L to n).map { id =>
        (id,
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(40) * 1000L),
          1L + rnd.nextInt(5),
          if (rnd.nextBoolean()) "a" else "o")
      }
      val horizonUs = (1L + rnd.nextInt(20)) * 1000000L
      val out = FeatureStore.labelHorizon(
        ev.toDF("event_id", "ts", "user_id", "event_type")
          .repartition(1 + rnd.nextInt(4)),
        "user_id", "ts", "event_id",
        col("event_type") === "a", col("event_type") === "o", horizonUs)
        .collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((r.getAs[Int]("label"), Option(r.getAs[Any]("ttc_us")).map(_.asInstanceOf[Long]))))
        .toMap
      val naive = ev.filter(_._4 == "a").map { case (id, ts, u, _) =>
        val after = ev
          .filter(e => e._4 == "o" && e._3 == u && e._2.getTime > ts.getTime)
          .map(_._2.getTime)
        val nxt = if (after.isEmpty) None else Some(after.min)
        val hit = nxt.exists(t => (t - ts.getTime) * 1000L <= horizonUs)
        id -> ((if (hit) 1 else 0,
          if (hit) Some((nxt.get - ts.getTime) * 1000L) else None))
      }.toMap
      assert(out == naive, s"trial $trial horizon=$horizonUs")
    }
  }

  test("backfillDays invariant: random drift always lands on the full recompute, flags exact") {
    val rnd = new Random(839)
    for (trial <- 1 to 4) {
      val days = (1 to 8).map(d => f"2024-02-$d%02d")
      val current = (1L to (30 + rnd.nextInt(60))).map { id =>
        (id,
          java.sql.Timestamp.valueOf(s"${days(rnd.nextInt(days.size))} 12:00:00"),
          if (rnd.nextBoolean()) "x" else "y",
          rnd.nextInt(100) / 10.0)
      }
      // stale: drop a random subset and add rows current lacks
      val dropped = current.filter(_ => rnd.nextInt(5) == 0)
      val added = (1 to rnd.nextInt(5)).map { i =>
        (1000L + i,
          java.sql.Timestamp.valueOf(s"${days(rnd.nextInt(days.size))} 12:00:00"),
          "x", 1.0)
      }
      val stale = (current.diff(dropped) ++ added)
      val cols = Seq("event_id", "ts", "event_type", "value")
      val staleDf = stale.toDF(cols: _*)
      val out = FeatureStore.backfillDays(
        current.toDF(cols: _*).repartition(1 + rnd.nextInt(4)),
        "ts", "event_type", "value", "event_id",
        FeatureStore.dailyAggregate(staleDf, "ts", "event_type", "value"),
        FeatureStore.dailyManifest(staleDf, "ts", "event_id", "event_type", "value"))
        .collect()
        .map(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[String]("feature")) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("spend_micro"), r.getAs[Int]("backfilled"))))
        .toMap
      val full = FeatureStore
        .dailyAggregate(current.toDF(cols: _*), "ts", "event_type", "value")
        .collect()
        .map(r => (r.getAs[java.sql.Date]("day").toString, r.getAs[String]("feature")) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("spend_micro"))))
        .toMap
      assert(out.view.mapValues(v => (v._1, v._2)).toMap == full, s"trial $trial values")
      val dirtyDays = (current.map(e => (e._1, e._2)).toSet
        .union(stale.map(e => (e._1, e._2)).toSet) --
        current.map(e => (e._1, e._2)).toSet
          .intersect(stale.map(e => (e._1, e._2)).toSet))
        .map(_._2.toString.substring(0, 10))
      val flagged = out.collect { case ((d, _), (_, _, 1)) => d }.toSet
      assert(flagged == dirtyDays.filter(d => out.keys.exists(_._1 == d)),
        s"trial $trial flags: $flagged vs $dirtyDays")
    }
  }

  test("classifierScore invariant: equals the naive per-bigram hash walk on random docs") {
    val rnd = new Random(1117)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    def h15(s: String): Long = java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    val words = Seq("aa", "bb", "cc", "dd", "ee", "ff")
    for (trial <- 1 to 4) {
      val docs = (1L to (5 + rnd.nextInt(15))).map { i =>
        (i, Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
      }
      val out = TextAnalysis.classifierScore(
        docs.toDF("doc_id", "text").repartition(1 + rnd.nextInt(4)), "doc_id", "text")
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("score_sum_micro"),
            r.getAs[Int]("keep"))))
        .toMap
      val naive = docs.flatMap { case (id, text) =>
        val w = text.split(" ")
        val ws = w.indices.dropRight(1).map { i =>
          val bucket = h15(s"clf:${w(i)} ${w(i + 1)}") % 1024L
          (h15(s"w:$bucket") % 2000001L) - 1000000L
        }
        if (ws.isEmpty) None
        else Some(id -> ((ws.size.toLong, ws.sum, if (ws.sum >= 0) 1 else 0)))
      }.toMap
      assert(out == naive, s"trial $trial")
    }
  }

  test("rangeSearch invariant: exact radius membership on random corpora") {
    val rnd = new Random(1231)
    for (trial <- 1 to 4) {
      val n = 8 + rnd.nextInt(16)
      val corpus = (1L to n).map(i =>
        (i, Array.fill(3)(rnd.nextFloat() - 0.5f)))
      val tau = -0.5 + rnd.nextInt(10) / 10.0
      val df = corpus.toDF("vec_id", "embedding")
      val out = graft.operators.Similarity.rangeSearch(
        df, df.where(col("vec_id") <= 2L), "vec_id", "embedding", tau)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .toSet
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
        d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
          math.sqrt(b.map(x => x.toDouble * x).sum))
      }
      val byId = corpus.toMap
      val naive = (for {
        q <- 1L to 2L; c <- corpus if c._1 != q
        s = BigDecimal(cos(byId(q), c._2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if s >= tau
      } yield (q, c._1)).toSet
      assert(out == naive, s"trial $trial tau=$tau")
    }
  }

  test("knnGrouped invariant: equals naive cap-then-rank on random corpora") {
    val rnd = new Random(1021)
    for (trial <- 1 to 4) {
      val n = 10 + rnd.nextInt(20)
      val corpus = (1L to n).map(i =>
        (i, Array(rnd.nextFloat() - 0.5f, rnd.nextFloat() - 0.5f,
          rnd.nextFloat() - 0.5f), rnd.nextInt(3)))
      val (k, per) = (1 + rnd.nextInt(5), 1 + rnd.nextInt(3))
      val df = corpus.toDF("vec_id", "embedding", "label")
      val out = graft.operators.Similarity.knnGrouped(
        df, df.where(col("vec_id") <= 3L), "vec_id", "embedding", "label", k, per)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          r.getAs[Long]("neighbor_id"))
        .toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        d / (na * nb)
      }
      val byId = corpus.map(c => c._1 -> c).toMap
      val naive = (1L to 3L).flatMap { qid =>
        val scored = corpus.filter(_._1 != qid)
          .map(c => (c._1, c._3, cos(byId(qid)._2, c._2)))
          .sortBy { case (id, _, s) => (-s, id) }
        val capped = scala.collection.mutable.Map.empty[Int, Int]
        val kept = scored.filter { case (_, lab, _) =>
          val c = capped.getOrElse(lab, 0)
          if (c < per) { capped(lab) = c + 1; true } else false
        }
        kept.take(k).zipWithIndex.map { case ((id, _, _), i) =>
          (qid, i + 1L) -> id
        }
      }.toMap
      assert(out == naive, s"trial $trial k=$k per=$per")
    }
  }

  test("writeAuditPublish invariant: publishes iff the batch is clean; table state is exact") {
    import graft.operators.FeatureStore.ContractCheck
    TempDirs.withTempDir("graft_inv_wap") { root =>
      val rnd = new Random(947)
      val checks = Seq(ContractCheck.NotNull("k"), ContractCheck.InRange("v", 0, 50))
      for (trial <- 1 to 6) {
        val t = s"w$trial"
        // random batch; ~half the trials inject a violation
        val rows = (1L to (5 + rnd.nextInt(10))).map { i =>
          (if (rnd.nextInt(20) == 0) None else Some(i),
            if (rnd.nextInt(8) == 0) 50.0 + rnd.nextInt(100) else rnd.nextInt(51).toDouble)
        }
        val df = rows.toDF("k", "v")
        val clean = rows.forall(r => r._1.nonEmpty && r._2 >= 0 && r._2 <= 50)
        val (v, report) = Lakehouse.writeAuditPublish(df, root, t, "overwrite", checks)
        assert(v.nonEmpty == clean, s"trial $trial clean=$clean got $v")
        assert(report.collect().forall(_.getAs[Boolean]("pass")) == clean)
        if (clean)
          assert(Lakehouse.read(spark, root, t).count() == rows.size.toLong)
        else // never published -> no main table at all
          assert(Lakehouse.versions(spark, root, t).isEmpty)
      }
    }
  }

  test("nearDedupBatch invariant: verdicts equal naive first-claim over the sketch rows") {
    val rnd = new Random(613)
    val words = Seq("a", "b", "c", "d", "e") // tiny alphabet forces collisions
    for (trial <- 1 to 4) {
      val docs = (1L to (6 + rnd.nextInt(14))).map { i =>
        (i, Seq.fill(3 + rnd.nextInt(6))(words(rnd.nextInt(words.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text").repartition(1 + rnd.nextInt(4))
      val out = graft.streaming.StreamingFeatures
        .nearDedupBatch(df, "doc_id", "text")
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("is_dup")).toMap
      // naive over the same sketch rows: dup iff any bucket was first
      // claimed by a smaller doc_id (kernel fidelity is spec'd elsewhere)
      val banded = graft.operators.Dedup.bandedSketch(df, "doc_id", "text")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[String]("band_hash")))
      val firstClaim = banded.groupBy(b => (b._2, b._3))
        .view.mapValues(_.map(_._1).min).toMap
      val naive = banded.groupBy(_._1).map { case (id, rows) =>
        id -> (if (rows.exists(b => firstClaim((b._2, b._3)) < id)) 1 else 0)
      }
      assert(out == naive, s"trial $trial")
    }
  }
}
