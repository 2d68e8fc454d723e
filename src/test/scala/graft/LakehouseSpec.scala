package graft

import org.apache.spark.sql.functions._
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Lakehouse

class LakehouseSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  /** Each test's own lakehouse root, deleted after it. */
  private var root: String = _
  override def withFixture(test: NoArgTest): Outcome =
    TempDirs.withTempDir("graft_lake") { dir => root = dir; super.withFixture(test) }

  test("append/overwrite commits replay to the right snapshots, with time travel") {
    val t = "t1"
    val v1 = Lakehouse.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, t, "overwrite")
    val v2 = Lakehouse.commit(Seq((3L, "c")).toDF("k", "v"), root, t, "append")
    val v3 = Lakehouse.commit(Seq((9L, "z")).toDF("k", "v"), root, t, "overwrite")
    val v4 = Lakehouse.commit(Seq((10L, "y")).toDF("k", "v"), root, t, "append")
    assert(Seq(v1, v2, v3, v4) == Seq(1, 2, 3, 4))
    assert(Lakehouse.versions(spark, root, t) == Seq(1, 2, 3, 4))

    def keys(versionAsOf: Option[Int]): Set[Long] =
      Lakehouse.read(spark, root, t, versionAsOf).select("k").as[Long].collect().toSet

    assert(keys(Some(1)) == Set(1L, 2L))
    assert(keys(Some(2)) == Set(1L, 2L, 3L)) // append extends
    assert(keys(Some(3)) == Set(9L)) // overwrite replaces everything before it
    assert(keys(Some(4)) == Set(9L, 10L))
    assert(keys(None) == Set(9L, 10L)) // latest
    // pinned snapshots are immutable: committing more never changes v2
    Lakehouse.commit(Seq((99L, "q")).toDF("k", "v"), root, t, "append")
    assert(keys(Some(2)) == Set(1L, 2L, 3L))
  }

  test("missing version and empty table are rejected") {
    assert(intercept[IllegalArgumentException] {
      Lakehouse.read(spark, root, "t_missing")
    }.getMessage.contains("no committed data"))
    Lakehouse.commit(Seq((1L, "a")).toDF("k", "v"), root, "t2", "overwrite")
    assert(intercept[IllegalArgumentException] {
      Lakehouse.read(spark, root, "t2", Some(7))
    }.getMessage.contains("does not exist"))
  }

  test("a racing writer cannot steal a committed version (optimistic concurrency)") {
    val t = "t3"
    Lakehouse.commit(Seq((1L, "a")).toDF("k", "v"), root, t, "overwrite")
    // simulate a lost race: another writer has already committed v2
    // while we thought the tip was v1
    val stolen = new org.apache.hadoop.fs.Path(s"$root/$t/_log/v00000002.json")
    val fs = stolen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(stolen, false)
    out.write(
      s"""{"version":2,"action":"append","dataDirs":[]}""".getBytes("UTF-8"))
    out.close()
    // our commit must NOT overwrite v2 — it lands as v3
    val v = Lakehouse.commit(Seq((5L, "e")).toDF("k", "v"), root, t, "append")
    assert(v == 3)
    assert(Lakehouse.versions(spark, root, t) == Seq(1, 2, 3))
    assert(Lakehouse.read(spark, root, t).select("k").as[Long].collect().toSet
      == Set(1L, 5L))
  }

  test("register exposes a snapshot as a SQL view") {
    val t = "t4"
    Lakehouse.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, t, "overwrite")
    Lakehouse.register(spark, root, t, "t4_view")
    assert(spark.sql("SELECT count(*) FROM t4_view").head().getLong(0) == 2L)
  }

  test("unreferenced data dirs (crashed writer garbage) are invisible to readers") {
    val t = "t5"
    Lakehouse.commit(Seq((1L, "a")).toDF("k", "v"), root, t, "overwrite")
    // a writer that wrote data but died before its log commit
    Seq((666L, "junk")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$root/$t/data/v99")
    assert(Lakehouse.read(spark, root, t).select("k").as[Long].collect().toSet == Set(1L))
  }

  test("vacuum removes only unreferenced dirs; every version stays readable") {
    val t = "t6"
    Lakehouse.commit(Seq((1L, "a")).toDF("k", "v"), root, t, "overwrite")
    Lakehouse.commit(Seq((2L, "b")).toDF("k", "v"), root, t, "append")
    Seq((666L, "junk")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$root/$t/data/v99")
    val removed = Lakehouse.vacuum(spark, root, t)
    assert(removed.size == 1 && removed.head.endsWith("v99"))
    assert(Lakehouse.read(spark, root, t, Some(1)).count() == 1)
    assert(Lakehouse.read(spark, root, t).count() == 2)
    assert(Lakehouse.vacuum(spark, root, t).isEmpty) // idempotent
  }

  test("compact rewrites many small commits into few files, preserving content and history") {
    val t = "t7"
    for (i <- 0 until 5)
      Lakehouse.commit(
        Seq((i.toLong, s"v$i")).toDF("k", "v"), root, t,
        if (i == 0) "overwrite" else "append")
    val before = Lakehouse.read(spark, root, t)
    val beforeFiles = before.inputFiles.length
    val beforeRows = before.orderBy("k").collect().toSeq
    val cv = Lakehouse.compact(spark, root, t, targetFileBytes = 1L << 30)
    val after = Lakehouse.read(spark, root, t)
    assert(after.inputFiles.length == 1, s"expected 1 compacted file")
    assert(after.inputFiles.length < beforeFiles)
    assert(after.orderBy("k").collect().toSeq == beforeRows)
    // pre-compaction versions still time travel
    assert(Lakehouse.read(spark, root, t, Some(2)).count() == 2)
    assert(Lakehouse.versions(spark, root, t).last == cv)
  }

  test("clustered commit + zone maps: readPruned skips files outside the predicate range") {
    val t = "t8"
    val df = (0L until 1000L).map(i => (i, i % 7)).toDF("k", "tag")
    Lakehouse.commitClustered(df, root, t, "overwrite", "k", numFiles = 4)
    val full = Lakehouse.read(spark, root, t)
    assert(full.inputFiles.length == 4)
    val pruned = Lakehouse.readPruned(spark, root, t, "k", 10.0, 20.0)
    // zone maps must cut the file list (range clustering puts 10..20 in
    // one file), and the result must equal the unpruned filter exactly
    assert(pruned.inputFiles.length < 4 && pruned.inputFiles.nonEmpty)
    assert(pruned.select("k").as[Long].collect().sorted.toSeq == (10L to 20L).toSeq)
    // a range beyond the data prunes every file and returns empty
    assert(Lakehouse.readPruned(spark, root, t, "k", 5000.0, 6000.0).count() == 0)
    // an appended UNclustered commit is always read (no stats -> no skip)
    Lakehouse.commit(Seq((15L, 1L)).toDF("k", "tag"), root, t, "append")
    assert(Lakehouse.readPruned(spark, root, t, "k", 10.0, 20.0).count() == 12)
  }

  test("z-ordered commit: zone maps prune files on BOTH dimensions") {
    val t = "t11"
    // two independent 0..63 dimensions; z-order keeps both locally tight
    val df = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y, x * 64 + y))
      .toDF("x", "y", "payload")
    Lakehouse.commitZOrdered(df, root, t, "overwrite", Seq("x", "y"), numFiles = 16)
    val full = Lakehouse.read(spark, root, t)
    assert(full.inputFiles.length == 16)
    // a point-ish predicate on x alone prunes
    val px = Lakehouse.readPruned(spark, root, t, "x", 3.0, 4.0)
    assert(px.inputFiles.length < 16, "x-only predicate should prune files")
    assert(px.count() == 2 * 64)
    // a predicate on y ALONE also prunes — the z-order property that a
    // lexicographic (x, y) sort could not give y
    val py = Lakehouse.readPruned(spark, root, t, "y", 3.0, 4.0)
    assert(py.inputFiles.length < 16, "y-only predicate should prune files")
    assert(py.count() == 2 * 64)
    // both predicates intersect file sets and equal the exact filter
    val pxy = Lakehouse.readPrunedMulti(
      spark, root, t, Seq(("x", 3.0, 4.0), ("y", 3.0, 4.0)))
    assert(pxy.inputFiles.length <= math.min(px.inputFiles.length, py.inputFiles.length))
    val expect = df.where($"x".between(3, 4) && $"y".between(3, 4))
      .select("payload").as[Long].collect().sorted.toSeq
    assert(pxy.select("payload").as[Long].collect().sorted.toSeq == expect)
  }

  test("appendBatch is idempotent on batchId (stream restart replays are no-ops)") {
    val t = "t9"
    assert(Lakehouse.appendBatch(
      Seq((1L, "a")).toDF("k", "v"), root, t, batchId = 0L).contains(1))
    assert(Lakehouse.appendBatch(
      Seq((2L, "b")).toDF("k", "v"), root, t, batchId = 1L).contains(2))
    // replay of batch 1 after a simulated restart: skipped
    assert(Lakehouse.appendBatch(
      Seq((2L, "b")).toDF("k", "v"), root, t, batchId = 1L).isEmpty)
    assert(Lakehouse.read(spark, root, t).count() == 2)
    assert(Lakehouse.versions(spark, root, t) == Seq(1, 2))
  }

  test("append schema contract: drop/retype rejected, additive evolution opt-in") {
    val t = "t13"
    Lakehouse.commit(Seq((1L, "a")).toDF("k", "v"), root, t, "overwrite")
    // dropping a column is rejected
    val exDrop = intercept[IllegalArgumentException] {
      Lakehouse.commit(Seq(Tuple1(2L)).toDF("k"), root, t, "append")
    }
    assert(exDrop.getMessage.contains("drops or retypes"))
    // retyping a column is rejected
    val exType = intercept[IllegalArgumentException] {
      Lakehouse.commit(Seq((2L, 5.0)).toDF("k", "v"), root, t, "append")
    }
    assert(exType.getMessage.contains("drops or retypes"))
    // adding a column needs the opt-in...
    val widened = Seq((2L, "b", 9L)).toDF("k", "v", "extra")
    val exAdd = intercept[IllegalArgumentException] {
      Lakehouse.commit(widened, root, t, "append")
    }
    assert(exAdd.getMessage.contains("evolveSchema"))
    // ...and with it, old files read as null for the new column
    Lakehouse.commit(widened, root, t, "append", evolveSchema = true)
    val out = Lakehouse.read(spark, root, t)
      .select("k", "extra").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out == Map(1L -> None, 2L -> Some(9L)))
    // overwrite may change schema freely
    Lakehouse.commit(Seq(Tuple1("fresh")).toDF("s"), root, t, "overwrite")
    assert(Lakehouse.read(spark, root, t).columns.toSeq == Seq("s"))
  }

  test("log checkpoint: snapshot resolution from checkpoint + tail equals raw replay") {
    val t = "t12"
    Lakehouse.commit(Seq((1L, "a")).toDF("k", "v"), root, t, "overwrite")
    Lakehouse.commit(Seq((2L, "b")).toDF("k", "v"), root, t, "append")
    Lakehouse.commitClustered(
      (10L until 20L).map(i => (i, "c")).toDF("k", "v"), root, t, "append", "k", 2)
    assert(Lakehouse.checkpoint(spark, root, t).contains(3))
    // post-checkpoint tail
    Lakehouse.commit(Seq((30L, "d")).toDF("k", "v"), root, t, "append")
    assert(Lakehouse.checkpointVersions(spark, root, t) == Seq(3))
    // latest = checkpoint base + tail
    assert(Lakehouse.read(spark, root, t).select("k").as[Long].collect().toSet
      == (Set(1L, 2L, 30L) ++ (10L until 20L)))
    // a pin AT the checkpoint resolves from it
    assert(Lakehouse.read(spark, root, t, Some(3)).count() == 12)
    // a pin BEFORE the checkpoint replays the raw log
    assert(Lakehouse.read(spark, root, t, Some(1)).select("k").as[Long].collect().toSet
      == Set(1L))
    // zone maps survive the checkpoint round-trip: pruning still works
    val pruned = Lakehouse.readPruned(spark, root, t, "k", 10.0, 12.0)
    assert(pruned.select("k").as[Long].collect().sorted.toSeq == Seq(10L, 11L, 12L))
    // an overwrite after the checkpoint supersedes it cleanly
    Lakehouse.commit(Seq((99L, "z")).toDF("k", "v"), root, t, "overwrite")
    assert(Lakehouse.read(spark, root, t).select("k").as[Long].collect().toSet == Set(99L))
  }

  test("streamAppend sinks a memory stream into the table exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = "t10"
    val src = MemoryStream[Long](spark)
    val q = Lakehouse.streamAppend(src.toDF().withColumnRenamed("value", "k"), root, t)
      .option("checkpointLocation", s"$root/_ckpt_$t")
      .start()
    try {
      src.addData(1L, 2L, 3L)
      q.processAllAvailable()
      src.addData(4L)
      q.processAllAvailable()
      assert(Lakehouse.read(spark, root, t).select("k").as[Long].collect().toSet
        == Set(1L, 2L, 3L, 4L))
      // one commit per micro-batch, batchIds recorded
      assert(Lakehouse.allCommits(spark, root, t).flatMap(_.batchId) == Seq(0L, 1L))
    } finally q.stop()
  }

  test("streamAppendMaintained: commits stay bounded while content accretes exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = "t_stream_maint"
    val src = MemoryStream[Long](spark)
    val q = Lakehouse
      .streamAppendMaintained(
        src.toDF().withColumnRenamed("value", "k"), root, t,
        maxSnapshotCommits = 2, targetFileBytes = 1 << 20)
      .option("checkpointLocation", s"$root/_ckpt_$t")
      .start()
    try {
      (1 to 5).foreach { i =>
        src.addData(i.toLong * 10, i.toLong * 10 + 1)
        q.processAllAvailable()
        // the maintenance loop keeps the live snapshot within budget+1
        assert(Lakehouse.snapshotCommits(spark, root, t).size <= 3, s"batch $i")
      }
      val ks = Lakehouse.read(spark, root, t).select("k").as[Long].collect().sorted
      assert(ks.toSeq == (1 to 5).flatMap(i => Seq(i * 10L, i * 10L + 1)).sorted)
      assert(ks.length == 10) // exactly once, across compactions
    } finally q.stop()
  }

  test("merge: update/insert/delete semantics, pruned files carried forward untouched") {
    val t = "t_merge"
    val base = spark.range(1, 101)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    val v1 = Lakehouse.commitClustered(base, root, t, "overwrite", "k", 5)
    // delta: update k=3, delete k=7 (flag column NOT in the target
    // schema — merge drops it), insert k=500
    val src = Seq((3L, "u3", false), (7L, "gone", true), (500L, "v500", false))
      .toDF("k", "v", "del")
    val stats = Lakehouse.merge(spark, root, t, src, "k", deleteWhen = Some(col("del")))

    // files 21-40 / 41-60 / 61-80 / 81-100 never contain a source key:
    // retained by the per-key zone-map check; only 1-20 is rewritten
    assert(stats.rewrittenFiles == 1 && stats.retainedFiles == 4)
    val merged = Lakehouse.read(spark, root, t)
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(merged.size == 100) // 100 - 1 delete + 1 insert
    assert(merged(3L) == "u3" && !merged.contains(7L) && merged(500L) == "v500")
    assert(merged(42L) == "v42") // untouched row survives byte-identical
    // retained files are RE-REFERENCED, not rewritten: the merge commit
    // lists 4 paths from the v1 data dir plus its own new dir
    val mergeCommit = Lakehouse.allCommits(spark, root, t).last
    assert(mergeCommit.dataDirs.count(_.contains("/data/v1-")) == 4)
    // zone maps carried forward + fresh: pruned reads still exact
    val pruned = Lakehouse.readPruned(spark, root, t, "k", 41, 60)
      .select($"k").as[Long].collect().toSet
    assert(pruned == (41L to 60L).toSet)
    // time travel: the pre-merge snapshot is untouched
    assert(Lakehouse.read(spark, root, t, Some(v1)).count() == 100)
  }

  test("autoCompact: triggers only past the commit budget, then resets it") {
    val t = "t_autocompact"
    (1 to 4).foreach { i =>
      Lakehouse.commit(Seq((i.toLong, s"v$i")).toDF("k", "v"), root, t,
        if (i == 1) "overwrite" else "append")
    }
    // snapshot spans 4 commits > budget 3: compacts into one commit
    val v = Lakehouse.autoCompact(spark, root, t, maxSnapshotCommits = 3,
      targetFileBytes = 1 << 20)
    assert(v.nonEmpty)
    assert(Lakehouse.snapshotCommits(spark, root, t).size == 1)
    assert(Lakehouse.read(spark, root, t).count() == 4) // content conserved
    // immediately after compaction: within budget, no-op
    assert(Lakehouse.autoCompact(spark, root, t, 3, 1 << 20).isEmpty)
  }

  test("deleteWhere: predicate erasure rewrites only zone-map-overlapping files") {
    val t = "t_del"
    val base = spark.range(1, 101)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    val v1 = Lakehouse.commitClustered(base, root, t, "overwrite", "k", 5)
    val stats = Lakehouse.deleteWhere(
      spark, root, t, col("k").between(11, 20), prune = Some(("k", 11.0, 20.0)))
    assert(stats.rewrittenFiles == 1 && stats.retainedFiles == 4)
    val left = Lakehouse.read(spark, root, t).select($"k").as[Long].collect().toSet
    assert(left.size == 90 && !left.exists(k => k >= 11 && k <= 20))
    // erased range reads empty through the pruned path too
    assert(Lakehouse.readPruned(spark, root, t, "k", 11, 20).count() == 0)
    // time travel: pre-delete snapshot intact (the log keeps history;
    // true erasure additionally requires vacuuming expired versions)
    assert(Lakehouse.read(spark, root, t, Some(v1)).count() == 100)
    // no prune hint: correct but full rewrite
    val s2 = Lakehouse.deleteWhere(spark, root, t, col("k") === 50L)
    assert(s2.retainedFiles == 0)
    assert(Lakehouse.read(spark, root, t).count() == 89)
  }

  test("merge on an unclustered table falls back to a full rewrite, still correct") {
    val t = "t_merge_flat"
    Lakehouse.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, t, "overwrite")
    val stats = Lakehouse.merge(
      spark, root, t, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "k")
    assert(stats.retainedFiles == 0)
    val m = Lakehouse.read(spark, root, t).as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // a source missing target columns is rejected (schema contract)
    assert(intercept[IllegalArgumentException] {
      Lakehouse.merge(spark, root, t, Seq(4L).toDF("k"), "k")
    }.getMessage.contains("missing"))
  }

  test("tableChanges: append fast path, delete diff, multiset semantics, empty range") {
    val t = "cdf_t"
    // v1: rows 1,2 and a DUPLICATE of 1
    val v1 = Lakehouse.commit(Seq(1L, 1L, 2L).toDF("k"), root, t, "overwrite")
    // v2: append 3,4
    val v2 = Lakehouse.commit(Seq(3L, 4L).toDF("k"), root, t, "append")
    // v3: delete k = 1 (removes BOTH copies)
    val v3 = Lakehouse.deleteWhere(spark, root, t, col("k") === 1L).version
    def changes(a: Int, b: Int) =
      Lakehouse.tableChanges(spark, root, t, a, b)
        .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"))).sorted.toSeq
    assert(changes(v1, v2) == Seq((3L, "insert"), (4L, "insert")))
    assert(changes(v2, v3) == Seq((1L, "delete"), (1L, "delete"))) // multiset: both copies
    assert(changes(v1, v1).isEmpty) // empty version range -> no changes
    assert(changes(v1, v3) == Seq((1L, "delete"), (1L, "delete"), (3L, "insert"), (4L, "insert")))
  }

  test("shallowClone: zero bytes copied, snapshots equal, then both sides diverge freely") {
    val src = "t_clone_src"
    Lakehouse.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, src, "overwrite")
    Lakehouse.commit(Seq((3L, "c")).toDF("k", "v"), root, src, "append")
    Lakehouse.shallowClone(spark, root, src, "t_clone_dev")

    def keys(t: String, v: Option[Int] = None): Set[Long] =
      Lakehouse.read(spark, root, t, v).select("k").as[Long].collect().toSet
    assert(keys("t_clone_dev") == Set(1L, 2L, 3L))

    // zero-copy: no parquet data files under the clone's own data root
    val dataRoot = new org.apache.hadoop.fs.Path(s"$root/t_clone_dev/data")
    val fs = dataRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cloneFiles = {
      val it = fs.listFiles(dataRoot, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    assert(cloneFiles == 0, "shallow clone must not write data files")

    // divergence: append to the clone, delete from the source
    Lakehouse.commit(Seq((100L, "x")).toDF("k", "v"), root, "t_clone_dev", "append")
    Lakehouse.deleteWhere(spark, root, src, col("k") === 1L)
    assert(keys("t_clone_dev") == Set(1L, 2L, 3L, 100L), "source delete must not leak in")
    assert(keys(src) == Set(2L, 3L), "clone append must not leak back")
  }

  test("shallowClone pins a time-travel version and carries zone maps for pruned reads") {
    val src = "t_clone_zm"
    Lakehouse.commitClustered(
      (1L to 40L).map(i => (i, i * 10L)).toDF("k", "x"), root, src, "overwrite", "k", 4)
    val v1 = Lakehouse.versions(spark, root, src).last
    Lakehouse.commit(Seq((99L, 0L)).toDF("k", "x"), root, src, "append")
    // clone of the CLUSTERED v1, not the tip
    Lakehouse.shallowClone(spark, root, src, "t_clone_zm_dev", Some(v1))
    val dev = Lakehouse.read(spark, root, "t_clone_zm_dev")
    assert(dev.count() == 40)
    // zone maps traveled with the clone: a pruned point read matches
    // the plain filtered read
    val pruned = Lakehouse.readPruned(spark, root, "t_clone_zm_dev", "k", 5.0, 7.0)
      .select("k").as[Long].collect().toSet
    assert(pruned == Set(5L, 6L, 7L))
  }

  test("partition evolution: each commit prunes by its OWN spec, commits without stats stay whole") {
    val t = "t_pevo"
    // commit 1 clustered by a (keys 1..40), commit 2 clustered by b
    Lakehouse.commitClustered(
      (1L to 40L).map(i => (i, 1000L + i)).toDF("a", "b"), root, t, "overwrite", "a", 4)
    Lakehouse.commitClustered(
      (41L to 80L).map(i => (i, 1000L + i)).toDF("a", "b"), root, t, "append", "b", 4)
    val fullFiles = Lakehouse.read(spark, root, t).inputFiles.length
    // predicate on `a` only: commit 1 prunes to ~1 of 4 files; commit 2
    // (no `a` stats) is kept WHOLE for correctness
    val prunedDf = Lakehouse.readPrunedMulti(spark, root, t, Seq(("a", 5.0, 8.0)))
    assert(prunedDf.inputFiles.length < fullFiles, "commit-1 files must be skipped")
    assert(prunedDf.inputFiles.length >= 4, "commit-2 (no stats for a) must stay whole")
    assert(prunedDf.select("a").as[Long].collect().toSet == (5L to 8L).toSet)
    // predicate on BOTH columns: each commit prunes on the stat it has,
    // and the result still equals the naive filtered read
    val both = Lakehouse.readPrunedMulti(
      spark, root, t, Seq(("a", 30.0, 50.0), ("b", 1030.0, 1050.0)))
    val naive = Lakehouse.read(spark, root, t)
      .where(col("a").between(30, 50) && col("b").between(1030, 1050))
    assert(both.select("a").as[Long].collect().toSet ==
      naive.select("a").as[Long].collect().toSet)
    assert(both.inputFiles.length < fullFiles)
  }

  test("write-audit-publish: clean publishes zero-copy, dirty leaves the table untouched") {
    import graft.operators.FeatureStore.ContractCheck
    val checks = Seq(
      ContractCheck.NotNull("k"), ContractCheck.InRange("v", 0, 100))
    val clean = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val (v1, rep1) = Lakehouse.writeAuditPublish(clean, root, "wap", "overwrite", checks)
    assert(v1.nonEmpty)
    assert(rep1.collect().forall(_.getAs[Boolean]("pass")))
    assert(Lakehouse.read(spark, root, "wap").count() == 3)
    // the published version's OWN data dir holds no bytes — every file
    // is referenced from staging (zero-copy publish)
    val ownDirs = Option(new java.io.File(s"$root/wap/data").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"v${v1.get}-"))
    assert(ownDirs.forall(d =>
      Option(d.listFiles()).toSeq.flatten.forall(!_.getName.endsWith(".parquet"))))
    // dirty batch: a null key and an out-of-range value
    val dirty = Seq((Some(4L), 10.0), (None, 50.0), (Some(6L), 999.0))
      .toDF("k", "v")
    val (v2, rep2) = Lakehouse.writeAuditPublish(dirty, root, "wap", "append", checks)
    assert(v2.isEmpty)
    val failed = rep2.collect().filter(!_.getAs[Boolean]("pass"))
      .map(r => r.getAs[String]("check") -> r.getAs[Long]("n_violations")).toMap
    assert(failed == Map("not_null" -> 1L, "in_range" -> 1L))
    // main table untouched; the staged snapshot remains for debugging
    assert(Lakehouse.read(spark, root, "wap").count() == 3)
    assert(Lakehouse.read(spark, root, "wap__staged").count() == 3)
    // a clean append THROUGH the gate extends the table
    val more = Seq((7L, 70.0)).toDF("k", "v")
    val (v3, _) = Lakehouse.writeAuditPublish(more, root, "wap", "append", checks)
    assert(v3.nonEmpty && Lakehouse.read(spark, root, "wap").count() == 4)
  }

  test("8-writer append race: linear history, distinct versions, zero lost appends") {
    val t = "t_race8"
    Lakehouse.commit(Seq((0L, "base")).toDF("k", "v"), root, t, "overwrite")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 8 writers race the same tip; each must retry-on-claim-loss
      // (the writer contract commit() implements internally) until it
      // lands its OWN version — no coordination beyond the atomic
      // create of the version file
      val versions = Await.result(
        Future.sequence((1 to 8).map { i =>
          Future {
            Lakehouse.commit(Seq((i.toLong, s"w$i")).toDF("k", "v"), root, t, "append")
          }
        }),
        180.seconds)
      assert(versions.toSet == (2 to 9).toSet,
        s"writers must claim exactly v2..v9, one each: $versions")
    } finally pool.shutdown()
    assert(Lakehouse.versions(spark, root, t) == (1 to 9),
      "commit history is linear and gap-free")
    assert(
      Lakehouse.read(spark, root, t).select("k").as[Long].collect().toSet ==
        (0L to 8L).toSet,
      "no append was lost")
    // every intermediate snapshot is a consistent prefix: v_n holds
    // exactly n rows (base + n-1 appends)
    (1 to 9).foreach { v =>
      assert(Lakehouse.read(spark, root, t, Some(v)).count() == v.toLong,
        s"snapshot v$v must hold $v rows")
    }
  }
}
