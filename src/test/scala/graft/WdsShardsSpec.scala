package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WdsShards
import graft.sources.Tables

class WdsShardsSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  private lazy val docs = Tables.load(spark, GraftTestSession.Sf0001, "documents")

  test("tar block arithmetic: member cost is header + 512-padded payload") {
    assert(WdsShards.memberCost(0) == 512L)
    assert(WdsShards.memberCost(1) == 1024L)
    assert(WdsShards.memberCost(512) == 1024L)
    assert(WdsShards.memberCost(513) == 1536L)
    assert(WdsShards.sampleCost(100, 2) == 2048L)
  }

  test("writeShard -> parseShard round-trips names, order, sizes, CRCs and the byte formula") {
    TempDirs.withTempDir("wds_spec_") { tmp =>
      val dir = Paths.get(tmp)
      val p = dir.resolve("shard-000000.tar")
      val samples = Seq(
        (7L, "hello world", "en"),
        (9L, "x" * 600, "de"), // payload crosses one block boundary
        (11L, "", "fr")) // empty member: header only
      val (payload, written) = WdsShards.writeShard(p, samples)
      assert(payload == samples.map(s => s._2.length + s._3.length).sum)
      val formula = samples.map(s =>
        WdsShards.sampleCost(s._2.length, s._3.length)).sum + 1024L
      assert(written == formula && Files.size(p) == formula)
      val members = WdsShards.parseShard(p)
      assert(members.map(_.name) ==
        Vector("7.txt", "7.cls", "9.txt", "9.cls", "11.txt", "11.cls"))
      assert(members.map(_.size) == Vector(11L, 2L, 600L, 2L, 0L, 2L))
      val crc = (s: String) => {
        val c = new java.util.zip.CRC32
        c.update(s.getBytes(StandardCharsets.UTF_8)); c.getValue
      }
      assert(members(0).crc == crc("hello world") && members(3).crc == crc("de"))
    }
  }

  test("written shards are valid archives to GNU tar (independent reader)") {
    TempDirs.withTempDir("wds_spec_gnu_") { tmp =>
      val dir = Paths.get(tmp)
      val p = dir.resolve("shard-000000.tar")
      WdsShards.writeShard(p, Seq((1L, "alpha beta", "en"), (2L, "gamma", "el")))
      import scala.sys.process._
      val listing = Seq("tar", "-tf", p.toString).!!.trim.split("\n").toSeq
      assert(listing == Seq("1.txt", "1.cls", "2.txt", "2.cls"))
      val body = Seq("tar", "-xOf", p.toString, "2.txt").!! // !! appends \n
      assert(body.stripLineEnd == "gamma")
    }
  }

  test("parseShard rejects a corrupted header checksum") {
    TempDirs.withTempDir("wds_spec_bad_") { tmp =>
      val dir = Paths.get(tmp)
      val p = dir.resolve("shard-000000.tar")
      WdsShards.writeShard(p, Seq((1L, "abc", "en")))
      val bytes = Files.readAllBytes(p)
      bytes(0) = 'z'.toByte // name byte no longer matches the checksum
      Files.write(p, bytes)
      intercept[IllegalArgumentException](WdsShards.parseShard(p))
    }
  }

  test("exportStats: division packing, parsed-byte stats, payload fidelity on real docs") {
    // small target so sf0.001's docs split into several shards
    val target = 64L * 1024
    def wdsTemps() = {
      val list = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      try list.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft_wds_")).toSet
      finally list.close()
    }
    val before = wdsTemps()
    val stats = WdsShards.exportStats(docs, "doc_id", "text", "lang", target)
      .collect().sortBy(_.getLong(0))
    // without keepDir every shard file is task-local and deleted
    assert(wdsTemps() -- before == Set.empty)
    assert(stats.nonEmpty && stats.forall(_.getBoolean(7)), "payload_ok must hold")
    // shard ids are the dense division-packing sequence 0..n-1
    assert(stats.map(_.getLong(0)).toSeq == stats.indices.map(_.toLong))
    // totals across shards == per-document recompute
    val rows = docs.selectExpr("doc_id", "octet_length(text)", "octet_length(lang)")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong))
    assert(stats.map(_.getLong(1)).sum == rows.length.toLong)
    assert(stats.map(_.getLong(2)).sum == rows.map(r => r._2 + r._3).sum)
    assert(stats.map(_.getLong(3)).sum ==
      rows.map(r => WdsShards.sampleCost(r._2, r._3)).sum + 1024L * stats.length)
    assert(stats.map(_.getLong(6)).sum == rows.map(_._1).sum)
    // division packing: replay the cumulative cost in doc order and
    // derive each doc's shard; min/max per shard must agree
    var cum = 0L
    val assign = rows.sortBy(_._1).map { case (id, tb, cb) =>
      val sid = cum / target; cum += WdsShards.sampleCost(tb, cb); (sid, id)
    }
    val expect = assign.groupBy(_._1).map { case (sid, xs) =>
      sid -> ((xs.map(_._2).min, xs.map(_._2).max, xs.length.toLong))
    }
    stats.foreach { r =>
      val (sid, mn, mx, n) =
        (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(1))
      assert(expect(sid) == ((mn, mx, n)), s"shard $sid")
    }
    // every shard except the last starts within one sample of its
    // division boundary: file sizes hover at the target
    stats.dropRight(1).foreach { r =>
      assert(r.getLong(3) >= target / 2, s"severely undersized shard ${r.getLong(0)}")
    }
  }
}
