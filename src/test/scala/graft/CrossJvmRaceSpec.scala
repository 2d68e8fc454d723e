package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funspec.AnyFunSpec

import graft.sources.Lakehouse

/** Cross-PROCESS lakehouse writer race: forks 3 [[RaceWriter]] JVMs
  * (3 appends each) against one table and asserts the same contract the
  * in-JVM 8-writer race does — linear gap-free history, every writer's
  * claimed versions distinct, zero lost appends, every snapshot a
  * consistent prefix.
  *
  * Why this spec exists on top of the threaded race: the atomic-claim
  * hard-link path guards against Hadoop LocalFileSystem's
  * check-then-act `create(overwrite=false)`, and that window is widest
  * between processes that share nothing but the filesystem — a single
  * JVM's shared FileSystem object and lock striping can mask a broken
  * protocol. Fork pattern (classpath + --add-opens forwarding) is
  * ChaosSpec's.
  */
class CrossJvmRaceSpec extends AnyFunSpec {

  it("3 writer JVMs x 3 appends: linear history, distinct claims, zero lost appends") {
    TempDirs.withTempDir("graft_xjvm_race")(race)
  }

  /** The lakehouse under `work/lake`, writer `w`'s scratch dir `work/w<w>`. */
  private def race(work: String): Unit = {
    val spark = GraftTestSession.spark
    import spark.implicits._
    val root = s"$work/lake"
    val table = "t_xjvm"
    Lakehouse.commit(Seq((0L, "base")).toDF("k", "v"), root, table, "overwrite")

    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .toList.sliding(2).collect {
        case List("--add-opens", v) => List("--add-opens", v)
      }.flatten.toList
    def cmd(writer: Int) = List(java) ++ opens ++ List(
      "-Xmx3g", "-XX:ReservedCodeCacheSize=128m", "-cp", cp,
      "graft.RaceWriter", root, table, writer.toString, "3")

    // Launch all three BEFORE reading any output so their commit loops
    // genuinely overlap; each child needs a distinct Derby/metastore
    // scratch dir (derby.system.home defaults to CWD) — point them at
    // their own temp dirs to keep the forked sessions independent.
    // Drains start in the SAME loop that launches: a child emitting
    // >64 KB with no reader blocks on a full pipe mid-race, which
    // would distort the commit overlap the test exists to create (and
    // a synchronous fromInputStream(...).mkString after the fact
    // would make the 300s waitFor unreachable for a hung writer).
    val procs = (1 to 3).map { w =>
      val pb = new ProcessBuilder(cmd(w).asJava).redirectErrorStream(true)
      pb.directory(Files.createDirectories(Paths.get(work, s"w$w")).toFile)
      val p = pb.start()
      val buf = new _root_.java.io.ByteArrayOutputStream()
      val drain = new Thread(() => p.getInputStream.transferTo(buf))
      drain.setDaemon(true)
      drain.start()
      (w, p, buf, drain)
    }
    val outs = procs.map { case (w, p, buf, drain) =>
      val finished = p.waitFor(300, TimeUnit.SECONDS)
      if (!finished) p.destroyForcibly()
      assert(finished, s"writer $w timed out after 300s")
      drain.join(10000)
      val out = buf.toString("UTF-8")
      assert(p.exitValue() == 0,
        s"writer $w exited ${p.exitValue()}:\n${out.takeRight(3000)}")
      (w, out)
    }

    // Each writer reports the versions its commits claimed.
    val claimed: Map[Int, Seq[Int]] = outs.map { case (w, out) =>
      val line = out.linesIterator.find(_.startsWith("RACE_OK")).getOrElse(
        fail(s"writer $w printed no RACE_OK line:\n${out.takeRight(2000)}"))
      info(line)
      w -> line.split("versions=")(1).trim.split(",").map(_.toInt).toSeq
    }.toMap

    // 9 appends over base v1 must claim exactly v2..v10, one each,
    // across processes (a duplicate claim = the atomic create raced).
    val all = claimed.values.flatten.toSeq
    assert(all.sorted == (2 to 10), s"claims must be exactly v2..v10 once each: $claimed")
    // A single writer's own commits must be strictly ordered (each
    // commit built on the tip it observed after the previous one).
    claimed.foreach { case (w, vs) =>
      assert(vs == vs.sorted, s"writer $w claimed out of order: $vs")
    }
    assert(Lakehouse.versions(spark, root, table) == (1 to 10),
      "commit history is linear and gap-free")
    assert(
      Lakehouse.read(spark, root, table).select("k").as[Long].collect().toSet ==
        (Set(0L) ++ (1 to 3).flatMap(w => (1 to 3).map(i => w * 1000L + i))),
      "no append was lost")
    (1 to 10).foreach { v =>
      assert(Lakehouse.read(spark, root, table, Some(v)).count() == v.toLong,
        s"snapshot v$v must hold $v rows (consistent prefix)")
    }
  }
}
