package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funspec.AnyFunSpec

/** Runs [[ChaosCheck]] — the task-retry fault-injection harness — in a
  * forked JVM and asserts its CHAOS_OK contract.
  *
  * Why a fork: ChaosCheck needs a `local[8,3]` master (maxFailures=3 so
  * injected first-attempt task deaths are retried, not fatal), and the
  * test suites share one `local[32]` SparkContext per JVM. The spec
  * reuses this JVM's classpath and --add-opens flags, so the child sees
  * exactly the code under test.
  *
  * Pass = exit 0, a `CHAOS_OK injected=N` line with N > 0 (a chaos
  * harness that never fires proves nothing), and no FAIL check lines.
  */
class ChaosSpec extends AnyFunSpec {

  it("fault-injected runs are bit-identical to clean runs (forked local[8,3] JVM)") {
    TempDirs.withTempDir("graft_chaos")(check)
  }

  private def check(work: String): Unit = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    // Forward the parent's --add-opens pairs (Spark 4.x on JDK 17 needs
    // them; build.sbt sets them for every forked JVM including this one).
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .toList.sliding(2).collect {
        case List("--add-opens", v) => List("--add-opens", v)
      }.flatten.toList
    val cmd = List(java) ++ opens ++ List(
      "-Xmx8g", "-XX:ReservedCodeCacheSize=256m", "-cp", cp,
      "graft.ChaosCheck", "/root/testdata/sf0.001", work)

    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    // Drain stdout on this thread (blocks to EOF — avoids pipe-buffer
    // deadlock), then reap the exit code with a hard timeout.
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    val finished = p.waitFor(600, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    val chaosLines = out.linesIterator
      .filter(l => l.startsWith("[chaos]") || l.startsWith("CHAOS_"))
      .mkString("\n")
    info(chaosLines)

    assert(finished, "ChaosCheck timed out after 600s")
    assert(p.exitValue() == 0,
      s"ChaosCheck exited ${p.exitValue()}:\n${out.takeRight(4000)}")
    val okLine = out.linesIterator.find(_.startsWith("CHAOS_OK"))
    assert(okLine.isDefined, s"no CHAOS_OK line:\n$chaosLines")
    val injected = okLine.get.stripPrefix("CHAOS_OK injected=").trim.toInt
    assert(injected > 0, "chaos harness injected zero task failures")
    assert(!chaosLines.contains(" FAIL "), s"check failures:\n$chaosLines")
  }
}
