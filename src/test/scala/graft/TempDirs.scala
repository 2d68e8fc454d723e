package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.SparkContext

/** Temp dirs for specs that are deleted after use, so a test run leaves
  * nothing behind under the system temp dir.
  */
object TempDirs {

  /** Run `body` with a fresh temp dir named `prefix…`; the dir and
    * everything under it is deleted afterwards, pass or fail.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally delete(dir)
  }

  /** Run `body` with the context's checkpoint dir in a fresh temp dir,
    * then delete it and point the context back at the dir it had (Spark
    * adds a fresh subdir on every set) or at none.
    */
  def withCheckpointDir[A](sc: SparkContext, prefix: String)(body: => A): A =
    withTempDir(prefix) { dir =>
      val previous = sc.getCheckpointDir
      sc.setCheckpointDir(dir)
      try body
      finally sc.setCheckpointDir(previous.orNull)
    }

  private def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}
