package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries build → parquet,
  * plus every query's oracle in oracle_sql.json, for the driver's
  * DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the filter
    // is a builder-side iteration aid; the driver always runs all.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(SparkEntry.requireKnown(args(2).split(",").toSeq).toSet)
      else None
    val n = Bench.cpus
    val spark = GraftSession.builder(Some(s"local[$n]"), n)
      // Per-process warehouse: bucketed-table queries DROP/recreate
      // their tables, so two concurrent JVMs (e.g. Verify + the test
      // suite) sharing one dir race each other's catalogs.
      .config(
        "spark.sql.warehouse.dir",
        System.getProperty("java.io.tmpdir") +
          s"/graft_warehouse_${ProcessHandle.current().pid()}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // One part file per query: driver-compare tidiness.
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, query) =>
        try query.build(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Data-dependent oracles (e.g. OPQ's learned-rotation literals)
    // derive from this run's corpus.
    val json = SparkEntry.queries
      .map { case (k, query) => s"${q(k)}: ${q(query.oracle(spark, sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
