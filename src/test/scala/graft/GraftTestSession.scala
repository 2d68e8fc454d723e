package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Test/fork=true gives the
  * whole test run a single JVM; never stopped so suites can share it).
  * Its shape is the plan ledger's, so PlanLedgerSpec's rebuild matches
  * what `graft.Explain` writes.
  */
object GraftTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(cores = Explain.Cores, shufflePartitions = Explain.Cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}
