package graft

/** Paired A/B probe: times a query under two session-conf settings
  * ALTERNATING within one JVM, so host-level speed drift (measured
  * 1.3-2x swings between back-to-back bench processes on this box)
  * cancels out of the comparison.
  *
  *   runMain graft.AbProbe <sfDir> <reps> <confKey> <query> [<query>...]
  *
  * For each query, runs reps pairs of (conf=false, conf=true) through
  * [[Bench.time]] and prints the per-arm minima and the paired deltas.
  * Pass `-` as confKey for a single-arm run that just reports per-rep
  * seconds plus the Spark job/stage/task counts each evaluation
  * submitted (the structural half of an optimization claim, immune to
  * host-speed drift). The session is [[Bench.session]]'s.
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: AbProbe <sfDir> <reps> <confKey|-> <query> [<query>...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val reps = args(1).toInt
    val confKey = args(2)
    val names = SparkEntry.requireKnown(args.drop(3).toSeq)
    val spark = Bench.session()
    def time(name: String): Bench.Rep = {
      val r = Bench.time(spark, name, sfDir)
      require(r.ok, s"$name failed")
      r
    }
    if (confKey == "-") {
      Bench.warmUp(spark, names, sfDir)
      names.foreach { name =>
        val rs = (1 to reps).map(_ => time(name))
        // Per-rep structural counts: a rep perturbed by AQE
        // re-optimization must be VISIBLE, not silently reported as
        // THE count.
        def cnt(f: Bench.Rep => Int): String = {
          val vs = rs.map(f)
          if (vs.distinct.size == 1) vs.head.toString else vs.mkString("|")
        }
        println(f"[probe] $name%-28s min=${rs.map(_.seconds).min}%.2f " +
          rs.map(r => f"${r.seconds}%.2f").mkString("(", " ", ")") +
          s"  jobs=${cnt(_.jobs)} stages=${cnt(_.stages)} tasks=${cnt(_.tasks)}")
      }
    } else {
      Seq("false", "true").foreach { v =>
        spark.conf.set(confKey, v); Bench.warmUp(spark, names, sfDir)
      }
      names.foreach { name =>
        val pairs = (1 to reps).map { _ =>
          spark.conf.set(confKey, "false")
          val off = time(name).seconds
          spark.conf.set(confKey, "true")
          val on = time(name).seconds
          (off, on)
        }
        val offs = pairs.map(_._1); val ons = pairs.map(_._2)
        println(f"[ab] $name%-28s $confKey=false min=${offs.min}%.2f ${offs.map(v => f"$v%.2f").mkString("(", " ", ")")}  " +
          f"true min=${ons.min}%.2f ${ons.map(v => f"$v%.2f").mkString("(", " ", ")")}  " +
          f"paired-delta median=${pairs.map(p => p._2 - p._1).sorted.apply(reps / 2)}%+.2f")
      }
    }
    spark.stop()
  }
}
