package graft

/** Temporary paired A/B probe for r11 optimization work: times a query
  * under two session-conf settings ALTERNATING within one JVM, so
  * host-level speed drift (measured 1.3-2x swings between back-to-back
  * bench processes on this box) cancels out of the comparison.
  *
  *   runMain graft.AbProbe <sfDir> <reps> <confKey> <query> [<query>...]
  *
  * For each query, runs reps pairs of (conf=false, conf=true) through
  * the noop sink with a Bench-style drain between runs, and prints the
  * per-arm minima and the paired deltas. Pass `-` as confKey for a
  * single-arm run that just reports per-rep seconds plus the Spark
  * job/stage/task counts each evaluation submitted (the structural
  * half of an optimization claim, immune to host-speed drift).
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
    val names = args.drop(3).toSeq
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    def time(name: String): (Double, Int, Int, Int) = {
      Bench.drain(spark)
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(100) // let listener events settle
      (dt, jobs.get, stages.get, tasks.get)
    }
    if (confKey == "-") {
      names.foreach { name =>
        time(name) // warmup
        val rs = (1 to reps).map(_ => time(name))
        // Per-rep structural counts: a rep perturbed by AQE
        // re-optimization or a listener race must be VISIBLE, not
        // silently reported as THE count (it was rs.last before).
        def cnt(f: ((Double, Int, Int, Int)) => Int): String = {
          val vs = rs.map(f)
          if (vs.distinct.size == 1) vs.head.toString else vs.mkString("|")
        }
        println(f"[probe] $name%-28s min=${rs.map(_._1).min}%.2f " +
          rs.map(r => f"${r._1}%.2f").mkString("(", " ", ")") +
          s"  jobs=${cnt(_._2)} stages=${cnt(_._3)} tasks=${cnt(_._4)}")
      }
      spark.stop(); return
    }
    names.foreach { name =>
      // warmup both arms
      spark.conf.set(confKey, "false"); time(name)
      spark.conf.set(confKey, "true"); time(name)
      val pairs = (1 to reps).map { _ =>
        spark.conf.set(confKey, "false")
        val off = time(name)._1
        spark.conf.set(confKey, "true")
        val on = time(name)._1
        (off, on)
      }
      val offs = pairs.map(_._1); val ons = pairs.map(_._2)
      println(f"[ab] $name%-28s $confKey=false min=${offs.min}%.2f ${offs.map(v => f"$v%.2f").mkString("(", " ", ")")}  " +
        f"true min=${ons.min}%.2f ${ons.map(v => f"$v%.2f").mkString("(", " ", ")")}  " +
        f"paired-delta median=${pairs.map(p => p._2 - p._1).sorted.apply(reps / 2)}%+.2f")
    }
    spark.stop()
  }
}
