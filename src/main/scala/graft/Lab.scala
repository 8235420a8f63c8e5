package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Measurement harness for the optimization rounds: runs named queries
  * N times each with a job-count listener, so per-call cost splits into
  * front-door build (rewrite + analysis), execution (noop write) and
  * jobs launched — the attribution that located sql_ch_parametric's
  * ObjectHashAggregate cost and the CC loop's per-round persist/count
  * jobs. Not part of the `SparkEntry` contract. A conf A/B goes through
  * `SPARK_GRAFT_JAVA_OPTS="-Dk=v"`, which wins over every harness
  * setting.
  *
  * Usage: runMain graft.Lab <sfDir> <rounds> <query...|ALL>
  */
object Lab {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rounds = args(1).toInt
    // "ALL" sweeps every declared query once — full-floor attribution
    val names =
      if (args.drop(2).toSeq == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    Harness.warmup(spark, sfDir)
    var buildTot = 0.0; var execTot = 0.0; var jobsTot = 0L
    for (n <- names; i <- 1 to rounds) {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val t1 = System.nanoTime()
      Harness.force(df)
      val t2 = System.nanoTime()
      Thread.sleep(50) // let async listener events drain
      val b = (t1 - t0) / 1e9; val e = (t2 - t1) / 1e9
      buildTot += b; execTot += e; jobsTot += jobs.get() - j0
      println(f"LAB $n round $i build=$b%.3f s " +
        f"exec=$e%.3f s jobs=${jobs.get() - j0}")
    }
    println(f"LABTOTAL n=${names.size * rounds} build=$buildTot%.2f s " +
      f"exec=$execTot%.2f s jobs=$jobsTot")
    spark.stop()
  }
}
