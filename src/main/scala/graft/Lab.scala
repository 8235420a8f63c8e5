package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Scratch measurement harness for the optimization rounds: runs one
  * named query N times with a job-count listener so per-call cost can
  * be split into (jobs launched, wall seconds). Not part of the
  * driver contract; used to attribute iterative-operator overhead
  * (e.g. the CC loop's per-round persist/count jobs).
  *
  * Usage: runMain graft.Lab <sfDir> <rounds> <query...>
  */
object Lab {
  /** `k=v;k=v` → (k, v) pairs; an entry without `=` is refused by name. */
  private[graft] def confPairs(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k, v)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_LAB_CONF entry '$kv' is not key=value")
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rounds = args(1).toInt
    // "ALL" sweeps every declared query once — full-floor attribution
    val names =
      if (args.drop(2).toSeq == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = Tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // conf A/B hook: SPARK_GRAFT_LAB_CONF="k=v;k=v" layered on top
    sys.env.get("SPARK_GRAFT_LAB_CONF").foreach(confPairs(_).foreach {
      case (k, v) => builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    // warmup
    SparkEntry.queries("q1_flagship")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    var buildTot = 0.0; var execTot = 0.0; var jobsTot = 0L
    for (n <- names; i <- 1 to rounds) {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
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
