package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Best-of-2 timings per query; a query is `ok` only if BOTH runs
    * succeed. Separated from main so BenchSpec can inject a broken
    * query and assert the failure surfaces (r11 shipped a bench whose
    * rc=0 total silently absorbed 24 analysis failures).
    */
  def runAll(spark: SparkSession, sfDir: String,
             queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      : Seq[(String, Double, Boolean)] = {
    // noop sink forces full evaluation of every projected column
    // (count() would let Catalyst prune unreferenced expressions).
    def run(name: String): Option[Throwable] =
      try {
        queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case t: Throwable => Some(t) }
    // Untimed warmup: pay JVM classloading + codegen once, outside the
    // timed loop, so per-query numbers are round-comparable. One query
    // per heavyweight codegen family (scan+agg, grouping sets, window):
    // a cold grouping-sets plan alone costs ~5 s of generated-class
    // compilation that otherwise lands on the first timed run.
    Seq("q1_flagship", "agg_rollup", "window_rank")
      .filter(queries.contains).foreach(run)
    // Best-of-2 per query, taken across TWO FULL SWEEPS rather than
    // back-to-back (r17 verdict "what's wrong" #2: the official number
    // was hostage to run ordering under drifting host load). Same
    // total executions as adjacent best-of-2, but a query's two
    // samples are now minutes apart, so a sustained load spike lands
    // on at most ONE of them — this IS the run-level min-of-2
    // protocol, inside a single driver invocation. Codegen/data
    // caches are warm either way; plans are rebuilt per run.
    val names = queries.keys.toSeq.sorted
    def sweep(): Map[String, (Double, Option[Throwable])] = names.map { name =>
      val t0 = System.nanoTime()
      val err = run(name)
      name -> (((System.nanoTime() - t0) / 1e9, err))
    }.toMap
    val s1 = sweep()
    val s2 = sweep()
    names.map { name =>
      val (t1, e1) = s1(name)
      val (t2, e2) = s2(name)
      // the failure keeps its cause; the JSON line stays unchanged
      e1.orElse(e2).foreach(e =>
        Console.err.println(s"Bench: $name failed: ${cause(e)}"))
      (name, math.min(t1, t2), e1.isEmpty && e2.isEmpty)
    }
  }

  /** Exception class and the first line of its message. */
  private def cause(e: Throwable): String = e.getClass.getName +
    Option(e.getMessage).flatMap(_.linesIterator.nextOption()).fold("")(": " + _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The prescribed bench environment is local[32] with 32 shuffle
    // partitions (single JVM, 32 executor threads).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = runAll(spark, sfDir, SparkEntry.queries)
    val qs = results.map { case (k, v, _) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => s""""$k"""" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // total appears at BOTH ends of the line: tooling that keeps only
    // the head or only the tail of a long line still sees it (r5
    // verdict had to reconstruct totals from truncated JSON tails).
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failed,"queries":$qs,"sf":"$sfDir","total_sec":$total}"""
    println(line)
    // Persist the FULL line for round-over-round per-query comparison:
    // the driver's BENCH_rN.json keeps only a 2000-char tail, so
    // without this only the alphabetical tail of the query list has
    // history and per-query noise claims stay hand-waved
    // (tools/bench_band.py reads these). Best-effort: bench results
    // must never depend on local filesystem writability.
    try {
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "bench_history"))
      java.nio.file.Files.createDirectories(dir)
      // nanoTime suffix: two runs in the same SECOND must not
      // overwrite each other's history entry (r17 ADVICE)
      val stamp = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd_HHmmss").format(java.time.LocalDateTime.now()) +
        "_" + java.lang.Long.toHexString(System.nanoTime())
      java.nio.file.Files.write(dir.resolve(s"bench_$stamp.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
    // A failing query must turn the WHOLE bench red: r11's init break
    // made 24 queries "run" in 0.02 s (analysis failure) and the rc=0
    // total read as a speedup. Nonzero rc makes that impossible.
    if (results.exists(!_._3)) {
      Console.err.println(
        s"Bench: ${results.count(!_._3)} quer(ies) FAILED — see \"failed\" in the JSON line")
      sys.exit(1)
    }
  }
}
