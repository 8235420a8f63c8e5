package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: builds the session, runs one workload
  * as a single closed-loop client for a fixed time, checks what it can
  * check in-process, and writes a JSON report for `run.py`.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <cores> <fixture dir> <work dir> <report file> [corpus dir]
  */
object Main {
  /** Warm passes run before `retained_mb` is read; at least this many run. */
  val RetainedAfter = 2

  final case class Failure(op: String, cls: String, message: String)

  /** What a workload hands back; `run.py` turns it into the result line. */
  final class Report {
    var attempted = 0L
    val failures = mutable.ArrayBuffer[Failure]()
    val reads = mutable.ArrayBuffer[mutable.ArrayBuffer[Double]]() // ms, per warm pass
    val writes = mutable.ArrayBuffer[Double]() // ms
    val sweeps = mutable.ArrayBuffer[Double]() // s
    val cold = mutable.ArrayBuffer[Double]()   // ms, first executions
    val coldSweeps = mutable.ArrayBuffer[Double]() // s
    val dedupSweeps = mutable.ArrayBuffer[Double]() // s, cold first
    val traced = mutable.ArrayBuffer[Double]()
    val untraced = mutable.ArrayBuffer[Double]()
    val byOp = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]() // cold first
    val extra = mutable.LinkedHashMap[String, Double]()
    val setup = mutable.LinkedHashMap[String, Double]()
    var oracle: Seq[String] = Nil
    var retainedMb = 0.0

    def fail(op: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
      failures += Failure(op, e.getClass.getName, msg.take(400))
    }
    def wrong(op: String, what: String): Unit = failures += Failure(op, "WrongResult", what)
  }

  final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
                       traced: Boolean, cores: Int, fixture: String, work: Path,
                       corpus: String, rep: Report) {
    val rng = new Random(seed)
    /** True during the first pass of a workload: every operation in it
      * is the first of its kind in this JVM and session.
      */
    def cold: Boolean = trace.cold
    /** Records an operation's latency under its name. */
    def record(name: String, ms: Double): Unit =
      rep.byOp.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += ms
    /** Records a read operation's latency. */
    def read(name: String, ms: Double): Unit = {
      (if (cold) rep.cold else rep.reads.last) += ms
      record(name, ms)
    }
    def writes: mutable.Buffer[Double] = if (cold) mutable.Buffer.empty else rep.writes

    /** The workload's first pass, traced in traced runs. `body` returns
      * the pass's wall time in seconds.
      */
    def coldPass(body: => Double): Unit = {
      if (traced) trace.attach()
      trace.cold = true
      try rep.coldSweeps += body
      finally trace.cold = false
    }

    /** Warm pass `i`; traced runs trace the odd ones, so the even ones
      * after them give the untraced twin for `trace.overhead_frac`. The
      * first warm pass, still JIT warm-up, counts for neither. After pass
      * [[Main.RetainedAfter]] the memory the session holds is read: late
      * enough for growth over warm passes to show, after a fixed amount of
      * work rather than at the end of a timed phase whose length varies.
      */
    def warmPass(i: Int)(body: => Double): Unit = {
      val on = i % 2 == 1
      if (traced && on) trace.attach() else trace.detach()
      rep.reads += mutable.ArrayBuffer[Double]()
      val v = body
      rep.sweeps += v
      if (traced && i > 0) (if (on) rep.traced else rep.untraced) += v
      if (i + 1 == RetainedAfter) {
        val (heapMb, mem, disk, _) = retained(spark)
        rep.retainedMb = heapMb + (mem + disk) / 1e6
        rep.extra ++= Seq("retained.heap_mb" -> heapMb, "retained.storage_mem_mb" -> mem / 1e6,
          "retained.storage_disk_mb" -> disk / 1e6)
      }
    }

    private var untimedNs = 0L
    /** Runs `body` inside a pass but outside its timing: [[timed]]
      * leaves its wall time out.
      */
    def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally untimedNs += System.nanoTime() - t0
    }
    /** Wall seconds of `body`, less what ran [[untimed]] inside it. */
    def timed(body: => Unit): Double = {
      val (t0, u0) = (System.nanoTime(), untimedNs)
      body
      (System.nanoTime() - t0 - (untimedNs - u0)) / 1e9
    }

    private var warmStart = 0L
    /** Warm passes continue until the run's time is spent, counted from
      * the first warm pass, and at least [[Main.RetainedAfter]] have run
      * (one more when traced, to end on an untraced pass).
      */
    def more(i: Int): Boolean = {
      if (i == 0) warmStart = System.nanoTime()
      i < RetainedAfter + (if (traced) 1 else 0) ||
        (System.nanoTime() - warmStart) / 1e9 < seconds
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secS, traceS, coresS, fixture, workS, out) = args.take(8)
    val corpus = args.lift(8).getOrElse("")
    val cores = coresS.toInt
    val work = Paths.get(workS)
    val rep = new Report
    val t0 = System.nanoTime()
    val spark = graft.Tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rep.setup("setup.session_s") = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark)
    val ctx = Ctx(spark, trace, seedS.toLong, secS.toDouble, traceS == "1", cores,
      fixture, work, corpus, rep)
    try {
      val t1 = System.nanoTime()
      graft.Tables.names.foreach(t => graft.Tables(spark, fixture, t))
      val t2 = System.nanoTime()
      graft.Graft.init(spark, fixture)
      rep.setup("tables.load_ms") = (t2 - t1) / 1e6
      rep.setup("setup.init_s") = (System.nanoTime() - t2) / 1e9
      workload match {
        case "corpus" => Corpus.run(ctx)
        case "pipeline" => Pipeline.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      trace.detach()
      val layers = if (ctx.traced) trace.summary(cores) else Map.empty[String, Double]
      Files.writeString(Paths.get(out), report(ctx, layers))
    } finally spark.stop()
  }

  /** Heap in use after forced collections (MB), Spark storage held in
    * memory and on disk (bytes), and the count of persisted RDDs. Spark's
    * ContextCleaner frees shuffle and broadcast state asynchronously once a
    * collection finds it unreachable, so three collections a second apart
    * are made; a single one read up to 200 MB more, varying run to run.
    */
  def retained(spark: SparkSession): (Double, Double, Double, Int) = {
    for (i <- 0 until 3) { if (i > 0) Thread.sleep(1000); System.gc() }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed.toDouble
    val infos = spark.sparkContext.getRDDStorageInfo
    val mem = infos.map(_.memSize).sum.toDouble
    val disk = infos.map(_.diskSize).sum.toDouble
    (heap / 1e6, mem, disk, spark.sparkContext.getPersistentRDDs.size)
  }

  private def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
  }

  private def report(ctx: Ctx, layers: Map[String, Double]): String = {
    val r = ctx.rep
    val rt = Runtime.getRuntime
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.driver.port",
      "spark.executor.extraJavaOptions", "spark.driver.extraJavaOptions")
    val conf = ctx.spark.sparkContext.getConf.getAll.toSeq.filterNot(kv => volatile(kv._1)) ++
      graft.Tuned.defaults.map { case (k, _) => k -> ctx.spark.conf.get(k) }
    val env = Map[String, Any](
      "nproc" -> rt.availableProcessors, "master" -> s"local[${ctx.cores}]",
      "heap_max_mb" -> rt.maxMemory / 1048576, "java" -> System.getProperty("java.version"),
      "spark" -> ctx.spark.version, "conf" -> mutable.TreeMap(conf: _*))
    def cache = {
      val (heapMb, mem, disk, persisted) = retained(ctx.spark)
      Map("cache.persisted_rdds" -> persisted.toDouble,
        "cache.mem_bytes" -> mem, "cache.disk_bytes" -> disk,
        "jvm.gc_ms" -> gcMs, "jvm.heap_after_gc_mb" -> heapMb)
    }
    Json.obj(
      "attempted" -> r.attempted,
      "failures" -> r.failures.map(f => Map("op" -> f.op, "class" -> f.cls, "message" -> f.message)),
      "reads_ms" -> r.reads, "writes_ms" -> r.writes, "sweeps_s" -> r.sweeps,
      "cold_ms" -> r.cold, "cold_sweeps_s" -> r.coldSweeps, "by_op_ms" -> r.byOp,
      "dedup_sweeps_s" -> r.dedupSweeps,
      "traced" -> r.traced, "untraced" -> r.untraced,
      "setup" -> r.setup, "extra" -> r.extra,
      "retained_mb" -> r.retainedMb,
      "layers" -> (if (ctx.traced) layers ++ cache else Map.empty[String, Double]),
      "oracle" -> r.oracle, "env" -> env)
  }
}

/** Minimal JSON writer for the report. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
  def obj(kv: (String, Any)*): String = apply(mutable.LinkedHashMap(kv: _*))
}

/** The closed loop shared by the workloads. */
object Loop {
  /** Runs `op` once, recording a failure instead of throwing. */
  def attempt[T](ctx: Main.Ctx, name: String)(op: => T): Option[T] = {
    ctx.rep.attempted += 1
    try Some(op)
    catch { case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[LinkageError] =>
      ctx.rep.fail(name, e)
      None
    }
  }
}
