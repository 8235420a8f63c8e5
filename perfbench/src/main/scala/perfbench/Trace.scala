package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One timed interval, epoch milliseconds. `op` is the operation it
  * belongs to, or -1 until it is matched to one by time.
  */
final case class Span(op: Long, layer: String, start: Long, end: Long) {
  def ms: Long = end - start
}

/** Counts Spark reports for one operation. */
final class OpCounters {
  var jobs, stages, tasks, delayMs, taskMs, runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, shuffleRecords, fetchWaitMs = 0L
  var spillMem, spillDisk, scanBytes, scanRows = 0L
  var codegenNs, codegenCount, outRows, outBytes = 0L
}

/** The benchmark's trace: spans it records around each call into a
  * layer, plus Spark's own events as child spans. Jobs, stages and
  * tasks reach an operation through the `perfbench.op` local property;
  * planning phases, which carry no properties, are matched to the
  * operation whose interval holds them (the client is single and
  * closed-loop, so operations never overlap). Everything stays in
  * memory until the run ends.
  *
  * Attach and detach bracket the traced operations; operations run
  * while detached are the untraced twins `trace.overhead_frac` compares
  * against.
  */
final class Trace(spark: SparkSession) {
  private val OpKey = "perfbench.op"
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.Map[Long, OpCounters]()
  private val results = mutable.ArrayBuffer[(Long, Long)]() // (planned ms, rows)
  private var nextOp = 0L
  private var attached = false
  /** Set while a workload's first (cold) pass runs; its operations are
    * summarized apart from the warm ones.
    */
  var cold = false

  private def c(op: Long): OpCounters = counters.synchronized(
    counters.getOrElseUpdate(op, new OpCounters))
  private def add(s: Span): Unit = spans.synchronized(spans += s)

  private def opOf(p: java.util.Properties): Long =
    Option(p).flatMap(q => Option(q.getProperty(OpKey))).map(_.toLong).getOrElse(-1L)

  private object listener extends SparkListener {
    private val stageOp = mutable.Map[Int, Long]()
    private val stageSubmit = mutable.Map[Int, Long]()
    private val stageStarted = mutable.Set[Int]()
    private val jobs = mutable.Map[Int, (Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      if (op >= 0) {
        c(op).jobs += 1
        jobs(e.jobId) = (op, e.time)
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (op, t0) => add(Span(op, "job", t0, e.time)) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      val op = stageOp.getOrElse(id, opOf(e.properties))
      if (op >= 0) {
        stageOp(id) = op
        c(op).stages += 1
        stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      if (stageStarted.add(e.stageId))
        for (op <- stageOp.get(e.stageId); t0 <- stageSubmit.get(e.stageId))
          c(op).delayMs += math.max(0L, e.taskInfo.launchTime - t0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { op =>
        val k = c(op)
        k.tasks += 1
        k.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          k.runMs += m.executorRunTime
          k.cpuNs += m.executorCpuTime
          k.gcMs += m.jvmGCTime
          k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          k.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          k.spillMem += m.memoryBytesSpilled
          k.spillDisk += m.diskBytesSpilled
          k.scanBytes += m.inputMetrics.bytesRead
          k.scanRows += m.inputMetrics.recordsRead
          k.outRows += m.outputMetrics.recordsWritten
          k.outBytes += m.outputMetrics.bytesWritten
        }
      }
  }

  private object queries extends QueryExecutionListener {
    private val layers = Seq(
      "analysis" -> "plan.analysis", "optimization" -> "plan.optimize",
      "planning" -> "plan.physical")
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      for ((phase, layer) <- layers; p <- ph.get(phase))
        add(Span(-1, layer, p.startTimeMs, p.endTimeMs))
      // listener events arrive after the fact: date the result by its
      // last planning phase, which ran inside the operation. A command
      // reports twice (the command, returning no rows, and the query it
      // ran); an operation's result is its largest row count.
      if (ph.nonEmpty) {
        val at = ph.values.map(_.endTimeMs).max
        results.synchronized(results += ((at, outputRows(qe.executedPlan))))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Rows the plan returned: the output count of its topmost operator
    * that counts rows (a write command's input, for a sink).
    */
  private def outputRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case w: V2TableWriteExec => outputRows(w.query)
    case q: QueryStageExec => outputRows(q.plan)
    case _ => p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(p.children.headOption.map(outputRows).getOrElse(0L))
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queries)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queries)
    attached = false
  }

  def isAttached: Boolean = attached

  /** Runs `body` as one operation. Spark work it starts carries the
    * operation's id; codegen compile time and count are read around it.
    * Returns the body's value and the operation's latency in ms.
    */
  def op[T](kind: String)(body: => T): (T, Double) = {
    val id = nextOp
    nextOp += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, id.toString)
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - n0) / 1e6)
    } finally {
      sc.setLocalProperty(OpKey, null)
      if (attached) {
        val k = c(id)
        k.codegenNs += CodeGenerator.compileTime - cg0
        k.codegenCount += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
        add(Span(id, (if (cold) "op:cold:" else "op:") + kind, t0, System.currentTimeMillis()))
      }
    }
  }

  /** Times `body` as a span of `layer` inside the current operation. */
  def span[T](layer: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally if (attached) add(Span(-1, layer, t0, System.currentTimeMillis()))
  }

  /** Per-layer figures over the traced operations, after every event
    * has arrived: means per warm operation, and the same figures over the
    * cold (first-pass) operations under a `cold.` prefix.
    */
  def summary(cores: Int): Map[String, Double] = {
    if (attached) PerfbenchBus.drain(spark.sparkContext)
    val all = spans.synchronized(spans.toVector)
    val roots = all.filter(_.layer.startsWith("op:")).sortBy(_.start)
    val starts = roots.map(_.start).toArray
    def owner(t: Long): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, t)
      val j = if (i >= 0) i else -i - 2
      if (j >= 0 && t <= roots(j).end) Some(roots(j)) else None
    }
    val byOp: Map[Long, Vector[Span]] = all.filterNot(_.layer.startsWith("op:"))
      .flatMap(s => if (s.op >= 0) Some(s) else owner(s.start).map(r => s.copy(op = r.op)))
      .groupBy(_.op)
    val rows: Map[Long, Long] = results.synchronized(results.toVector)
      .flatMap { case (t, n) => owner(t).map(r => (r.op, t, n)) }
      .groupBy(_._1).map { case (op, xs) => op -> xs.map(_._3).max }
    val (coldRoots, warmRoots) = roots.partition(_.layer.startsWith("op:cold:"))
    val warm = layers(warmRoots, byOp, rows, cores)
    val cold = layers(coldRoots, byOp, rows, cores)
    warm ++ Trace.coldLayers.map(k => s"cold.$k" -> cold(k))
  }

  private def layers(roots: Vector[Span], byOp: Map[Long, Vector[Span]],
                     rows: Map[Long, Long], cores: Int): Map[String, Double] = {
    val n = math.max(roots.size, 1).toDouble
    val wall = roots.map(_.ms).sum.toDouble
    val kids = roots.map(r => r -> byOp.getOrElse(r.op, Vector.empty))
    def layerMs(l: String) = kids.flatMap(_._2).filter(_.layer == l).map(_.ms).sum / n
    // Leaf layers: planning phases and Spark jobs. The part of an
    // operation none of them covers is driver work no layer names yet.
    val leaf = Set("plan.analysis", "plan.optimize", "plan.physical", "job")
    val uncovered = kids.map { case (r, ks) => r.ms - Trace.covered(ks.filter(s => leaf(s.layer)), r) }.sum
    val noJob = kids.map { case (r, ks) => r.ms - Trace.covered(ks.filter(_.layer == "job"), r) }.sum
    val buildJobs = kids.map { case (_, ks) =>
      val b = ks.filter(_.layer == "build")
      ks.count(j => j.layer == "job" && b.exists(x => j.start >= x.start && j.start <= x.end))
    }.sum
    val ks = roots.flatMap(r => counters.get(r.op))
    def sum(f: OpCounters => Long) = ks.map(f).sum.toDouble
    val resultRows = roots.flatMap(r => rows.get(r.op)).sum.toDouble
    def kind(k: String) = roots.filter(r => r.layer.stripPrefix("op:").stripPrefix("cold:") == k)
    Map(
      "build.ms" -> layerMs("build"),
      "build.jobs" -> buildJobs / n,
      "chsql.run_ms" -> layerMs("chsql"),
      "plan.analysis_ms" -> layerMs("plan.analysis"),
      "plan.optimize_ms" -> layerMs("plan.optimize"),
      "plan.physical_ms" -> layerMs("plan.physical"),
      "codegen.compile_ms" -> sum(_.codegenNs) / 1e6 / n,
      "codegen.compiles" -> sum(_.codegenCount) / n,
      "sched.jobs" -> sum(_.jobs) / n,
      "sched.stages" -> sum(_.stages) / n,
      "sched.tasks" -> sum(_.tasks) / n,
      "sched.delay_ms" -> sum(_.delayMs) / n,
      "driver.only_ms" -> noJob / n,
      "exec.run_ms" -> sum(_.runMs) / n,
      "exec.cpu_ms" -> sum(_.cpuNs) / 1e6 / n,
      "exec.gc_ms" -> sum(_.gcMs) / n,
      "exec.busy_frac" -> (if (wall > 0) sum(_.taskMs) / (wall * cores) else 0.0),
      "shuffle.write_bytes" -> sum(_.shuffleWrite) / n,
      "shuffle.read_bytes" -> sum(_.shuffleRead) / n,
      "shuffle.records" -> sum(_.shuffleRecords) / n,
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs) / n,
      "spill.mem_bytes" -> sum(_.spillMem) / n,
      "spill.disk_bytes" -> sum(_.spillDisk) / n,
      "scan.bytes" -> sum(_.scanBytes) / n,
      "scan.rows" -> sum(_.scanRows) / n,
      "scan.rows_per_result_row" -> (if (resultRows > 0) sum(_.scanRows) / resultRows else 0.0),
      "trace.unattributed_frac" -> (if (wall > 0) uncovered / wall else 0.0),
      "mut.rows_written" -> sum(_.outRows),
      "mut.bytes_written" -> sum(_.outBytes),
      "ops.cc_jobs" -> {
        val cc = kind("cc").flatMap(r => counters.get(r.op))
        if (cc.isEmpty) 0.0 else cc.map(_.jobs).sum.toDouble / cc.size
      }) ++
      Trace.stages.map { st =>
        val rs = kind(st)
        s"ops.${st}_s" -> (if (rs.isEmpty) 0.0 else rs.map(_.ms).sum / 1000.0 / rs.size)
      }
  }
}

object Trace {
  /** Dedup pipeline stages; each runs as its own operation. */
  val stages: Seq[String] = Seq("exact", "minhash", "lsh", "cc", "semdedup", "substring")

  /** Layers reported for the cold pass too: the ones a first execution
    * pays for and a warm one mostly does not.
    */
  val coldLayers: Seq[String] = Seq(
    "build.ms", "plan.analysis_ms", "codegen.compile_ms", "codegen.compiles",
    "sched.jobs", "driver.only_ms", "exec.run_ms", "scan.bytes")

  /** Milliseconds of `root` covered by the union of `kids`. */
  def covered(kids: Seq[Span], root: Span): Long = {
    var total = 0L
    var cur = root.start
    for (s <- kids.sortBy(_.start)) {
      val a = math.max(s.start, cur)
      val b = math.min(s.end, root.end)
      if (b > a) { total += b - a; cur = b }
    }
    total
  }
}
