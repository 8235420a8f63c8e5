package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan audit: runs each declared query the way Bench does (a noop
  * write at harness parallelism) and prints the plan that ran — the
  * FINAL adaptive plan, after AQE re-planned each stage — under the
  * red-flag counts that keep plans scale-safe: hash/range shuffles,
  * broadcasts, BroadcastNestedLoopJoin (all-pairs — only acceptable
  * for bounded broadcast-scalar demonstrators) and single-partition
  * exchanges (a global serial point — only acceptable on bounded
  * aggregated series or final scalar folds).
  *
  * Usage: runMain graft.Explain [--out <dir> <suffix>] <sfDir> [query...]
  * (no names = all). `--out` also writes each query's formatted final
  * plan to `<dir>/<query><suffix>.txt`, the optimization rounds'
  * before/after plan evidence (plans/r19/, plans/r20/).
  */
object Explain {

  /** Count EXECUTED operator instances, not textual occurrences: a
    * persisted subtree's defining plan prints once per
    * InMemoryTableScan reference (with fresh expr ids, so line-dedup
    * can't fix it) but runs ONCE — walk the tree and descend into
    * each cached relation exactly once (identity-keyed on the shared
    * cacheBuilder: each reference holds its own InMemoryRelation COPY
    * with fresh output attrs, but they all share the builder that
    * materializes the RDD once). Shared by this audit and the STRESS
    * exchange counter (r15 — STRESS used a raw regex before, which
    * double-counted persisted lineage per reference).
    */
  def executedNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = new java.util.IdentityHashMap[AnyRef, AnyRef]()
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case t: InMemoryTableScanExec =>
          if (seen.put(t.relation.cacheBuilder, t.relation.cacheBuilder) == null)
            walk(t.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec =>
          walk(a.executedPlan) // AQE root/cached-plan wrapper has no children
        case q: QueryStageExec =>
          // AFTER execution AQE seals each stage behind a LEAF wrapper —
          // descend into the materialized stage plan (once per stage;
          // a reused stage shares the identical plan object)
          if (seen.put(q.plan, q.plan) == null) walk(q.plan)
        case r: ReusedExchangeExec =>
          if (seen.put(r.child, r.child) == null) walk(r.child)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  /** Executed exchange count (shuffle + broadcast) for one frame —
    * the STRESS.md "exchanges" column since r15.
    */
  def executedExchanges(df: DataFrame): Int =
    executedNodes(df.queryExecution.executedPlan).count {
      case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
      case _ => false
    }

  /** The plan that ran, with its red-flag counts. */
  final case class Audit(plan: SparkPlan, shuffles: Int, broadcasts: Int,
      bnlj: Int, singlePartition: Int) {
    def counts: String = s"shuffles=$shuffles broadcasts=$broadcasts " +
      s"bnlj=$bnlj single_partition=$singlePartition"
  }

  def audit(plan: SparkPlan): Audit = {
    val ns = executedNodes(plan)
    Audit(plan,
      shuffles = ns.count {
        case s: ShuffleExchangeExec => s.outputPartitioning match {
          case _: HashPartitioning | _: RangePartitioning => true
          case _ => false
        }
        case _ => false
      },
      broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeExec]),
      bnlj = ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      singlePartition = ns.count {
        case s: ShuffleExchangeExec => s.outputPartitioning == SinglePartition
        case _ => false
      })
  }

  /** Runs `df` through [[Harness.force]] and returns the execution that
    * ran it, reported by a listener on the noop write: its executed
    * plan is the write over the query's final plan.
    */
  def run(spark: SparkSession, df: DataFrame): QueryExecution = {
    val ran = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) ran.put(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Harness.force(df)
      Option(ran.poll(60, TimeUnit.SECONDS)).getOrElse(
        throw new IllegalStateException("the noop write reported no execution"))
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val (outDir, suffix, rest) = args.headOption match {
      case Some("--out") => (Some(args(1)), args(2), args.drop(3))
      case _ => (None, "", args)
    }
    val sfDir = if (rest.nonEmpty) rest(0) else "/root/testdata/sf0.001"
    val names = if (rest.length > 1) rest.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    names.foreach { n =>
      println(s"==== $n ====")
      try {
        val qe = run(spark, SparkEntry.queries(n)(spark, sfDir))
        val a = audit(qe.executedPlan.asInstanceOf[V2TableWriteExec].query)
        println(a.counts)
        println(a.plan)
        outDir.foreach { d =>
          val dir = java.nio.file.Paths.get(d)
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.write(dir.resolve(s"$n$suffix.txt"),
            qe.explainString(ExplainMode.fromString("formatted")).getBytes("UTF-8"))
        }
      } catch { case e: Throwable =>
        failed += 1
        println(s"FAILED ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
