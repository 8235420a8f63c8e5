package graft

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Explain audits the plan that ran, not the one planned before it. */
class ExplainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the audit reads the final adaptive plan of the noop write") {
    val df = SparkEntry.queries("tpch_q3_shipping")(spark, "/root/testdata/sf0.001")
    val qe = Explain.run(spark, df)
    val plan = qe.executedPlan.asInstanceOf[V2TableWriteExec].query
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(plan.toString.linesIterator.next() == "AdaptiveSparkPlan isFinalPlan=true")
    val ns = Explain.executedNodes(plan)
    assert(ns.exists(_.isInstanceOf[QueryStageExec]), "the walk crosses the run stages")
    val parts = ns.collect { case s: ShuffleExchangeExec => s.outputPartitioning }
    val a = Explain.audit(plan)
    assert(a.shuffles == parts.count {
      case _: HashPartitioning | _: RangePartitioning => true
      case _ => false
    })
    assert(a.singlePartition == parts.count(_ == SinglePartition))
    assert(a.broadcasts == ns.count(_.isInstanceOf[BroadcastExchangeExec]))
    assert(a.bnlj == ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    assert(a.shuffles + a.broadcasts > 0, "a three-table join runs exchanges")
  }
}
