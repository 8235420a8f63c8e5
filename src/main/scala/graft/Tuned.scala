package graft

import org.apache.spark.sql.SparkSession

/** r20 session tuning shared by every bundled main (Bench, Verify,
  * Lab, Explain, NoFallback, Stress — through [[Harness.session]]) and
  * by perfbench. Purely PHYSICAL
  * settings — none of them can change a query's rows, only its
  * schedule — measured on the full 372-query bench (OPTIMIZATION_r20):
  *
  *  - `coalescePartitions.parallelismFirst=false` +
  *    `advisoryPartitionSizeInBytes`: respect the byte-size target
  *    when AQE coalesces post-shuffle partitions instead of padding
  *    partition count up to the local core count (the Spark docs
  *    themselves recommend `false`; partition count then DERIVES from
  *    data size — the scale-adaptive contract of guide §2.2). The
  *    advisory default here is 4m: the bench fixture's mid-size
  *    shuffles are MBs and CPU-dense (minhash/window/funnel states),
  *    so the production 64–256m advisory serializes them locally; at
  *    real scale set `-Dspark.sql.adaptive.advisoryPartitionSizeInBytes=256m`
  *    (any -D overrides these defaults — they are set only when absent).
  *  - `codegen.cache.maxEntries=100000` (default 100): a session that
  *    runs hundreds of DISTINCT queries evicts every generated class
  *    before it re-runs, so each re-run pays full Janino compilation;
  *    the class cache is the cheap fix (a few hundred MB ceiling at
  *    this entry count, measured far below).
  *
  * Applied as BUILDER configs only when the same key is not already
  * supplied via system property (`SPARK_GRAFT_JAVA_OPTS` passthrough)
  * so conf A/Bs and production overrides keep working unchanged.
  */
object Tuned {
  val defaults: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m",
    "spark.sql.codegen.cache.maxEntries" -> "100000",
    // guide §3.1/§9: let the planner pick shuffled-hash over
    // sort-merge when a build side fits; the AQE threshold bounds the
    // per-partition build map (no unbounded hash build at any scale).
    // A/B on the join-heavy bench subset: neutral-to-better
    // everywhere, ~2× on tpch_q17/q20 (sort of both big sides gone).
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")

  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    defaults.foreach { case (k, v) =>
      if (!sys.props.contains(k)) b.config(k, v)
    }
    b
  }
}
